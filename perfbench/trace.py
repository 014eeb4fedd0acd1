"""Spans around the engine's public functions, Spark stage metrics per
span, and the per-layer ledger.

The benchmark wraps module attributes from here; no engine file changes.
Each span sets the Spark job group of the calling thread to its own id,
so every job - and through it every stage - is attributed to the
innermost active span. Stage metrics are read once at the end from the
application status store (the store behind the REST API). Spans stay in
memory until then.

Two things are checked against Spark's own records, since the ledger is
only as good as its attribution: every job submitted while a traced op
ran carries a span's job group (no untraced jobs), and every job's
submission time lies inside the span its group names (no misattributed
jobs).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench-span-"
#: slack when matching a job's submission time (the JVM's clock, in
#: milliseconds) with a span's window (Python's clock)
CLOCK_SLACK_MS = 5.0
_PYTHON_OPS = ("InPandas", "InArrow", "ArrowEvalPython", "BatchEvalPython")
STAGE_FIELDS = (
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "input_records", "output_bytes", "spill_bytes", "tasks",
)


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.jobs: list[tuple[int | None, float]] = []  # (span id, submitted ms)

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": parent["id"] if parent else None,
            "phase": phase or (parent["phase"] if parent else None),
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start_ms"] = time.time() * 1e3
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_ms"] = time.time() * 1e3
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec: dict | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"{GROUP_PREFIX}{rec['id']}" if rec else None
        )

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``annotate(rec,
        args, kwargs, result)`` adds counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as rec:
                res = orig(*args, **kwargs)
                if annotate is not None:
                    annotate(rec, args, kwargs, res)
                return res

        setattr(owner, attr, traced)

    # -- Spark stage attribution ----------------------------------------
    def collect_stages(self) -> None:
        """Attach summed stage metrics to every span (own jobs only)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        graph = self.sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
        jobs = store.jobsList(None)
        owner: dict[int, tuple[int, int]] = {}  # stage -> (job id, span id)
        jobs_of: dict[int, int] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            sub = j.submissionTime()
            traced = not g.isEmpty() and g.get().startswith(GROUP_PREFIX)
            sid = int(g.get()[len(GROUP_PREFIX):]) if traced else None
            if not sub.isEmpty():
                self.jobs.append((sid, float(sub.get().getTime())))
            if not traced:
                continue
            jobs_of[sid] = jobs_of.get(sid, 0) + 1
            stages = j.stageIds()
            for k in range(stages.size()):
                st = stages.apply(k)
                # a stage reused by a later job ran under the first one
                if st not in owner or j.jobId() < owner[st][0]:
                    owner[st] = (j.jobId(), sid)
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s["spark"] = dict.fromkeys(STAGE_FIELDS, 0.0)
            s["spark"]["python_executor_run_s"] = 0.0
            s["spark"]["jobs"] = jobs_of.get(s["id"], 0)
        for st, (_, sid) in owner.items():
            if sid not in by_id:
                continue
            try:
                d = store.lastStageAttempt(st)
            except Py4JJavaError:  # never ran (skipped in every job)
                continue
            if d.status().toString() != "COMPLETE":
                continue
            m = by_id[sid]["spark"]
            run_s = d.executorRunTime() / 1e3
            m["executor_run_s"] += run_s
            m["executor_cpu_s"] += d.executorCpuTime() / 1e9
            m["shuffle_read_bytes"] += d.shuffleReadBytes()
            m["shuffle_write_bytes"] += d.shuffleWriteBytes()
            m["input_records"] += d.inputRecords()
            m["output_bytes"] += d.outputBytes()
            m["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            m["tasks"] += d.numTasks()
            dot = graph.makeDotFile(store.operationGraphForStage(st))
            if any(op in dot for op in _PYTHON_OPS):
                m["python_executor_run_s"] += run_s

    # -- derived span figures --------------------------------------------
    def finish(self) -> None:
        """Compute wall/self times and subtree sums of Spark figures."""
        kids: dict[int | None, list[dict]] = {}
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
            kids.setdefault(s["parent"], []).append(s)
        for s in reversed(self.spans):  # children before parents
            ch = kids.get(s["id"], [])
            s["self_s"] = s["wall_s"] - sum(c["wall_s"] for c in ch)
            tree = dict(s.get("spark", {}))
            for c in ch:
                for k, v in c["tree"].items():
                    tree[k] = tree.get(k, 0) + v
            s["tree"] = tree

    def job_attribution(self) -> dict:
        """Jobs submitted during a traced op without a span's job group
        (``untraced``), and jobs whose group names a span that was not
        running when they were submitted (``misattributed``)."""
        by_id = {s["id"]: s for s in self.spans}
        roots = [s for s in self.spans if s["parent"] is None]

        def inside(t, s):
            return s["start_ms"] - CLOCK_SLACK_MS <= t <= s["end_ms"] + CLOCK_SLACK_MS

        out = {"jobs": len(self.jobs), "untraced": 0, "misattributed": 0}
        for sid, t in self.jobs:
            if sid is None:
                out["untraced"] += any(inside(t, r) for r in roots)
            elif sid not in by_id or not inside(t, by_id[sid]):
                out["misattributed"] += 1
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


# -- annotations: counts read from the manifests the call just committed --
def _manifest(root: str, snap: str | None) -> dict:
    if not snap:
        return {}
    p = os.path.join(root, "_manifests", f"{snap}.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _manifest_bytes(rec, root, snap) -> None:
    if snap:
        rec["attrs"]["manifest_bytes"] = os.path.getsize(
            os.path.join(root, "_manifests", f"{snap}.json")
        )


def _ann_write_snapshot(rec, args, kwargs, snap):
    tio = args[0]
    m = _manifest(tio.root, snap)
    new = [p for p in m.get("partitions", {}).values() if p.get("path", "").startswith(f"{snap}/")]
    rec["attrs"]["files_written"] = sum(p["files"] for p in new)
    rec["attrs"]["bytes_written"] = sum(p["bytes"] for p in new)
    _manifest_bytes(rec, tio.root, snap)


def _ann_commit(rec, args, kwargs, snap):
    _manifest_bytes(rec, args[0].root, snap)


def _ann_read(rec, args, kwargs, df):
    tio = args[0]
    snap = args[2] if len(args) > 2 else kwargs.get("snapshot")
    m = tio.manifest(snap) or {}
    rec["attrs"]["files_opened"] = sum(p["files"] for p in m.get("partitions", {}).values())


def _ann_refresh_tier(rec, args, kwargs, res):
    m = _manifest(args[2], res["snapshot"] if res["processed"] else None)
    rows = m.get("metrics", {}).get("rollup_rows_by_day", {})
    rec["attrs"].update(
        source=kwargs.get("source", "raw"),
        days_planned=len(res["planned"]),
        days_processed=len(res["processed"]),
        rows_written=sum(rows.get(d, 0) for d in res["processed"]),
    )


def _ann_refresh_encoded(rec, args, kwargs, res):
    root = args[2]
    blocks = points = 0
    if res["processed"]:
        snap = res["snapshot"]
        enc = _manifest(root, snap).get("metrics", {}).get("encode_by_bucket", {})
        points = sum(enc[b]["points"] for b in res["processed"] if b in enc)
        for d, _, files in os.walk(os.path.join(root, snap)):
            blocks += sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in files if f.endswith(".parquet")
            )
    rec["attrs"].update(
        buckets_planned=len(res["planned"]),
        buckets_processed=len(res["processed"]),
        blocks=blocks,
        points=points,
    )


def _ann_expire(rec, args, kwargs, res):
    rec["attrs"]["days_dropped"] = len(res["dropped"])


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points (and the fingerprint helper
    whose cost is the incremental diff) at the module attributes that the
    engine and the benchmark call through."""
    from sfa_spark import encode, extract, incremental, pipeline, rollup, tableio
    from sfa_spark.operators import downsample
    from sfa_spark.transform import sfa_df

    T = tableio.TableIO
    tracer.wrap(T, "write_snapshot", "tableio.TableIO.write_snapshot", _ann_write_snapshot)
    tracer.wrap(T, "drop_partitions", "tableio.TableIO.drop_partitions", _ann_commit)
    tracer.wrap(T, "commit_metrics", "tableio.TableIO.commit_metrics", _ann_commit)
    tracer.wrap(T, "read", "tableio.TableIO.read", _ann_read)
    tracer.wrap(T, "gc_stale_staging", "tableio.TableIO.gc_stale_staging")
    tracer.wrap(incremental, "refresh_tier", "incremental.refresh_tier", _ann_refresh_tier)
    tracer.wrap(incremental, "refresh_encoded_tier", "incremental.refresh_encoded_tier", _ann_refresh_encoded)
    tracer.wrap(incremental, "expire_tier", "incremental.expire_tier", _ann_expire)
    tracer.wrap(incremental, "read_tier", "incremental.read_tier")
    tracer.wrap(incremental, "read_encoded_tier", "incremental.read_encoded_tier")
    tracer.wrap(incremental, "_day_fingerprints", "incremental._day_fingerprints")
    for owner in (incremental, rollup):
        tracer.wrap(owner, "rollup_tier", "rollup.rollup_tier")
        tracer.wrap(owner, "reaggregate", "rollup.reaggregate")
    tracer.wrap(rollup, "gap_fill_locf", "rollup.gap_fill_locf")
    tracer.wrap(encode, "encode_tier_blocks_gapfill", "encode.encode_tier_blocks_gapfill")
    tracer.wrap(encode, "decode_blocks", "encode.decode_blocks")
    for owner in (extract, pipeline):
        tracer.wrap(owner, "with_signals", "extract.with_signals")
    tracer.wrap(pipeline, "signals_long", "pipeline.signals_long")
    tracer.wrap(pipeline, "sfa_downsample_words", "pipeline.sfa_downsample_words")
    tracer.wrap(sfa_df, "fit_windowing_df", "transform.sfa_df.fit_windowing_df")
    tracer.wrap(sfa_df, "transform_windowing_df", "transform.sfa_df.transform_windowing_df")
    tracer.wrap(downsample, "m4_downsample", "operators.downsample.m4_downsample")


# -- the per-layer ledger ------------------------------------------------
def _per_op(spans, ops, f) -> float:
    return sum(f(s) for s in spans) / max(ops, 1)


def layer_metrics(tracer: Tracer, phase: str) -> dict:
    """Per-layer metrics of one phase, each normalised per top-level
    operation of the phase (one build, one refresh round, one query)."""
    sp = [s for s in tracer.spans if s["phase"] == phase]
    roots = [s for s in sp if s["parent"] is None]
    n = len(roots)

    def by(name):
        return [s for s in sp if s["name"] == name]

    out: dict[str, float] = {}
    p = phase + "."
    if phase in ("build_cold", "refresh_late"):
        rt = by("incremental.refresh_tier")
        fps = {s["parent"]: s for s in by("incremental._day_fingerprints")}
        ret = by("incremental.refresh_encoded_tier")
        out.update({
            p + "incremental.refresh_tier.wall_s": _per_op(rt, n, lambda s: s["wall_s"]),
            p + "incremental.refresh_tier.self_s": _per_op(rt, n, lambda s: s["self_s"]),
            p + "incremental.refresh_tier.days_planned": _per_op(rt, n, lambda s: s["attrs"]["days_planned"]),
            p + "incremental.refresh_tier.days_processed": _per_op(rt, n, lambda s: s["attrs"]["days_processed"]),
            p + "incremental.refresh_tier.input_records_per_row": sum(s["tree"]["input_records"] for s in rt)
            / max(sum(s["attrs"]["rows_written"] for s in rt), 1),
            p + "incremental._day_fingerprints.wall_s": _per_op(fps.values(), n, lambda s: s["wall_s"]),
            p + "incremental._day_fingerprints.executor_run_s": _per_op(fps.values(), n, lambda s: s["tree"]["executor_run_s"]),
            p + "incremental.refresh_encoded_tier.wall_s": _per_op(ret, n, lambda s: s["wall_s"]),
            p + "incremental.refresh_encoded_tier.self_s": _per_op(ret, n, lambda s: s["self_s"]),
            p + "incremental.refresh_encoded_tier.buckets_planned": _per_op(ret, n, lambda s: s["attrs"]["buckets_planned"]),
            p + "incremental.refresh_encoded_tier.buckets_processed": _per_op(ret, n, lambda s: s["attrs"]["buckets_processed"]),
            p + "incremental.expire_tier.wall_s": _per_op(by("incremental.expire_tier"), n, lambda s: s["wall_s"]),
            p + "incremental.expire_tier.days_dropped": _per_op(by("incremental.expire_tier"), n, lambda s: s["attrs"]["days_dropped"]),
        })
        # rollup / reaggregate: stages of refresh_tier's aggregate actions
        # (its rows-by-day collect and snapshot write), i.e. the span's
        # subtree minus the fingerprint child; extract: the raw tier's
        # fingerprint job, the one pass that scans and parses the pages
        for src, fn in (("raw", "rollup.rollup_tier"), ("tier", "rollup.reaggregate")):
            ss = [s for s in rt if s["attrs"]["source"] == src]

            def agg(s, k):
                fp = fps.get(s["id"])
                return s["tree"][k] - (fp["tree"][k] if fp else 0)

            out[p + fn + ".executor_run_s"] = _per_op(ss, n, lambda s: agg(s, "executor_run_s"))
            out[p + fn + ".shuffle_write_bytes"] = _per_op(ss, n, lambda s: agg(s, "shuffle_write_bytes"))
        raw_fp = [fps[s["id"]] for s in rt if s["attrs"]["source"] == "raw" and s["id"] in fps]
        out[p + "extract.with_signals.executor_run_s"] = _per_op(raw_fp, n, lambda s: s["tree"]["executor_run_s"])
        out[p + "encode.encode_tier_blocks_gapfill.executor_run_s"] = _per_op(
            ret, n, lambda s: s["tree"]["python_executor_run_s"]
        )
        out[p + "encode.encode_tier_blocks_gapfill.blocks"] = _per_op(ret, n, lambda s: s["attrs"]["blocks"])
        out[p + "encode.encode_tier_blocks_gapfill.points"] = _per_op(ret, n, lambda s: s["attrs"]["points"])
        ws = by("tableio.TableIO.write_snapshot")
        out[p + "tableio.TableIO.write_snapshot.wall_s"] = _per_op(ws, n, lambda s: s["wall_s"])
        out[p + "tableio.TableIO.write_snapshot.files_written"] = _per_op(ws, n, lambda s: s["attrs"]["files_written"])
        out[p + "tableio.TableIO.write_snapshot.bytes_written"] = _per_op(ws, n, lambda s: s["attrs"]["bytes_written"])
        commits = [s for s in sp if "manifest_bytes" in s["attrs"]]
        out[p + "tableio.manifest_bytes_per_commit"] = statistics.fmean(
            [s["attrs"]["manifest_bytes"] for s in commits] or [0]
        )
    else:
        dk = [s for s in roots if s["name"] == "serve_mix.q_decode_key"]
        out.update({
            p + "encode.decode_blocks.executor_run_s": _per_op(dk, len(dk), lambda s: s["tree"]["python_executor_run_s"]),
            p + "encode.decode_blocks.input_records": _per_op(dk, len(dk), lambda s: s["tree"]["input_records"]),
        })
        for q in sorted({s["name"] for s in roots}):
            qs = [s for s in roots if s["name"] == q]
            out[f"{q}.executor_run_s"] = _per_op(qs, len(qs), lambda s: s["tree"]["executor_run_s"])
            out[f"{q}.core_idle_share"] = _idle(qs, tracer.cores)
        sq = [s for s in roots if s["name"] == "serve_mix.q_sfa_words"]
        for fn in ("transform.sfa_df.fit_windowing_df", "pipeline.sfa_downsample_words"):
            out[p + fn + ".wall_s"] = _per_op(by(fn), len(sq), lambda s: s["wall_s"])
    rd = by("tableio.TableIO.read")
    out[p + "tableio.TableIO.read.wall_s"] = _per_op(rd, n, lambda s: s["wall_s"])
    out[p + "tableio.TableIO.read.files_opened"] = _per_op(rd, n, lambda s: s["attrs"]["files_opened"])
    out[p + "spark.jobs"] = _per_op(roots, n, lambda s: s["tree"]["jobs"])
    out[p + "spark.tasks"] = _per_op(roots, n, lambda s: s["tree"]["tasks"])
    out[p + "spark.executor_run_s"] = _per_op(roots, n, lambda s: s["tree"]["executor_run_s"])
    out[p + "spark.executor_cpu_s"] = _per_op(roots, n, lambda s: s["tree"]["executor_cpu_s"])
    out[p + "spark.spill_bytes"] = _per_op(roots, n, lambda s: s["tree"]["spill_bytes"])
    out[p + "spark.core_idle_share"] = _idle(roots, tracer.cores)
    out[p + "trace.untraced_share"] = sum(s["self_s"] for s in roots) / max(sum(s["wall_s"] for s in roots), 1e-9)
    return out


def _idle(spans, cores: int) -> float:
    """1 - busy executor time / (wall x cores) over the spans."""
    wall = sum(s["wall_s"] for s in spans)
    busy = sum(s["tree"]["executor_run_s"] for s in spans)
    return 1.0 - busy / max(wall * cores, 1e-9)
