"""Engine benchmark: cold tier build, late-data refresh and a read-query mix.

    python3 perfbench/run.py --workload long_history --seed 3 --seconds 30 --trace 0

Every run, on local[nproc] from one driver process with one client
thread (closed loop), goes through the same steps over its seeded input:

* set-up       - SparkSession start, input generation + checksum, then
                 the base build: a cold build of the base input, which
                 the refresh rounds start from and which warms the JVM up;
* refresh_late - LATE_ROUNDS late batches applied back to back to the
                 base build, each round re-running the tier cascade and
                 the encoded refresh on the cumulative input;
* build_cold   - cold builds of the cumulative input into empty roots
                 (the jobs/run_pipeline.py step sequence); the last one is
                 also the from-scratch reference the refreshed tables must
                 equal;
* serve_mix    - a seeded, fixed-ratio cycle of five read queries over the
                 tables of the last cold build, repeated.

The workloads differ only in how many days of history the tables keep
(``inputs.HISTORY_DAYS``); the late batches have the same shape on both,
so the costs that grow with the day count (fingerprint, diff,
carry-forward, manifests, reads) show as the difference between them.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
steps with spans around the engine's public functions and prints the
per-layer ledger. The last stdout line is the result JSON; the full
report (samples, percentiles, host probe, checks) and the traced run's
span ledger go to ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.inputs import HISTORY_DAYS  # noqa: E402

#: --seconds per cold build and per serve cycle (five queries): a run
#: measures the LATE_ROUNDS refresh rounds, then seconds/SECONDS_PER[...]
#: builds and cycles (at least 1 build and 4 cycles). Counts follow from
#: --seconds alone, never from elapsed time, so every run of a setting
#: takes the same samples on a fast or a slow host.
SECONDS_PER = {"build_cold": 30, "serve_mix": 8}
#: a traced op's root span may miss this much of the op's time (the two
#: job-group calls around it) before the ledger counts as not covering it
ROOT_GAP_S = 0.05

E2E_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "build_points_per_s": "1/s",
    "stored_bytes_per_point": "B",
    "refresh_p50_s": "s",
    "refresh_write_bytes_per_point": "B",
    "serve_queries_per_s": "1/s",
    "q_reagg_1d_p50_s": "s",
    "q_locf_1h_p50_s": "s",
    "q_m4_p50_s": "s",
    "q_decode_key_p50_s": "s",
    "q_sfa_words_p50_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def summary(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (nearest rank), with the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs) if xs else None, "tail": None}
    if n >= 11:
        i = n - 11
        out["tail"] = {"percentile": 100 * (i + 1) // n, "value": xs[i], "beyond": n - 1 - i}
    return out


def median(xs: list[float] | None) -> float | None:
    """Median of the samples, or None when every op of the kind failed."""
    return statistics.median(xs) if xs else None


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: int):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.days = HISTORY_DAYS.get(workload, 0)
        self.work = os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-t{trace}")
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.spark = None
        self.tracer = None
        self.traced_ops: list[tuple[dict, float]] = []  # (root span, op time)
        self.cycle = 0
        self.round_bytes: list[int] = []

    # -- environment ---------------------------------------------------
    def prepare_env(self) -> None:
        """Keep every file Spark, the JVM and Python write in the checkout."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, d))
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # python workers import sfa_spark
        local = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
        os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir when set
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")

    def start_session(self):
        from sfa_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            # the status store keeps every job and stage for the ledger
            conf |= {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
        return get_spark("perfbench", cores=self.cores, extra_conf=conf)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- bookkeeping -----------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")

    def op(self, phase: str, name: str, fn, traced: bool):
        """One timed operation; returns its result, or None if it raised."""
        self.attempted += 1
        tr = self.tracer
        root = None
        try:
            t0 = time.perf_counter()
            if tr is not None and traced:
                tr.enabled = True
                with tr.span(f"{phase}.{name}", phase=phase) as root:
                    res = fn()
            else:
                res = fn()
            el = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            log(f"{phase}.{name} failed:\n{traceback.format_exc()}")
            return None
        finally:
            if tr is not None:
                tr.enabled = False
        self.samples.setdefault(f"{phase}.{name}" if phase == "serve_mix" else phase, []).append(el)
        if root is not None:
            self.traced_ops.append((root, el))
        if tr is not None and not (phase == "serve_mix" and self.cycle == 0):
            # the first serve cycle pays first-use costs: left out of the ratio
            self.samples.setdefault(f"{'traced' if traced else 'untraced'}.{phase}", []).append(el)
        return res

    def count(self, phase: str, least: int) -> int:
        return max(least, round(self.seconds / SECONDS_PER[phase]))

    # -- steps -------------------------------------------------------------
    def setup(self, seed: int, recorded: dict):
        """SparkSession start (which launches the JVM), then seeded input
        generation, checksum and parquet write. Returns (base pages, late
        batches, input dir), or None when the input guard fails."""
        from perfbench import inputs

        t0 = time.perf_counter()
        self.spark = self.start_session()
        t1 = time.perf_counter()
        base = inputs.base_pages(seed, self.days)
        late = inputs.late_batches(seed, base, self.days)
        sums = {"base": inputs.checksum([base]), "late": inputs.checksum(late)}
        pages_dir = os.path.join(self.work, "input")
        inputs.write_pages(base, pages_dir, inputs.N_FILES)
        t2 = time.perf_counter()
        self.samples["setup_session"] = [t1 - t0]
        self.samples["setup_input"] = [t2 - t1]
        want = {"base": recorded["input_sha256"][self.workload], "late": recorded["late_sha256"][self.workload]}
        for part in ("base", "late"):
            if sums[part] != want[part]:
                log(f"input guard: {part} input checksum {sums[part]} != recorded {want[part]}")
                return None
        return base, late, pages_dir

    def base_build(self, pages_dir: str, live: str) -> None:
        """The last set-up step: a cold build of the base input into
        ``live``, which the late batches land on. It is also the warm-up:
        it pays the JVM's first-use code generation, class loading and
        Python worker start, so the measured steps do not."""
        from perfbench import phases

        t0 = time.perf_counter()
        phases.run_job(self.spark, pages_dir, live, "base", self.days)
        self.samples["setup_base_build"] = [time.perf_counter() - t0]

    def build(self, i: int, pages_dir: str, out: str, points: int) -> None:
        """One measured cold build of the pages under ``pages_dir``."""
        from perfbench import phases

        t0 = time.perf_counter()
        job = lambda: phases.run_job(self.spark, pages_dir, out, "build", self.days)  # noqa: E731
        if self.op("build_cold", "build", job, traced=i % 2 == 0) is not None:
            self.samples.setdefault("build_points_per_s", []).append(points / (time.perf_counter() - t0))

    def refresh_phase(self, live: str, pages_dir: str, late) -> str:
        """Apply the late batches to the tables under ``live`` back to
        back; returns the cumulative input dir."""
        from perfbench import inputs, phases

        cum_dir = os.path.join(self.work, "cumulative")
        shutil.copytree(pages_dir, cum_dir)
        roots = phases.table_roots(live)
        for r, batch in enumerate(late):
            inputs.write_pages(batch, cum_dir, prefix=f"late-{r:03d}")  # the batch arrives
            before = phases.file_sizes(roots)
            job = lambda: phases.run_job(self.spark, cum_dir, live, f"late{r}", self.days)  # noqa: E731
            self.op("refresh_late", "round", job, traced=r % 2 == 0)
            after = phases.file_sizes(roots)
            self.round_bytes.append(sum(v for k, v in after.items() if k not in before))
        return cum_dir

    def serve_phase(self, out: str, seed: int, recorded: dict) -> None:
        """Serve cycles over the tables under ``out``. A query's first runs
        pay just-in-time compilation and the tables' first file listings
        (the first takes up to twice as long as later ones), so each
        query's median of four leaves the first cycle out, and the
        client's rate is the queries completed in the cycles after the
        first over those cycles' wall time. The result hashes are checked
        after each cycle, outside its time."""
        import numpy as np

        from perfbench import checks, phases

        key = query_key(self.spark, out, seed)
        order = list(np.random.default_rng((self.seed, 7)).permutation(phases.QUERIES))
        done, wall = 0, 0.0
        # a traced run alternates traced and untraced cycles, for the overhead ratio
        for i in range(self.count("serve_mix", 4)):
            self.cycle = i
            results = {}
            t0 = time.perf_counter()
            for q in order:
                results[q] = self.op("serve_mix", q, lambda: phases.query(self.spark, q, out, key), traced=i % 2 == 1)
                if q == "q_sfa_words":
                    self.spark.catalog.clearCache()  # sfa_downsample_words leaves its input cached
            if i:
                wall += time.perf_counter() - t0
                done += sum(res is not None for res in results.values())
            for q, res in results.items():
                if res is not None:
                    h, want = checks.frame_hash(res), recorded[q]
                    self.check(f"serve.{q}_hash", h == want, f"{h} vs recorded {want}")
        if done:
            self.samples["serve_queries_per_s"] = [done / wall]

    def measure(self, base, late, pages_dir: str, seed: int, recorded: dict) -> tuple[dict, dict]:
        """Every step after the input is on disk; returns (report
        figures, printed metrics)."""
        import pandas as pd

        from sfa_spark import incremental

        from perfbench import checks, inputs, kernels, phases, trace

        live = os.path.join(self.work, "live")
        self.base_build(pages_dir, live)
        if self.trace:
            self.tracer = trace.Tracer(self.spark, self.cores)
            trace.install(self.tracer)

        cum_dir = self.refresh_phase(live, pages_dir, late)
        cum = pd.concat([base, *late])
        points = inputs.signal_points(cum)
        # the last cold build of the cumulative input is also the
        # from-scratch reference the refreshed tables must equal; a
        # traced run needs one untraced build too, for the overhead ratio
        for i in range(self.count("build_cold", 1 + self.trace)):
            if i:
                shutil.rmtree(built)
            built = os.path.join(self.work, f"build-{i}")
            self.build(i, cum_dir, built, points)
        self.serve_phase(built, seed, recorded["serve"][self.workload])

        stored = sum(phases.file_sizes(phases.table_roots(built)).values())
        t0 = time.perf_counter()
        # the refreshed tables must equal the cold build; the invariants and
        # the late points are then checked once, on the refreshed tables,
        # decoding the encoded table once
        decoded = incremental.read_encoded_tier(self.spark, phases.encoded_root(live), phases.KEY).persist()
        decoded.count()
        pairs = checks.table_pairs(self.spark, live, decoded) | checks.late_pairs(self.spark, decoded, cum, pd.concat(late))
        for name, ok, detail in [*checks.refresh_checks(live, built), *checks.compare(pairs)]:
            self.check(name, ok, detail)
        decoded.unpersist()
        t1 = time.perf_counter()
        kmetrics, kchecks = kernels.run(base, rates=bool(self.trace))
        for name, ok, detail in kchecks:
            self.check(name, ok, detail)
        self.samples["checks_spark"] = [t1 - t0]
        self.samples["checks_kernels"] = [time.perf_counter() - t1]

        s = self.samples
        late_points = [inputs.signal_points(b) for b in late]
        setup = [s.get(k) for k in ("setup_session", "setup_input", "setup_base_build")]
        e2e = {
            "setup_s": sum(x[0] for x in setup) if all(setup) else None,
            "build_s": median(s.get("build_cold")),
            "build_points_per_s": median(s.get("build_points_per_s")),
            "stored_bytes_per_point": stored / points,
            "refresh_p50_s": median(s.get("refresh_late")),
            "refresh_write_bytes_per_point": sum(self.round_bytes) / sum(late_points),
            "serve_queries_per_s": median(s.get("serve_queries_per_s")),
        }
        for q in phases.QUERIES:
            e2e[f"{q}_p50_s"] = median(s.get(f"serve_mix.{q}"))
        # a metric whose every op failed is left out; the failures are counted
        e2e = {k: v for k, v in e2e.items() if v is not None}
        figures = {
            "input": {"history_days": self.days, "pages": len(base), "points": points,
                      "late_points": late_points, "round_new_bytes": self.round_bytes,
                      "stored_bytes": stored},
            "e2e": e2e,
        }
        if not self.trace:
            return figures, e2e

        tr = self.tracer
        tr.collect_stages()
        tr.finish()
        metrics = {}
        for ph in ("refresh_late", "build_cold", "serve_mix"):
            metrics.update(trace.layer_metrics(tr, ph))
            metrics[f"{ph}.trace.overhead_ratio"] = statistics.fmean(
                s[f"traced.{ph}"]
            ) / statistics.fmean(s[f"untraced.{ph}"])
        metrics.update(kmetrics)
        metrics["trace.spans"] = len(tr.spans)
        # the ledger must cover the measured time and hold every job
        gaps = [el - root["wall_s"] for root, el in self.traced_ops]
        self.check("trace.roots_cover_ops", all(0 <= g <= ROOT_GAP_S for g in gaps),
                   f"op time - root span wall: {min(gaps):.4f}..{max(gaps):.4f} s over {len(gaps)} ops")
        jobs = tr.job_attribution()
        self.check("trace.no_untraced_jobs", jobs["untraced"] == 0, json.dumps(jobs))
        self.check("trace.no_misattributed_jobs", jobs["misattributed"] == 0, json.dumps(jobs))
        figures["trace"] = {"root_gap_s": [min(gaps), max(gaps)], "jobs": jobs}
        tr.write(os.path.join(ROOT, ".perfbench", f"ledger-{self.workload}-{self.seed}.json"), {"metrics": metrics})
        return figures, metrics


def query_key(spark, out: str, seed: int) -> int:
    """The seeded series key q_decode_key reads."""
    import numpy as np

    from perfbench import phases

    return int(np.random.default_rng(seed).choice(phases.series_keys(spark, out)))


def load_recorded() -> dict:
    with open(os.path.join(ROOT, "perfbench", "recorded.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(HISTORY_DAYS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sfa_spark")):
        log(f"no sfa_spark package under {ROOT}: run from a full checkout")
        return 2

    from perfbench import host, inputs

    seed = inputs.input_seed(args.seed)
    recorded = load_recorded()["seeds"].get(str(seed))
    if recorded is None:
        log(f"input seed {seed} has no recorded checksums")
        return 2
    run = Run(args.workload, args.seed, args.seconds, args.trace)
    run.prepare_env()
    probe_before = host.probe()
    figures, metrics = {}, {}
    try:
        prepared = run.setup(seed, recorded)
        if prepared is None:
            return 3
        try:
            figures, metrics = run.measure(*prepared, seed, recorded)
        except Exception:
            # a step that broke off counts as one more failed operation;
            # the result line still reports what was measured before it
            run.attempted += 1
            run.failed += 1
            log(f"run broke off:\n{traceback.format_exc()}")
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "input_seed": seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": run.cores,
            **figures,
            "host": {"before": probe_before, "after": host.probe()},
            "samples": {k: summary(v) | {"values": v} for k, v in run.samples.items()},
            "checks": run.checks,
        }
        with open(os.path.join(ROOT, ".perfbench", f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1)
        log(f"host {report['host']}")
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)

    units = E2E_UNITS if not args.trace else {k: layer_unit(k) for k in metrics}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_per_s"):
        return "1/s"
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "B"
    if last in ("core_idle_share", "untraced_share", "overhead_ratio", "input_records_per_row"):
        return "ratio"
    if last == "bits_per_value":
        return "bit"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
