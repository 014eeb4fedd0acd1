"""The three phases every run executes, through the engine's public API.

Every engine call goes through a module attribute (``incremental.refresh_tier``
rather than a name imported into this module) so that the traced run can
wrap the same calls from ``trace.py`` without touching engine code.

* ``build_cold`` - the ``jobs/run_pipeline.py`` step sequence into empty
  table roots: signals -> refresh_tier 1m -> 1h -> 1d, each followed by
  expire_tier (fixed keep-days anchored to the newest data day) and
  gc_stale_staging; then refresh_encoded_tier on 1m.
* ``refresh_late`` - the same sequence over the cumulative input after a
  late batch landed (the input directory gains one parquet file).
* ``serve_mix`` - read queries over the committed tables.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from sfa_spark import incremental, pipeline, rollup, tableio
from sfa_spark.operators import downsample

TIERS = ("1m", "1h", "1d")
KEY = ["series_key"]
QUERIES = ("q_reagg_1d", "q_locf_1h", "q_m4", "q_decode_key", "q_sfa_words")


def tier_root(out: str, tier: str) -> str:
    return os.path.join(out, f"tier_{tier}")


def encoded_root(out: str) -> str:
    return os.path.join(out, "encoded_1m")


def table_roots(out: str) -> list[str]:
    return [tier_root(out, t) for t in TIERS] + [encoded_root(out)]


def run_job(spark, pages_dir: str, out: str, tag: str, keep_days: int) -> dict:
    """One pass of the tier cascade + retention (``keep_days`` days,
    anchored to the newest data day) + staging GC + encoded refresh over
    the pages under ``pages_dir``. On empty roots this is a cold build;
    on committed roots it is an incremental refresh."""
    pages = spark.read.parquet(pages_dir)
    signals = pipeline.signals_long(pages).withColumn(
        "series_key", F.xxhash64("url", "signal")
    )
    report: dict = {}
    prev = None
    for tier in TIERS:
        root = tier_root(out, tier)
        if prev is None:
            r = incremental.refresh_tier(
                spark, signals, root, KEY, "warc_ts", "value",
                tier=tier, job=f"{tag}_{tier}",
            )
        else:
            r = incremental.refresh_tier(
                spark, incremental.read_tier(spark, prev), root, KEY,
                "bucket_ts", "value", tier=tier, job=f"{tag}_{tier}",
                source="tier",
            )
        tio = tableio.TableIO(root)
        newest = max(tio.done_partitions())
        now = dt.datetime.fromisoformat(newest) + dt.timedelta(days=1)
        e = incremental.expire_tier(root, now, keep_seconds=keep_days * 86400)
        gc = tio.gc_stale_staging()
        report[tier] = {
            "planned": len(r["planned"]),
            "processed": len(r["processed"]),
            "expired": len(e["dropped"]),
            "gc": len(gc),
        }
        prev = root
    enc = encoded_root(out)
    r = incremental.refresh_encoded_tier(
        spark, incremental.read_tier(spark, tier_root(out, "1m")), enc, KEY,
        tier="1m", job=f"{tag}_encode_1m",
    )
    tableio.TableIO(enc).gc_stale_staging()
    report["encode"] = {"planned": len(r["planned"]), "processed": len(r["processed"])}
    return report


def filled_1h(spark, out: str):
    return rollup.gap_fill_locf(
        incremental.read_tier(spark, tier_root(out, "1h")), KEY, "1h"
    )


def query(spark, name: str, out: str, key: int):
    """Run one serve query to completion; returns its result as pandas
    (the client receives every row)."""
    if name == "q_reagg_1d":
        df = rollup.reaggregate(
            incremental.read_tier(spark, tier_root(out, "1h")), KEY, "1d"
        )
    elif name == "q_locf_1h":
        df = filled_1h(spark, out)
    elif name == "q_m4":
        df = downsample.m4_downsample(
            incremental.read_tier(spark, tier_root(out, "1m")), KEY,
            "bucket_ts", "last", F.date_trunc("day", F.col("bucket_ts")),
            86400, width=64,
        )
    elif name == "q_decode_key":
        df = incremental.read_encoded_tier(spark, encoded_root(out), KEY).filter(
            F.col("series_key") == F.lit(key)
        )
    elif name == "q_sfa_words":
        # the tiers are keyed by series_key alone; sfa_downsample_words
        # wants (url, signal), so the key stands in for both
        filled = filled_1h(spark, out).withColumn(
            "url", F.col("series_key").cast("string")
        ).withColumn("signal", F.lit("value"))
        df = pipeline.sfa_downsample_words(spark, filled)
    else:
        raise ValueError(f"unknown query {name}")
    return df.toPandas()


def series_keys(spark, out: str) -> list[int]:
    rows = incremental.read_tier(spark, tier_root(out, "1m")).select("series_key").distinct().collect()
    return sorted(int(r[0]) for r in rows)


def file_sizes(roots: list[str]) -> dict[str, int]:
    """Size of every file under the table roots (data, manifests, pointer)."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for root in roots
        for d, _, files in os.walk(root)
        for f in files
    }
