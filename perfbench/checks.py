"""Output checks. Each returns ``(name, ok, detail)``; a failed check
counts as a failed operation of the run."""

from __future__ import annotations

import functools
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sfa_spark import incremental, rollup, tableio

from perfbench.phases import KEY, TIERS, encoded_root, tier_root


def frame_hash(pdf: pd.DataFrame) -> str:
    """Row-order independent content hash of a query result."""
    cols = sorted(pdf.columns)
    rows = pd.util.hash_pandas_object(pdf[cols], index=False).to_numpy()
    h = hashlib.sha256(",".join(cols).encode())
    h.update(str(len(pdf)).encode())
    h.update(np.sort(rows).tobytes())
    return h.hexdigest()[:32]


def fingerprints(frames: list) -> list[tuple[int, str]]:
    """(rows, order-independent xxhash64 sum over all columns by name) of
    each frame, computed in one Spark job."""
    tagged = [
        df.select(F.lit(i).alias("t"), F.xxhash64(*sorted(df.columns)).alias("h"))
        for i, df in enumerate(frames)
    ]
    rows = functools.reduce(lambda a, b: a.unionByName(b), tagged).groupBy("t").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("h")
    ).collect()
    got = {r["t"]: (int(r["n"]), str(r["h"])) for r in rows}
    return [got.get(i, (0, "None")) for i in range(len(frames))]


def compare(pairs: dict) -> list[tuple[str, bool, str]]:
    """One check per named (got, want) frame pair: equal row count and
    content hash."""
    fps = fingerprints([df for pair in pairs.values() for df in pair])
    return [
        (name, fps[2 * i] == fps[2 * i + 1], f"{fps[2 * i]} vs {fps[2 * i + 1]}")
        for i, name in enumerate(pairs)
    ]


def table_pairs(spark, out: str, decoded) -> dict:
    """``decoded`` (read_encoded_tier of ``out``) == gap_fill_locf of the
    1m tier; 1h, 1d == reaggregate of 1m."""
    t1m = incremental.read_tier(spark, tier_root(out, "1m"))
    filled = rollup.gap_fill_locf(t1m.drop("dt"), KEY, "1m").select(
        "series_key", "bucket_ts", F.col("last").alias("value")
    )
    pairs = {"tables.decode_equals_locf_1m": (decoded, filled)}
    for tier in TIERS[1:]:
        pairs[f"tables.{tier}_equals_reaggregate_1m"] = (
            incremental.read_tier(spark, tier_root(out, tier)).drop("dt"),
            rollup.reaggregate(t1m, KEY, tier),
        )
    return pairs


def late_pairs(spark, decoded, cum_pages: pd.DataFrame, late_pages: pd.DataFrame) -> dict:
    """Every late point is visible in ``decoded`` (read_encoded_tier of the
    refreshed table) with the value its 1m bucket must hold: the decoded
    rows at the late points' (key, bucket) equal the expected rows."""
    want = spark.createDataFrame(expected_late_buckets(cum_pages, late_pages)).select(
        F.xxhash64("url", "signal").alias("series_key"), "bucket_ts",
        F.col("expected").alias("value"),
    )
    got = decoded.join(
        F.broadcast(want.select("series_key", "bucket_ts")), ["series_key", "bucket_ts"]
    )
    return {"refresh.late_points_visible": (got, want)}


def table_hash(root: str) -> str:
    """Content hash of a committed table, read straight from the files its
    current manifest lists (pyarrow, no Spark), with the partition value
    taken from the manifest key."""
    m = tableio.TableIO(root).manifest()
    frames = []
    for pk, meta in sorted(m["partitions"].items()):
        for path in meta.get("paths") or [meta["path"]]:
            d = os.path.join(root, path)
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    frames.append(pq.read_table(os.path.join(d, f)).to_pandas().assign(**{m["partition_col"]: pk}))
    return frame_hash(pd.concat(frames, ignore_index=True))


def refresh_checks(out: str, scratch: str) -> list[tuple[str, bool, str]]:
    """Every table of the incrementally refreshed ``out`` equals the
    from-scratch build ``scratch`` over the cumulative input."""
    res = []
    for name, a, b in [
        *((f"refresh.{t}_equals_scratch", tier_root(out, t), tier_root(scratch, t)) for t in TIERS),
        ("refresh.encoded_1m_equals_scratch", encoded_root(out), encoded_root(scratch)),
    ]:
        ha, hb = table_hash(a), table_hash(b)
        res.append((name, ha == hb, f"{ha} vs {hb}"))
    return res


def expected_late_buckets(cum: pd.DataFrame, late: pd.DataFrame) -> pd.DataFrame:
    """For every late point: (url, signal, 1m bucket, the bucket's last
    value) computed in pandas from the cumulative input - text_len is the
    text length (extraction is exact) and lang_stability compares with
    the url's previous crawl, as ``extract.with_signals`` defines them."""
    c = cum.sort_values(["url", "warc_ts"], kind="stable")
    prev = c.groupby("url")["lang"].shift()
    sig = pd.DataFrame({
        "url": c["url"].to_numpy(),
        "bucket_ts": c["warc_ts"].dt.floor("min").to_numpy(),
        "text_len": c["text"].str.len().astype("float64").to_numpy(),
        "lang_stability": np.where(prev.isna() | (prev == c["lang"]), 1.0, 0.0),
    })
    last = sig.groupby(["url", "bucket_ts"], sort=False).tail(1)
    keys = late.assign(bucket_ts=late["warc_ts"].dt.floor("min"))[["url", "bucket_ts"]].drop_duplicates()
    last = last.merge(keys, on=["url", "bucket_ts"])
    long = last.melt(
        id_vars=["url", "bucket_ts"], value_vars=["text_len", "lang_stability"],
        var_name="signal", value_name="expected",
    )
    return long[["url", "signal", "bucket_ts", "expected"]].reset_index(drop=True)
