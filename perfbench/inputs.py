"""Seeded benchmark inputs: the base page table and the late batches.

The engine only ever sees what this module writes to parquet. The base
table is ``generate_pages_pandas`` (the driver-side twin of
``generate_pages``) clipped to the first ``days + 1`` days of the
workload's history and then to the earliest ``PAGES_PER_DAY`` crawls of
each day, so every seed yields the same day count and the same point
count: without the clip the generator's 20x crawl gaps thin some days
out and stretch a few urls over weeks, and the table size, day count and
expire cut would swing from seed to seed. Both workloads clip the same
generated table, so the short history is the first days of the long one.
"""

from __future__ import annotations

import bisect
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_URLS = 16
MEAN_CRAWLS = 40
#: the generator's mean crawl span; its long gaps stretch the table past
#: GEN_DAYS, and every recorded seed has at least 96 crawls on each of
#: the first GEN_DAYS days
SPAN_DAYS = 20.0
GEN_DAYS = 25
PAGES_PER_DAY = 60
#: kept days of history per workload: each tier's retention window,
#: anchored to the newest data day. The input holds one day more, which
#: the base build expires.
HISTORY_DAYS = {"short_history": 8, "long_history": 24}
#: every late batch: one new crawl for each of LATE_URLS existing urls on
#: LATE_DAYS existing, unexpired day (a few percent of the days and of
#: the 64 key buckets)
LATE_URLS = 2
LATE_DAYS = 1
#: base parquet files; several files so the scan is not one row group
N_FILES = 4
#: late batches applied per run; a fixed count, so the cumulative input
#: (and every byte count and result hash over it) is the same on every
#: run of a seed
LATE_ROUNDS = 2

#: recorded seeds: any --seed folds onto 0..POOL-1, except the held-out
#: seeds, which are used as given and were not used while tuning
POOL = 16
HELD_OUT = (1001, 1002)

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_WORDS = np.array(
    "late crawl revised page body update news data web site world work".split()
)


def input_seed(seed: int) -> int:
    return seed if seed in HELD_OUT else seed % POOL


def base_pages(seed: int, days: int) -> pd.DataFrame:
    """The seeded base page table of a ``days``-day history (pandas,
    ``warc_ts`` as naive UTC)."""
    from sfa_spark.generator import BASE_TS, generate_pages_pandas

    assert days < GEN_DAYS
    pdf = generate_pages_pandas(
        n_urls=N_URLS, mean_crawls=MEAN_CRAWLS, span_days=SPAN_DAYS, seed=seed
    )
    end = BASE_TS + np.timedelta64(days + 1, "D")
    pdf = pdf[pdf["warc_ts"] < end].sort_values("warc_ts", kind="stable")
    pdf = pdf.groupby(pdf["warc_ts"].dt.floor("D"), sort=False).head(PAGES_PER_DAY)
    return pdf.sort_values(["url", "warc_ts"], kind="stable").reset_index(drop=True)


def late_batches(seed: int, base: pd.DataFrame, days: int) -> list[pd.DataFrame]:
    """``LATE_ROUNDS`` late batches over the ``days``-day history ``base``:
    each holds one new crawl for each of ``LATE_URLS`` existing urls on
    each of the batch's ``LATE_DAYS`` existing, unexpired days (seeded).
    The urls sit at evenly spaced ranks of crawl count, so every seed's
    batch mixes busy and quiet urls alike and the bytes a round rewrites
    do not hinge on whether the draw hit a heavy hitter. A late crawl keeps the language of the url's nearest earlier
    crawl (its first crawl when none is earlier), so it leaves the next
    crawl's ``lang_stability`` unchanged and touches only its own day: a
    round rewrites the same number of days for every seed. Late rows
    never extend the data's time range, so the retention cut (anchored
    to the newest day) is the same before and after."""
    from sfa_spark.generator import BASE_TS, make_html

    n_urls, n_days = LATE_URLS, LATE_DAYS
    rng = np.random.default_rng((seed, days))
    counts = base["url"].value_counts()
    ranked = sorted(counts.index, key=lambda u: (-counts[u], u))
    crawls = {u: list(zip(g["warc_ts"], g["lang"])) for u, g in base.groupby("url")}
    kept = np.arange(1, days + 1)
    out = []
    for r in range(LATE_ROUNDS):
        rows = []
        picks = (np.arange(n_urls) * len(ranked) // n_urls + r) % len(ranked)
        batch_days = np.sort(rng.choice(kept, n_days, replace=False))
        for u in (ranked[i] for i in picks):
            for d in batch_days:
                us = int(rng.integers(0, 86_400_000_000))
                ts = BASE_TS + np.timedelta64(int(d), "D") + np.timedelta64(us, "us")
                text = " ".join(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(5, 200)))])
                history = crawls[u]
                at = bisect.bisect(history, (ts, ""))
                lang = history[max(at - 1, 0)][1]
                history.insert(at, (ts, lang))
                rows.append((u, ts, make_html(u, text), text, lang))
        out.append(pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]))
    return out


def checksum(frames: list[pd.DataFrame]) -> str:
    """Content checksum of page frames (row order and dtype sensitive)."""
    h = hashlib.sha256()
    for pdf in frames:
        h.update(str(len(pdf)).encode())
        h.update(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes())
    return h.hexdigest()


def write_pages(pdf: pd.DataFrame, path: str, n_files: int = 1, prefix: str = "part") -> None:
    """Write pages as ``n_files`` parquet files (UTC timestamps, so Spark
    reads ``warc_ts`` as TIMESTAMP like ``generate_pages`` produces)."""
    os.makedirs(path, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        part = pdf.iloc[idx]
        table = pa.Table.from_pandas(
            part.assign(warc_ts=part["warc_ts"].dt.tz_localize("UTC")),
            schema=PAGE_SCHEMA,
            preserve_index=False,
        )
        pq.write_table(table, os.path.join(path, f"{prefix}-{i:03d}.parquet"))


def signal_points(pages: pd.DataFrame) -> int:
    """Input signal points: ``signals_long`` stacks two signals per page."""
    return 2 * len(pages)
