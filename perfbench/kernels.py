"""Spark-free kernel section: codecs and transform on series drawn from the
run's own input.

Each codec first proves a bit-exact ``decode(encode(x)) == x`` round trip
on every sampled block; a rate is reported only after that check passed.
Comparing ``encode.*`` executor time with the ``codecs.*`` kernel time on
the same rows estimates the engine/Python boundary cost (the kernel alone
vs the kernel inside a Spark pandas stage).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from sfa_spark import codecs
from sfa_spark.transform import mft, sfa

BLOCK = 4096  # points per block, as the encoder's max_block
MAX_BLOCKS = 64  # sampled blocks: keeps the Python-loop decoders' passes short
MINUTE_US = 60_000_000
WINDOW, WORD, ALPHABET = 16, 4, 4
ROW_LEN = 512  # points per MFT row


def sample_series(pages: pd.DataFrame) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """(dense 1m LOCF text_len blocks, per-url raw crawl timestamps) -
    the value and timestamp shapes the encode path sees."""
    blocks, stamps = [], []
    for _, g in pages.groupby("url", sort=True):
        ts = g["warc_ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        stamps.append(ts)
        minute = (ts - ts[0]) // MINUTE_US
        vals = g["text"].str.len().to_numpy().astype(np.float64)
        dense = np.empty(int(minute[-1]) + 1)
        # LOCF: each crawl's value holds until the next crawl's minute
        dense[minute] = vals
        idx = np.zeros(dense.size, dtype=np.int64)
        idx[minute] = minute
        dense = dense[np.maximum.accumulate(idx)]
        blocks.extend(dense[i:i + BLOCK] for i in range(0, dense.size, BLOCK))
    return blocks, stamps


def _runs(block: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    starts = np.flatnonzero(np.r_[True, block[1:] != block[:-1]])
    return block[starts], np.diff(np.r_[starts, block.size])


def _rate(fn, n_values: int, min_s: float = 0.3, reps: int = 3) -> float:
    """values/s from the median of ``reps`` timed passes (each pass is
    repeated until it lasts ``min_s``)."""
    times = []
    for _ in range(reps):
        k, t0 = 0, time.perf_counter()
        while True:
            fn()
            k += 1
            el = time.perf_counter() - t0
            if el >= min_s:
                break
        times.append(el / k)
    return n_values / float(np.median(times))


def run(pages: pd.DataFrame, rates: bool) -> tuple[dict, list[tuple[str, bool, str]]]:
    """Round-trip checks always; rates only when ``rates`` (traced runs)."""
    blocks, stamps = sample_series(pages)
    blocks = blocks[:: max(1, len(blocks) // MAX_BLOCKS)]
    n_vals = sum(b.size for b in blocks)
    n_ts = sum(s.size for s in stamps)
    runs = [_runs(b) for b in blocks]
    rv = np.concatenate([r[0] for r in runs])
    rl = np.concatenate([r[1] for r in runs])
    bounds = np.r_[0, np.cumsum([r[0].size for r in runs])]

    def enc_values():
        return codecs.gorilla_encode_runs_blocks(rv, rl, bounds)

    def enc_ts():
        return [codecs.dod_encode(s) for s in stamps]

    vblobs, tblobs = enc_values(), enc_ts()
    bad_v = sum(
        not np.array_equal(codecs.gorilla_decode(b).view(np.uint64), x.view(np.uint64))
        for b, x in zip(vblobs, blocks)
    )
    bad_t = sum(
        not np.array_equal(codecs.dod_decode(b), s) for b, s in zip(tblobs, stamps)
    )
    checks = [
        ("kernels.gorilla_round_trip", bad_v == 0, f"{bad_v} of {len(blocks)} blocks differ"),
        ("kernels.dod_round_trip", bad_t == 0, f"{bad_t} of {len(stamps)} series differ"),
    ]

    # MFT over equal-length rows cut from the dense series, then MCB bins
    # (equi-depth) and quantize over the Fourier values
    rows = [b[i:i + ROW_LEN] for b in blocks for i in range(0, b.size - ROW_LEN + 1, ROW_LEN)]
    X = np.stack(rows) if rows else np.zeros((0, ROW_LEN))
    X = X + np.arange(ROW_LEN) * 1e-3  # constant windows carry no spectrum
    approx = mft.transform_windowing_rows(X, WINDOW, WORD, norm_mean=True)
    scalar = mft.transform_windowing(X[0], WINDOW, WORD, norm_mean=True)
    checks.append((
        "kernels.mft_rows_match_scalar",
        bool(np.array_equal(approx[0], scalar)),
        f"row 0 of {X.shape[0]}",
    ))
    flat = approx.reshape(-1, approx.shape[-1])
    sample = flat[:: max(1, flat.shape[0] // 20000)]
    bins = np.stack([
        sfa.fit_bins_equi_depth(np.sort(sample[:, i]), ALPHABET)
        for i in range(flat.shape[1])
    ])

    metrics = {}
    if rates and all(ok for _, ok, _ in checks):
        metrics = {
            "codecs.gorilla_encode_runs_blocks.values_per_s": _rate(enc_values, n_vals),
            "codecs.gorilla_decode.values_per_s": _rate(
                lambda: [codecs.gorilla_decode(b) for b in vblobs], n_vals
            ),
            "codecs.dod_encode.values_per_s": _rate(enc_ts, n_ts),
            "codecs.dod_decode.values_per_s": _rate(
                lambda: [codecs.dod_decode(b) for b in tblobs], n_ts
            ),
            "codecs.gorilla.bits_per_value": 8 * sum(map(len, vblobs)) / n_vals,
            "codecs.dod.bits_per_value": 8 * sum(map(len, tblobs)) / n_ts,
            "transform.mft.transform_windowing_rows.windows_per_s": _rate(
                lambda: mft.transform_windowing_rows(X, WINDOW, WORD, norm_mean=True),
                approx.shape[0] * approx.shape[1],
            ),
            "transform.sfa.quantize.values_per_s": _rate(
                lambda: sfa.quantize(approx, bins), approx.size
            ),
        }
    return metrics, checks
