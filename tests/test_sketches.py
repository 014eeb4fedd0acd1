"""HLL + count-min sketches: register-level bit parity against a scalar
XXH64 reference, mergeability, accuracy, and the CMS over-count bound.

The driver already hash-checks both sketch queries against a DuckDB
HUGEINT re-implementation of xxhash64; these tests pin the pieces:
registers from Spark == registers from a pure-Python XXH64 (so the JVM
hash, the bucket/rank arithmetic, and the sparse-aggregate shape are
each right), hourly->daily merge == direct build (the continuous-
aggregate re-aggregation property), and the estimator's two regimes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sfa_spark.operators.sketches import (
    cms_estimate,
    cms_merge,
    cms_sketch,
    hll_estimate,
    hll_merge,
    hll_registers,
)

_M = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64_long(l, seed=42):
    """XXH64 of one 8-byte long — the algorithm behind Spark's xxhash64
    for a LONG column (public xxHash spec, single-lane path)."""
    l &= _M
    h = (seed + _P5 + 8) & _M
    k1 = (l * _P2) & _M
    k1 = _rotl(k1, 31)
    k1 = (k1 * _P1) & _M
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _ref_registers(values, p=12):
    regs = {}
    for v in values:
        h = xxh64_long(int(v))
        idx = h & ((1 << p) - 1)
        w = h >> p
        rank = (64 - p + 1) if w == 0 else (64 - p + 1 - w.bit_length())
        regs[idx] = max(regs.get(idx, 0), rank)
    return regs


def test_hll_registers_bit_parity_vs_scalar_xxh64(spark):
    rng = np.random.default_rng(5)
    vals = rng.integers(-(10**12), 10**12, 3000)
    df = spark.createDataFrame(pd.DataFrame({"g": 0, "x": vals}))
    got = {
        r.reg_idx: r.reg
        for r in hll_registers(df, ["g"], "x").collect()
    }
    assert got == _ref_registers(vals)


def test_hll_merge_equals_direct(spark):
    rng = np.random.default_rng(6)
    pdf = pd.DataFrame(
        {
            "day": rng.integers(0, 3, 5000),
            "hour": rng.integers(0, 24, 5000),
            "x": rng.integers(0, 800, 5000),
        }
    )
    df = spark.createDataFrame(pdf)
    direct = hll_registers(df, ["day"], "x")
    merged = hll_merge(hll_registers(df, ["day", "hour"], "x"), ["day"])
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b
    ea = sorted(map(tuple, hll_estimate(direct, ["day"]).collect()))
    eb = sorted(map(tuple, hll_estimate(merged, ["day"]).collect()))
    assert ea == eb


def test_hll_duplicates_do_not_move_registers(spark):
    base = spark.createDataFrame(pd.DataFrame({"g": 0, "x": np.arange(500)}))
    dup = base.union(base).union(base)
    a = sorted(map(tuple, hll_registers(base, ["g"], "x").collect()))
    b = sorted(map(tuple, hll_registers(dup, ["g"], "x").collect()))
    assert a == b


def test_hll_accuracy_linear_counting_regime(spark):
    # n << m -> linear-counting branch; relative error well under 2%
    n = 700
    df = spark.createDataFrame(pd.DataFrame({"g": 0, "x": np.arange(n) * 7919}))
    est = hll_estimate(hll_registers(df, ["g"], "x"), ["g"]).collect()[0]
    assert est.zeros > 0
    assert abs(est.est - n) / n < 0.02


def test_hll_accuracy_raw_regime(spark):
    # n >> m -> raw harmonic-mean branch; sigma ~ 1.04/sqrt(4096) = 1.6%
    n = 60_000
    df = spark.createDataFrame(pd.DataFrame({"g": 0, "x": np.arange(n) * 2654435761}))
    est = hll_estimate(hll_registers(df, ["g"], "x"), ["g"]).collect()[0]
    assert abs(est.est - n) / n < 0.05


def test_hll_estimate_rank_53_register(spark):
    # p=12: maxrank is 53, reached when the top 52 hash bits are all zero.
    # Such a register's term must be positive: with every register filled
    # (raw regime) it adds 2^-53 to the harmonic sum, so the estimate is
    # within rounding of the same input with a rank-52 register.
    m = 4096

    def est(top_rank):
        regs = pd.DataFrame({"g": 0, "reg_idx": np.arange(m), "reg": 3})
        regs.loc[m - 1, "reg"] = top_rank
        return hll_estimate(spark.createDataFrame(regs), ["g"]).collect()[0]

    r53, r52 = est(53), est(52)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    want = alpha * m * m / ((m - 1) * 2.0**-3 + 2.0**-53)
    assert r53.zeros == 0
    assert r53.est == round(want, 4) == 23635.1041
    assert r53.est == r52.est


def test_cms_never_undercounts_and_is_tight_when_sparse(spark):
    rng = np.random.default_rng(8)
    # zipf-ish: one heavy hitter + a tail
    xs = np.concatenate([np.full(2000, 7), rng.integers(100, 400, 3000)])
    df = spark.createDataFrame(pd.DataFrame({"x": xs}))
    sketch = cms_sketch(df, [], "x", d=4, w=1024)
    q = df.select("x").distinct()
    est = {r.x: r.est for r in cms_estimate(sketch, q, [], "x").collect()}
    true = df.groupBy("x").count().collect()
    over = 0
    for r in true:
        assert est[r.x] >= r["count"], f"undercount for {r.x}"
        over += est[r.x] - r["count"]
    # 301 distinct keys into 4x1024 counters: collisions are rare and the
    # heavy hitter must be recovered near-exactly
    assert est[7] - 2000 <= 3000 * 2 // 100
    assert over < 0.05 * len(xs) * 4


def test_cms_merge_equals_single_build(spark):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"half": rng.integers(0, 2, 4000), "x": rng.integers(0, 300, 4000)})
    df = spark.createDataFrame(pdf)
    whole = cms_sketch(df, [], "x")
    halves = cms_sketch(df, ["half"], "x")
    merged = cms_merge(halves.drop("half"), [])
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b


def test_cms_weighted_counts(spark):
    pdf = pd.DataFrame({"x": [1, 1, 2], "w": [5, 2, 9]})
    df = spark.createDataFrame(pdf)
    sketch = cms_sketch(df, [], "x", weight_col="w")
    est = {
        r.x: r.est
        for r in cms_estimate(sketch, df.select("x").distinct(), [], "x").collect()
    }
    assert est[1] >= 7 and est[2] >= 9
