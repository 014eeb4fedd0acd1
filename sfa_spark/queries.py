"""Registry of driver-checkable queries: (name → Spark callable, name → DuckDB oracle SQL).

Every operator claimed done in SURVEY.md §2 gets an entry here; the driver
runs the Spark side and the oracle side at sf=0.01 and compares row count +
schema + order-insensitive value hash. Column names/aliases MUST match
between the two sides. Float aggregates that are order-sensitive (sums,
averages) are rounded to 6 dp on BOTH sides so partition-order ULP noise
can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfa_spark.rollup import gap_fill_locf, reaggregate, rollup_tier

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _finish_tier(df: DataFrame) -> DataFrame:
    """Stable output shape for a rollup tier: round the order-sensitive sum."""
    return df.select(
        "user_id",
        "bucket_ts",
        "n",
        F.round("sum", 6).alias("sum_value"),
        F.col("min").alias("min_value"),
        F.col("max").alias("max_value"),
        F.col("first").alias("first_value"),
        F.col("last").alias("last_value"),
    )


_TIER_ORACLE = """
SELECT user_id,
       date_trunc('{unit}', ts) AS bucket_ts,
       count(value)             AS n,
       round(sum(value), 6)     AS sum_value,
       min(value)               AS min_value,
       max(value)               AS max_value,
       arg_min(value, ts)       AS first_value,
       arg_max(value, ts)       AS last_value
FROM events
GROUP BY 1, 2
"""


@register("rollup_1m", _TIER_ORACLE.format(unit="minute"))
def rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _finish_tier(rollup_tier(_events(spark, sf_dir), ["user_id"], "ts", "value", "1m"))


@register("rollup_1h", _TIER_ORACLE.format(unit="hour"))
def rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1m = rollup_tier(_events(spark, sf_dir), ["user_id"], "ts", "value", "1m")
    return _finish_tier(reaggregate(t1m, ["user_id"], "1h"))


@register("rollup_1d", _TIER_ORACLE.format(unit="day"))
def rollup_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1m = rollup_tier(_events(spark, sf_dir), ["user_id"], "ts", "value", "1m")
    t1h = reaggregate(t1m, ["user_id"], "1h")
    return _finish_tier(reaggregate(t1h, ["user_id"], "1d"))


@register(
    "time_travel_1d",
    """
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events)
SELECT user_id,
       date_trunc('day', ts) AS bucket_ts,
       count(value)          AS n,
       round(sum(value), 6)  AS sum_value,
       min(value)            AS min_value,
       max(value)            AS max_value,
       arg_min(value, ts)    AS first_value,
       arg_max(value, ts)    AS last_value
FROM events, mx
WHERE CAST(ts AS DATE) < mx.d
GROUP BY 1, 2
""",
)
def time_travel_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel through the driver contract (VERDICT r4 #8):
    build a 1d tier table with every day but the last, refresh again
    with the full source (a NEW snapshot adds the last day), then read
    the PRE-refresh snapshot by id — the historical read must be
    bit-identical to re-deriving the old day set from raw events, which
    is exactly what the DuckDB oracle does. Proves dropped/advanced
    snapshots keep their ancestors readable (TableIO.read(snapshot=),
    the Iceberg time-travel semantics the north rule's lineage chain
    exists for)."""
    import tempfile

    from sfa_spark.incremental import refresh_tier
    from sfa_spark.tableio import TableIO

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    maxday = ev.agg(F.max(F.to_date("ts"))).first()[0]  # bounded collect
    with tempfile.TemporaryDirectory(prefix="sfa_tt_") as tmp:
        root = tmp + "/t1d"
        r1 = refresh_tier(
            spark,
            ev.filter(F.to_date("ts") < F.lit(maxday)),
            root,
            ["user_id"],
            "ts",
            "value",
            tier="1d",
        )
        r2 = refresh_tier(spark, ev, root, ["user_id"], "ts", "value", tier="1d")
        if r2["snapshot"] == r1["snapshot"]:  # not assert: survives python -O
            raise RuntimeError(
                "time_travel_1d: second refresh did not commit — the "
                "'historical' read would silently include the last day"
            )
        hist = TableIO(root).read(spark, snapshot=r1["snapshot"]).select(
            "user_id",
            "bucket_ts",
            "n",
            F.round("sum", 6).alias("sum_value"),
            F.col("min").alias("min_value"),
            F.col("max").alias("max_value"),
            F.col("first").alias("first_value"),
            F.col("last").alias("last_value"),
        )
        # materialize the (few-thousand-row) historical tier before the
        # scoped table root is cleaned up
        out = hist.toPandas()
    return spark.createDataFrame(out, schema=hist.schema)


_NORM_TEXT_SQL = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"


@register(
    "dedup_exact",
    f"""
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents
GROUP BY {_NORM_TEXT_SQL}
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sfa_spark.operators.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir))


@register(
    "token_stats",
    f"""
SELECT doc_id,
       length(text)                                   AS n_chars,
       len(string_split({_NORM_TEXT_SQL}, ' '))       AS n_tokens,
       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
FROM documents
""",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sfa_spark.operators.textstats import token_count

    d = _documents(spark, sf_dir)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        token_count(F.col("text")).alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digits"),
    )


@register(
    "top3_events_per_user",
    """
SELECT user_id, event_id, value, rnk
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY value DESC, event_id ASC
         ) AS rnk
  FROM events
)
WHERE rnk <= 3
""",
)
def top3_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "value", "rnk")
    )


@register(
    "asof_click_before_purchase",
    """
WITH l AS (
  SELECT event_id, user_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.ts, l.purchase_value,
       r.ts AS asof_ts, r.click_value AS asof_click_value,
       epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase + the user's latest click at-or-before it.

    Oracled against DuckDB's NATIVE ASOF JOIN operator — an independent
    implementation of the semantics (inclusive ties, left-outer nulls) —
    not a SQL re-derivation of the engine's plan. The engine side is the
    union-tag + running-window form (operators/asof.py): one shuffle by
    user, no range join, O(|L|+|R|) rows."""
    from sfa_spark.operators.asof import asof_join, epoch_us

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(left, right, on=["user_id"], right_cols=["click_value"])
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        "asof_ts",
        "asof_click_value",
        (epoch_us("ts") - epoch_us("asof_ts")).alias("lag_us"),
    )


@register(
    "asof_error_after_purchase",
    """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, ts, max(value) AS error_value
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.ts,
       CASE WHEN r.ts - l.ts <= INTERVAL 30 MINUTE THEN r.ts END AS asof_ts,
       CASE WHEN r.ts - l.ts <= INTERVAL 30 MINUTE THEN r.error_value END
         AS asof_error_value,
       CASE WHEN r.ts - l.ts <= INTERVAL 30 MINUTE
            THEN epoch_us(r.ts) - epoch_us(l.ts) END AS lead_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
""",
)
def asof_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: the next error within 30 min of each
    purchase (next-failure attribution). Same DuckDB native-ASOF oracle,
    forward direction + staleness bound."""
    from sfa_spark.operators.asof import asof_join, epoch_us

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("error_value"))
    )
    out = asof_join(
        left,
        right,
        on=["user_id"],
        right_cols=["error_value"],
        direction="forward",
        tolerance_seconds=1800,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        "asof_error_value",
        (epoch_us("asof_ts") - epoch_us("ts")).alias("lead_us"),
    )


@register(
    "sessions_30m",
    """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
FROM gaps GROUP BY user_id
""",
)
def sessions_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session (lag + sum)."""
    from pyspark.sql.window import Window as W

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "m4_daily_16",
    """
WITH b AS (
  SELECT user_id, ts, value,
         date_trunc('day', ts) AS span_start,
         (epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 16 // 86400000000
           AS bucket
  FROM events
)
SELECT user_id, span_start, bucket,
       min(ts)            AS ts_first,
       max(ts)            AS ts_last,
       arg_min(value, ts) AS v_first,
       arg_max(value, ts) AS v_last,
       min(value)         AS v_min,
       max(value)         AS v_max,
       count(value)       AS n
FROM b GROUP BY 1, 2, 3
""",
)
def m4_daily_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsample (Jugel et al., VLDB 2014): per user and
    day, 16 pixel-column buckets each keeping min/max/first/last — the
    error-free rendering tier. One map-side-combined hash aggregate with
    exact integer bucket arithmetic (operators/downsample.py)."""
    from sfa_spark.operators.downsample import m4_downsample

    return m4_downsample(
        _events(spark, sf_dir),
        ["user_id"],
        "ts",
        "value",
        F.date_trunc("day", F.col("ts")),
        span_seconds=86400,
        width=16,
    )


@register("lttb_32_per_user")
def lttb_32_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsample to <=32 points per user (below each user's sf0.01
    event count, so the triangle kernel genuinely engages). NO SQL ORACLE by design:
    each pick depends on the previous pick (a sequential chain), which
    plain SQL can't express — the driver records the weaker rows-only
    check; the strong checks live in tests/test_downsample.py (exact
    parity against an independent scalar reference implementation, pinned
    endpoints, deterministic ties)."""
    from sfa_spark.operators.downsample import lttb_downsample

    return lttb_downsample(_events(spark, sf_dir), ["user_id"], "ts", "value", n_out=32)


@register(
    "interval_join_purchases",
    """
WITH gaps AS (
  SELECT event_id, user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
),
ivl AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end
  FROM sess GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts, i.session_start, i.session_end
FROM events e
JOIN ivl i ON e.user_id = i.user_id
          AND e.ts BETWEEN i.session_start AND i.session_end
WHERE e.event_type = 'purchase'
""",
)
def interval_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval containment join (operators/rangejoin): each
    purchase attributed to its 30-min-gap session window. The engine
    plan is the bucketed-explode equi-join (one hash join on
    (user, hour-bucket), no range-scan nested loop — the oracle IS the
    naive range join, at sf0.01 scale where it's affordable)."""
    from pyspark.sql.window import Window as W

    from sfa_spark.operators.rangejoin import interval_join

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    ivl = (
        ev.withColumn("_sid", F.sum(new_s).over(w))
        .groupBy("user_id", "_sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .drop("_sid")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return interval_join(
        purchases,
        ivl,
        on=["user_id"],
        point_ts="ts",
        start_col="session_start",
        end_col="session_end",
        bucket_seconds=3600,
    )


@register(
    "seasonal_anomaly_1h",
    """
WITH t AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         sum(value) / count(value) AS v
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT *, CAST(floor(epoch_us(bucket_ts) / 3600000000.0) AS BIGINT) % 24
         AS phase
  FROM t
),
w AS (
  SELECT user_id, bucket_ts, phase, v,
         count(v)       OVER fr AS n_hist,
         avg(v)         OVER fr AS baseline,
         stddev_samp(v) OVER fr AS sigma
  FROM p
  WINDOW fr AS (PARTITION BY user_id, phase ORDER BY bucket_ts
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, bucket_ts, phase, n_hist,
       round(v, 6)        AS value,
       round(baseline, 6) AS baseline,
       round(sigma, 6)    AS sigma,
       CASE WHEN n_hist >= 3 AND sigma > 1e-9
            THEN round((v - baseline) / sigma, 6) END AS z,
       CASE WHEN n_hist >= 3 AND sigma > 1e-9
            THEN abs((v - baseline) / sigma) > 3.0 END AS is_anomaly
FROM w
""",
)
def seasonal_anomaly_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly scoring (operators/anomaly.py): each 1h
    bucket's mean value vs the SAME hour-of-day over the previous 7
    days — one (key, phase) window, no self-join fan-out. The oracle
    re-derives the exact-integer phase and the rows-preceding frame;
    float mean/stddev/z are rounded 6dp on both sides."""
    from sfa_spark.operators.anomaly import seasonal_anomaly
    from sfa_spark.rollup import rollup_tier

    t1h = rollup_tier(_events(spark, sf_dir), ["user_id"], "ts", "value", "1h")
    tier = t1h.select(
        "user_id", "bucket_ts", (F.col("sum") / F.col("n")).alias("v")
    )
    out = seasonal_anomaly(
        tier, ["user_id"], "bucket_ts", "v", 3600, 24, n_periods=7
    )
    return out.select(
        "user_id",
        "bucket_ts",
        "phase",
        "n_hist",
        F.round("value", 6).alias("value"),
        F.round("baseline", 6).alias("baseline"),
        F.round("sigma", 6).alias("sigma"),
        F.round("z", 6).alias("z"),
        "is_anomaly",
    )


@register(
    "ewma_alpha02",
    """
WITH RECURSIVE base AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, rn, ts, event_id, value, value AS ewma
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.ts, b.event_id, b.value,
         CAST(0.2 AS DOUBLE) * b.value + CAST(0.8 AS DOUBLE) * r.ewma
  FROM r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, ts, event_id, value, ewma FROM r
""",
)
def ewma_alpha02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing (operators/smoothing.py). Compared UNROUNDED: the
    engine's column-sweep kernel performs exactly the scalar
    recurrence's float ops per series ((a*x) + (d*y), that association),
    and the oracle is a DuckDB RECURSIVE CTE computing the identical
    expression — a sequential recurrence oracled bit-for-bit, no
    rounding tolerance."""
    from sfa_spark.operators.smoothing import ewma

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return ewma(
        ev, ["user_id"], "ts", "value", alpha=0.2, order_cols=["event_id"]
    )


@register(
    "holt_level_trend",
    """
WITH RECURSIVE base AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, rn, ts, event_id, value,
         value AS level, CAST(0 AS DOUBLE) AS trend
  FROM base WHERE rn = 1
  UNION ALL
  SELECT user_id, rn, ts, event_id, value, lvl_new AS level,
         CAST(0.1 AS DOUBLE) * (lvl_new - lvl_old)
           + CAST(0.9 AS DOUBLE) * trd_old AS trend
  FROM (
    SELECT b.user_id, b.rn, b.ts, b.event_id, b.value,
           r.level AS lvl_old, r.trend AS trd_old,
           CAST(0.3 AS DOUBLE) * b.value
             + CAST(0.7 AS DOUBLE) * (r.level + r.trend) AS lvl_new
    FROM r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
  )
)
SELECT user_id, ts, event_id, value, level, trend, level + trend AS forecast_1
FROM r
""",
)
def holt_level_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (operators/smoothing.holt):
    two COUPLED recurrences (level + trend) per series, compared
    UNROUNDED against a DuckDB recursive CTE carrying both states —
    same bit-exact discipline as ewma_alpha02. forecast_1 = level +
    trend is the one-step-ahead prediction."""
    from sfa_spark.operators.smoothing import holt

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return holt(
        ev, ["user_id"], "ts", "value", alpha=0.3, beta=0.1, order_cols=["event_id"]
    )


@register(
    "twa_1h",
    """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS t0,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS t1,
         value AS v
  FROM events
),
seg AS (SELECT * FROM s WHERE t1 IS NOT NULL),
e AS (
  SELECT user_id, v, t0, t1,
         unnest(range(t0 // 3600000000, (t1 - 1) // 3600000000 + 1)) AS b
  FROM seg
),
g AS (
  SELECT user_id, make_timestamp(b * 3600000000) AS bucket_ts, v,
         least(t1, (b + 1) * 3600000000) - greatest(t0, b * 3600000000) AS ov,
         CASE WHEN t0 >= b * 3600000000 THEN 1 ELSE 0 END AS sh
  FROM e
)
SELECT user_id, bucket_ts,
       SUM(sh)::BIGINT AS n_samples,
       SUM(ov)::BIGINT AS covered_us,
       round(SUM(v * ov) / SUM(ov), 6) AS twa
FROM g GROUP BY 1, 2
""",
)
def twa_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over the LOCF curve (operators/twa.py) —
    the irregular-sampling-correct per-bucket mean, TimescaleDB's
    time_weight('LOCF') analogue. Hold intervals clip to hour buckets
    with exact integer microsecond arithmetic; holds crossing bucket
    boundaries contribute to every covered bucket (bucketed explode,
    same idiom as the interval join)."""
    from sfa_spark.operators.twa import time_weighted_avg

    out = time_weighted_avg(
        _events(spark, sf_dir), ["user_id"], "ts", "value", "1h",
        order_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "bucket_ts",
        "n_samples",
        "covered_us",
        F.round("twa", 6).alias("twa"),
    )


# --------------------------------------------------------------------------
# mergeable sketches (HLL distinct, count-min) — oracle re-implements
# Spark's production xxhash64-of-a-long BIT-FOR-BIT in HUGEINT SQL, so
# the driver check covers the exact hash the 100TB data plane uses.
# --------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = "18446744073709551616::HUGEINT"


def _mulmod64(a: str, b: int) -> str:
    """(a * b) mod 2^64 in HUGEINT via 32-bit split (a,b < 2^64; the
    widest intermediate is < 2^96, inside HUGEINT range)."""
    return (
        f"((({a}) % 4294967296) * {b} + "
        f"((({a}) // 4294967296) * {b} % 4294967296) * 4294967296) % {_M64}"
    )


def _rotl64(x: str, r: int) -> str:
    lo = 1 << (64 - r)
    return f"((({x}) % {lo}) * {1 << r} + (({x}) // {lo}))"


def _xor64(a: str, b: str) -> str:
    return f"CAST(xor(CAST({a} AS UBIGINT), CAST({b} AS UBIGINT)) AS HUGEINT)"


def _xxh64_cte(inner_sql: str, x_expr: str, seed_expr: str, out: str, tag: str) -> str:
    """Wrap ``inner_sql`` in nested SELECTs that add column ``out`` =
    XXH64(one 8-byte little-endian long ``x_expr``, seed ``seed_expr``)
    — the exact algorithm behind Spark's ``xxhash64`` for a LONG input
    (verified value-for-value against F.xxhash64, incl. 2-arg hash
    chaining where the first hash seeds the second)."""
    t = lambda n: f"_{tag}_{n}"
    shr = lambda x, k: f"(({x}) // {1 << k})"
    steps = [
        (t("k1a"), _mulmod64(x_expr, _XXP2)),
        (t("k1b"), f"({_mulmod64(_rotl64(t('k1a'), 31), _XXP1)})"),
        (
            t("h1"),
            _xor64(f"(({seed_expr}) + {_XXP5 + 8}) % {_M64}", t("k1b")),
        ),
        (t("h2"), f"({_mulmod64(_rotl64(t('h1'), 27), _XXP1)} + {_XXP4}) % {_M64}"),
        (t("h3"), _xor64(t("h2"), shr(t("h2"), 33))),
        (t("h4"), _mulmod64(t("h3"), _XXP2)),
        (t("h5"), _xor64(t("h4"), shr(t("h4"), 29))),
        (t("h6"), _mulmod64(t("h5"), _XXP3)),
        (out, _xor64(t("h6"), shr(t("h6"), 32))),
    ]
    q = inner_sql
    for name, expr in steps:
        q = f"SELECT *, {expr} AS {name} FROM ({q})"
    return q


def _hll_oracle_sql() -> str:
    from sfa_spark.operators.sketches import hll_alpha_scaled

    p, m = 12, 4096
    maxrank = 64 - p + 1  # 53
    amm = hll_alpha_scaled(p)
    hashed = _xxh64_cte(
        "SELECT date_trunc('day', ts) AS day, user_id::HUGEINT AS xu FROM events",
        "xu",
        "42::HUGEINT",
        "hv",
        "hh",
    )
    return f"""
WITH regs AS (
  SELECT day, hv % {m} AS reg_idx,
         max(CASE WHEN hv // {m} = 0 THEN {maxrank}
                  ELSE {maxrank} - length(bin(CAST(hv // {m} AS UBIGINT)))
             END) AS reg
  FROM ({hashed}) GROUP BY 1, 2
),
agg AS (
  SELECT day, count(*) AS nreg,
         SUM((1::HUGEINT << ({maxrank} - reg))) AS sumv
  FROM regs GROUP BY 1
),
est AS (
  SELECT day, ({m} - nreg)::BIGINT AS zeros,
         CAST((({m} - nreg)::HUGEINT * (1::HUGEINT << {maxrank}) + sumv)
              AS DOUBLE) AS total
  FROM agg
),
fin AS (
  SELECT day, zeros,
         CASE WHEN {amm!r} / total <= {2.5 * m!r} AND zeros > 0
              THEN {float(m)!r} * ln({float(m)!r} / zeros::DOUBLE)
              ELSE {amm!r} / total END AS e
  FROM est
)
SELECT f.day, round(f.e, 4) AS est, round(f.e, 4) AS est_merged, f.zeros,
       x.exact_n
FROM fin f
JOIN (SELECT date_trunc('day', ts) AS day,
             count(DISTINCT user_id) AS exact_n
      FROM events GROUP BY 1) x USING (day)
"""


@register("hll_users_daily", _hll_oracle_sql())
def hll_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct-users-per-day (operators/sketches):
    ``est`` from registers built straight off the raw scan, ``est_merged``
    from HOURLY register tables merged up to days (element-wise max) —
    the continuous-aggregate path that never rescans raw data. The two
    are bit-equal because merged registers are identical to direct ones;
    the oracle re-derives the registers from a HUGEINT SQL XXH64 and
    asserts both columns. ``exact_n`` shows the sketch error in-row."""
    from sfa_spark.operators.sketches import hll_estimate, hll_merge, hll_registers

    ev = _events(spark, sf_dir).select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "user_id",
    )
    direct = hll_estimate(hll_registers(ev, ["day"], "user_id"), ["day"])
    merged = hll_estimate(
        hll_merge(hll_registers(ev, ["day", "hour"], "user_id"), ["day"]),
        ["day"],
    ).select("day", F.col("est").alias("est_merged"))
    exact = ev.groupBy("day").agg(F.countDistinct("user_id").alias("exact_n"))
    return (
        direct.join(merged, "day")
        .join(exact, "day")
        .select("day", "est", "est_merged", "zeros", "exact_n")
    )


def _cms_oracle_sql() -> str:
    d, w = 4, 1024
    # chain 1: hv1 = xxh64(user_id, 42); chain 2: hv2 = xxh64(j, hv1)
    base = _xxh64_cte(
        f"SELECT user_id, user_id::HUGEINT AS xu, j::HUGEINT AS ju "
        f"FROM events, (SELECT unnest(range({d})) AS j)",
        "xu",
        "42::HUGEINT",
        "hv1",
        "c1",
    )
    chained = _xxh64_cte(f"{base}", "ju", "hv1", "hv2", "c2")
    qbase = _xxh64_cte(
        f"SELECT user_id, user_id::HUGEINT AS xu, j::HUGEINT AS ju "
        f"FROM (SELECT DISTINCT user_id FROM events), "
        f"(SELECT unnest(range({d})) AS j)",
        "xu",
        "42::HUGEINT",
        "hv1",
        "c1",
    )
    qchained = _xxh64_cte(f"{qbase}", "ju", "hv1", "hv2", "c2")
    return f"""
WITH sketch AS (
  SELECT ju AS row, hv2 % {w} AS bucket, count(*)::BIGINT AS cnt
  FROM ({chained}) GROUP BY 1, 2
),
q AS (
  SELECT user_id, ju AS row, hv2 % {w} AS bucket FROM ({qchained})
),
est AS (
  SELECT q.user_id, min(coalesce(s.cnt, 0))::BIGINT AS cms_n
  FROM q LEFT JOIN sketch s ON q.row = s.row AND q.bucket = s.bucket
  GROUP BY 1
)
SELECT e.user_id, t.true_n, e.cms_n
FROM est e
JOIN (SELECT user_id, count(*)::BIGINT AS true_n
      FROM events GROUP BY 1) t USING (user_id)
"""


@register("cms_user_counts", _cms_oracle_sql())
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter estimates (operators/sketches): a global
    4x1024 sketch over all events, then the point estimate for every
    distinct user vs their true count. Pure integer arithmetic — the
    oracle re-derives every counter exactly (cms_n >= true_n always, a
    property also asserted in tests/test_sketches.py)."""
    from sfa_spark.operators.sketches import cms_estimate, cms_sketch

    ev = _events(spark, sf_dir)
    sketch = cms_sketch(ev, [], "user_id", d=4, w=1024)
    queries_df = ev.select("user_id").distinct()
    est = cms_estimate(sketch, queries_df, [], "user_id", d=4, w=1024)
    true_n = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    return est.join(true_n, "user_id").select(
        "user_id", "true_n", F.col("est").alias("cms_n")
    )


@register(
    "counter_rate_1h",
    """
WITH c AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(floor(abs(value) * 1000) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) % 131072 AS ctr
  FROM events
),
d AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts, ctr,
         lag(ctr) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM c
)
SELECT user_id, bucket_ts,
       count(*) AS n_samples,
       SUM(CASE WHEN prev IS NOT NULL AND ctr < prev THEN 1 ELSE 0 END)::BIGINT
         AS n_resets,
       COALESCE(SUM(CASE WHEN prev IS NULL THEN NULL
                         WHEN ctr >= prev THEN ctr - prev
                         ELSE ctr END), 0)::BIGINT AS increase,
       round(COALESCE(SUM(CASE WHEN prev IS NULL THEN NULL
                               WHEN ctr >= prev THEN ctr - prev
                               ELSE ctr END), 0) / 3600.0, 6) AS rate
FROM d GROUP BY 1, 2
""",
)
def counter_rate_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style counter increase/rate with reset handling
    (operators/rate.py). The counter series is synthesized
    deterministically from the events table — an exact-integer running
    sum of milli-values wrapped mod 2^17, so genuine resets occur — and
    the per-hour increase counts each reset as a restart from 0."""
    from pyspark.sql.window import Window as W

    from sfa_spark.operators.rate import counter_increase

    ev = _events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ctr = F.sum(F.floor(F.abs(F.col("value")) * 1000).cast("long")).over(w) % F.lit(
        131072
    )
    c = ev.select("user_id", "ts", "event_id", ctr.alias("ctr"))
    out = counter_increase(
        c, ["user_id"], "ts", "ctr", tier="1h", order_cols=["event_id"]
    )
    return out.select(
        "user_id",
        "bucket_ts",
        "n_samples",
        F.col("n_resets").cast("long").alias("n_resets"),
        F.col("increase").cast("long").alias("increase"),
        F.round("rate", 6).alias("rate"),
    )


@register(
    "gaps_daily",
    """
WITH d AS (
  SELECT user_id, date_trunc('day', ts) AS day, ts,
         epoch_us(ts) - epoch_us(lag(ts) OVER
           (PARTITION BY user_id, date_trunc('day', ts)
            ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id, day,
       count(*) AS n_samples,
       max(gap_us) AS max_gap_us,
       SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)::BIGINT
         AS n_gaps_over_30m
FROM d GROUP BY 1, 2
""",
)
def gaps_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-gap analysis per (user, day): largest inter-sample gap and
    count of gaps over 30 minutes — the observability complement to LOCF
    gap-FILL (where did the series go dark, and for how long). One lag
    window partitioned by (key, day) + a map-side-combined aggregate;
    exact integer microseconds throughout."""
    from pyspark.sql.window import Window as W

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    w = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        ev.withColumn("gap_us", gap)
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum(
                F.when(F.col("gap_us") > 1_800_000_000, 1).otherwise(0)
            ).cast("long").alias("n_gaps_over_30m"),
        )
    )


_HIST_EDGES = [1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0]


def _hist_oracle_sql() -> str:
    edges = _HIST_EDGES
    vb = " + ".join(f"CASE WHEN value >= {e!r} THEN 1 ELSE 0 END" for e in edges)
    lo = [edges[0], *edges]
    hi = [*edges, edges[-1]]
    lo_sql = "[" + ", ".join(repr(e) for e in lo) + "]"
    hi_sql = "[" + ", ".join(repr(e) for e in hi) + "]"
    return f"""
WITH h AS (
  SELECT date_trunc('day', ts) AS day, ({vb}) AS vbucket,
         count(value)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT day, vbucket, cnt,
         SUM(cnt) OVER (PARTITION BY day ORDER BY vbucket
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY day) AS tot
  FROM h
),
x AS (
  SELECT day, vbucket, cnt, cum - cnt AS below,
         CAST(0.95 AS DOUBLE) * CAST(tot AS DOUBLE) AS rnk
  FROM c WHERE CAST(cum AS DOUBLE) >= CAST(0.95 AS DOUBLE) * CAST(tot AS DOUBLE)
),
f AS (
  SELECT day, arg_min(vbucket, vbucket) AS vb,
         arg_min(cnt, vbucket) AS cnt,
         arg_min(below, vbucket) AS below,
         arg_min(rnk, vbucket) AS rnk
  FROM x GROUP BY 1
)
SELECT f.day,
       round(({lo_sql})[vb + 1] +
             (({hi_sql})[vb + 1] - ({lo_sql})[vb + 1]) * (rnk - below) / cnt,
             6) AS p95,
       round(({lo_sql})[vb + 1] +
             (({hi_sql})[vb + 1] - ({lo_sql})[vb + 1]) * (rnk - below) / cnt,
             6) AS p95_merged,
       e.exact_p95
FROM f
JOIN (SELECT date_trunc('day', ts) AS day,
             round(quantile_cont(value, 0.95), 6) AS exact_p95
      FROM events GROUP BY 1) e USING (day)
"""


@register("hist_p95_daily", _hist_oracle_sql())
def hist_p95_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bucket histogram tier + histogram_quantile
    (operators/histogram.py): ``p95`` from a 1d histogram built off the
    raw scan, ``p95_merged`` from HOURLY histograms merged up to days by
    element-wise count addition — bit-equal because merged counts are
    identical. ``exact_p95`` (Spark percentile == DuckDB quantile_cont,
    both linear-interpolation) shows the bucketing error in-row."""
    from sfa_spark.operators.histogram import hist_merge, hist_quantile, hist_rollup

    ev = _events(spark, sf_dir).withColumn("day", F.date_trunc("day", F.col("ts")))
    direct = hist_quantile(
        hist_rollup(ev, ["day"], "ts", "value", _HIST_EDGES, tier="1d").withColumnRenamed(
            "bucket_ts", "hday"
        ).drop("hday"),
        ["day"],
        _HIST_EDGES,
        0.95,
    ).withColumnRenamed("est", "p95")
    hourly = hist_rollup(ev, ["day"], "ts", "value", _HIST_EDGES, tier="1h")
    merged = hist_quantile(
        hist_merge(hourly, ["day"]), ["day"], _HIST_EDGES, 0.95
    ).withColumnRenamed("est", "p95_merged")
    exact = ev.groupBy("day").agg(
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("exact_p95")
    )
    return direct.join(merged, "day").join(exact, "day").select(
        "day", "p95", "p95_merged", "exact_p95"
    )


def _shuffle_oracle_sql() -> str:
    seed, n_shards = 7, 8
    base = _xxh64_cte(
        "SELECT doc_id, doc_id::HUGEINT AS xu, "
        f"{seed}::HUGEINT AS su FROM documents",
        "xu",
        "42::HUGEINT",
        "hv1",
        "s1",
    )
    chained = _xxh64_cte(base, "su", "hv1", "hv2", "s2")
    return f"""
WITH h AS (
  SELECT doc_id, hv2 % {n_shards} AS shard,
         CAST(CASE WHEN hv2 >= 9223372036854775808::HUGEINT
                   THEN hv2 - 18446744073709551616::HUGEINT
                   ELSE hv2 END AS BIGINT) AS hs
  FROM ({chained})
)
SELECT doc_id, shard::BIGINT AS shard,
       (row_number() OVER (PARTITION BY shard ORDER BY hs, doc_id) - 1)
         AS pos
FROM h
"""


@register("train_shuffle_shards", _shuffle_oracle_sql())
def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data shuffle + sharding
    (operators/shuffle.py): seeded xxhash64 permutation split into 8
    worker shards with dense per-shard positions — reproducible across
    partitioning, insert order, and cluster size. The oracle re-derives
    the chained production hash in HUGEINT SQL and re-ranks with the
    SIGNED hash ordering Spark uses."""
    from sfa_spark.operators.shuffle import shuffle_shards

    docs = _documents(spark, sf_dir).select("doc_id")
    return shuffle_shards(docs, "doc_id", seed=7, n_shards=8)


@register("bpe_merges_docs")
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (operators/bpe.py): the first 20 learned
    merges over the documents corpus. NO SQL ORACLE by design: an
    iterative global argmax with re-segmentation between steps is not
    SQL-expressible — the driver records the rows-only check; the strong
    check is exact merge-list parity against an independent scalar
    implementation (tests/test_bpe.py). Deterministic: count-then-
    lexicographic tie-break makes the merge list a pure function of the
    corpus."""
    from sfa_spark.operators.bpe import train_bpe

    merges = train_bpe(
        spark,
        _documents(spark, sf_dir),
        n_merges=20,
        min_count=2,
        min_word_freq=2,
    )
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, left string, right string, cnt long",
    )


@register("bpe_token_counts_docs")
def bpe_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode applied corpus-wide (operators/bpe.bpe_token_counts):
    train 20 merges, then per-document word + BPE-token counts — the
    distinct-word table carries the per-word encode, a broadcast join
    maps it back over the corpus. Rows-only like bpe_merges_docs (same
    non-SQL-expressible iterative core, disclosed); the strong checks
    are the encode==training-segmentation property and the scalar e2e
    parity in tests/test_bpe.py."""
    from sfa_spark.operators.bpe import bpe_token_counts, train_bpe

    docs = _documents(spark, sf_dir)
    merges = train_bpe(spark, docs, n_merges=20, min_count=2, min_word_freq=2)
    return bpe_token_counts(spark, docs, merges)


@register(
    "numerosity_event_type",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id, count(*) AS n_after_reduction
FROM seq WHERE prev IS NULL OR event_type <> prev
GROUP BY user_id
""",
)
def numerosity_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's numerosity reduction (BOSS.java:132-141) applied to
    the event_type symbol stream per user."""
    from sfa_spark.operators.boss import numerosity_reduction

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts"), "event_id", F.col("event_type").alias("word")
    )
    # deterministic order: (ts, event_id)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    red = (
        ev.withColumn("_prev", F.lag("word").over(w))
        .filter(F.col("_prev").isNull() | (F.col("word") != F.col("_prev")))
    )
    return red.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_after_reduction"))


@register(
    "tfidf_lang_token",
    f"""
WITH toks AS (
  SELECT DISTINCT lang, unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS token, doc_id
  FROM documents
), bags AS (
  SELECT lang, token, count(*) AS freq FROM toks GROUP BY lang, token
), dfreq AS (
  SELECT token, count(DISTINCT lang) AS df FROM bags GROUP BY token
), n AS (SELECT count(DISTINCT lang) AS c FROM documents),
raw AS (
  SELECT b.lang, b.token,
         CASE WHEN d.df = n.c THEN 0.0
              ELSE (1.0 + log10(b.freq)) / log10(1.0 + n.c / d.df) END AS tfidf
  FROM bags b JOIN dfreq d USING (token) CROSS JOIN n
)
SELECT lang, token,
       round(CASE WHEN l2 > 0 THEN tfidf / l2 ELSE 0.0 END, 6) AS tfidf
FROM (SELECT lang, token, tfidf,
             sqrt(sum(tfidf * tfidf) OVER (PARTITION BY lang)) AS l2
      FROM raw)
""",
)
def tfidf_lang_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference tf-idf (BOSSVS.java:58-110 formula incl. the division
    quirk + L2 norm) over (lang → token) document bags."""
    from sfa_spark.operators.boss import tfidf_class_matrix
    from sfa_spark.operators.textstats import tokens

    d = _documents(spark, sf_dir)
    bags = (
        d.select("doc_id", F.col("lang").alias("label"),
                 F.explode(F.array_distinct(tokens(F.col("text")))).alias("word"))
        .groupBy("doc_id", "label", "word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    mat = tfidf_class_matrix(bags)
    return mat.select(
        F.col("label").alias("lang"),
        F.col("word").alias("token"),
        F.round("tfidf", 6).alias("tfidf"),
    )


@register(
    "knn_cosine_top3",
    """
WITH uq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS embedding
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding), 6) AS score
  FROM embeddings e CROSS JOIN uq q
)
SELECT query_id, vec_id, score, rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id ASC
  ) AS rnk FROM scored
) WHERE rnk <= 3
""",
)
def knn_cosine_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline/oracle), ranked on the
    6-dp-rounded score so ties break identically in both engines."""
    from pyspark.sql.window import Window as W

    from sfa_spark.operators.similarity import _dot, with_unit_vectors

    emb = _embeddings(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qe"))
    )
    c = with_unit_vectors(emb, "embedding", "_cu").select("vec_id", "_cu")
    qu = with_unit_vectors(
        q.withColumnRenamed("_qe", "embedding"), "embedding", "_qu"
    ).select("query_id", "_qu")
    scored = c.crossJoin(F.broadcast(qu)).select(
        "query_id",
        "vec_id",
        F.round(_dot(F.col("_cu"), F.col("_qu")), 6).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "vec_id", "score", "rnk")
    )


@register(
    "ivf_cosine_top3",
    """
WITH uq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS embedding
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding), 6) AS score
  FROM embeddings e CROSS JOIN uq q
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id ASC
  ) AS rank FROM scored
) WHERE rank <= 3
""",
)
def ivf_cosine_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-list coarse quantizer) run in its EXACT mode —
    nprobe == n_centroids probes every list, so the whole IVF machinery
    (sampled spherical k-means fit, distributed matmul assignment,
    bucketed probe join, rescore) must reproduce brute force bit-for-bit
    against the same DuckDB oracle the brute-force query uses. The
    approximate setting (nprobe < n_centroids) is recall-tested in
    pytest (no SQL form — depends on the learned centroids)."""
    from sfa_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        emb, q, k=3, n_centroids=8, nprobe=8, round_to=6
    )


def _pinned_ivf_centroids(dim: int = 64, k: int = 8, seed: int = 42) -> "object":
    """Deterministic pinned coarse-quantizer centroids for the
    APPROXIMATE-mode oracle: seeded gaussian unit vectors, components
    rounded to 6 dp so the SQL literals and the numpy array hold the
    IDENTICAL float64 values (repr round-trips, DuckDB's strtod is
    correctly rounded). Rounded vectors are only ~unit — both engines
    use them AS-IS (no renormalization), so that's irrelevant to
    parity. The probe structure is what's under test, not centroid
    quality."""
    import numpy as np

    rng = np.random.default_rng(seed)
    c = rng.standard_normal((k, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return np.round(c, 6)


def _ivf_probe_oracle_sql() -> str:
    """DuckDB re-derivation of the IVF APPROXIMATE path (nprobe=2 of 8):
    corpus rows route to their argmax-similarity list, queries probe
    their top-2 lists, rescoring runs only inside probed lists. The
    routing similarity is ``dot(v, c)/|v|`` — the centroid literals are
    used unrenormalized to match the Spark side exactly — rounded to
    6 dp with ties to the LOWEST centroid id, mirroring
    ``_ivf_assign_udf(round_to=6)``'s stable argsort."""
    cent = _pinned_ivf_centroids()
    rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(float(x)) for x in cent[i])
        )
        for i in range(cent.shape[0])
    )
    return f"""
WITH cent(cid, cv) AS (
  VALUES
    {rows}
), uq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE vec_id < 5
), corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), cassign AS (
  SELECT vec_id, cid AS list_id FROM (
    SELECT c.vec_id, ct.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(CASE WHEN c.nrm > 0
                            THEN list_dot_product(c.v, ct.cv) / c.nrm
                            ELSE 0 END, 6) DESC, ct.cid ASC
           ) AS rn
    FROM corpus c CROSS JOIN cent ct
  ) WHERE rn = 1
), qprobe AS (
  SELECT query_id, cid AS list_id FROM (
    SELECT q.query_id, ct.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(CASE WHEN q.nrm > 0
                            THEN list_dot_product(q.v, ct.cv) / q.nrm
                            ELSE 0 END, 6) DESC, ct.cid ASC
           ) AS rn
    FROM uq q CROSS JOIN cent ct
  ) WHERE rn <= 2
), scored AS (
  SELECT qp.query_id, ca.vec_id,
         round(list_cosine_similarity(c.v, q.v), 6) AS score
  FROM qprobe qp
  JOIN cassign ca ON ca.list_id = qp.list_id
  JOIN corpus c ON c.vec_id = ca.vec_id
  JOIN uq q ON q.query_id = qp.query_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id ASC
  ) AS rank FROM scored
) WHERE rank <= 3
"""


@register("ivf_probe_top3", _ivf_probe_oracle_sql())
def ivf_probe_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in its APPROXIMATE mode — nprobe=2 of 8 lists, the mode a
    100 TB corpus actually runs (the round-4 verdict's oracle gap: only
    the degenerate nprobe=all mode had a driver oracle). Centroids are
    PINNED deterministic literals shared with the SQL side, and the
    routing argmax ranks on 6-dp-rounded similarities with cid-asc ties
    (``round_assign=6``), so the probe sets — and therefore the
    approximate result — are bit-reproducible across engines. The
    result may legitimately differ from brute force; the oracle
    recomputes the same approximate semantics, not exact top-k."""
    from sfa_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        emb,
        q,
        k=3,
        nprobe=2,
        centroids=_pinned_ivf_centroids(),
        round_to=6,
        round_assign=6,
    )


@register("ivf_index_top3", _ivf_probe_oracle_sql())
def ivf_index_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTENT IVF index (TableIO snapshot, corpus partitioned by
    inverted-list id, centroids in the manifest) answering the same
    pinned-centroid nprobe=2 workload as ivf_probe_top3 — and checked
    against the SAME DuckDB oracle: build-once + partition-pruned reads
    must be bit-identical to the ephemeral path's semantics. Probes are
    computed driver-side; only the probed lists' files are read."""
    import tempfile

    from sfa_spark.operators.similarity import build_ivf_index, query_ivf_index

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with tempfile.TemporaryDirectory(prefix="sfa_ivf_") as tmp:
        build_ivf_index(
            emb, tmp + "/index", centroids=_pinned_ivf_centroids(), round_assign=6
        )
        out, stats = query_ivf_index(
            spark, tmp + "/index", q, k=3, nprobe=2, round_to=6, round_assign=6
        )
        pdf = out.toPandas()  # materialize before the scoped root vanishes
    return spark.createDataFrame(pdf, schema=out.schema)


def _pinned_lsh_planes(
    dim: int = 64, n_planes: int = 4, n_tables: int = 2, seed: int = 29
):
    """Deterministic pinned hyperplanes for the LSH oracle, 6-dp-rounded
    so SQL literals == the numpy array exactly (same policy as the IVF
    pinned centroids). Sign decisions are on O(1)-magnitude projections,
    so cross-engine float noise (~1e-16) flipping a bucket bit has
    negligible probability — the same exposure every rounded-score
    oracle in this file accepts."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return np.round(rng.standard_normal((n_tables, n_planes, dim)), 6)


def _lsh_bucket_cte(planes, src: str, idc: str) -> str:
    """Shared SQL fragment: per-table sign-bit bucket ids over the rows
    of ``src`` (which must expose ``v`` as DOUBLE[]). The sign of v·h is
    invariant to the unit normalization the Spark side applies first."""
    n_tables, n_planes, _ = planes.shape
    parts = []
    for t in range(n_tables):
        terms = []
        for i in range(n_planes):
            lits = ", ".join(repr(float(x)) for x in planes[t, i])
            terms.append(
                f"(CASE WHEN list_dot_product(v, [{lits}]::DOUBLE[]) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        parts.append(f"SELECT {idc}, {t} AS t, {' + '.join(terms)} AS b FROM {src}")
    return "\nUNION ALL\n".join(parts)


def _lsh_oracle_sql() -> str:
    """DuckDB re-derivation of random-hyperplane LSH top-k: per-table
    bucket id = Σ 2^i·[v·h_i > 0], candidates = same (table, bucket)
    equi-join, dedup, rescore by 6-dp cosine, top-3."""
    planes = _pinned_lsh_planes()

    def buckets_cte(src: str, idc: str) -> str:
        return _lsh_bucket_cte(planes, src, idc)

    return f"""
WITH uq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < 5
), corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cb AS (
  {buckets_cte('corpus', 'vec_id')}
), qb AS (
  {buckets_cte('uq', 'query_id')}
), cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM qb JOIN cb ON qb.t = cb.t AND qb.b = cb.b
), scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_cosine_similarity(co.v, q.v), 6) AS score
  FROM cand c
  JOIN corpus co ON co.vec_id = c.vec_id
  JOIN uq q ON q.query_id = c.query_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id ASC
  ) AS rank FROM scored
) WHERE rank <= 3
"""


@register("lsh_cosine_top3", _lsh_oracle_sql())
def lsh_cosine_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-k with PINNED planes — closes the
    last similarity operator without a driver oracle (r4 verdict table:
    lsh_topk had only action-free-plan + recall tests). The candidate
    set is a deterministic function of the sign buckets, recomputed
    bit-for-bit by the SQL side from the same 6-dp plane literals."""
    from sfa_spark.operators.similarity import lsh_topk

    emb = _embeddings(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(
        emb,
        q,
        k=3,
        n_planes=4,
        n_tables=2,
        planes=_pinned_lsh_planes(),
        round_to=6,
    )


def _cosine_near_dup_oracle_sql() -> str:
    """DuckDB re-derivation of LSH-bucketed embedding near-dup: the
    corpus is seeded with ×2-scaled copies of every 10th vector (cosine
    with the original is exactly 1 — scaling preserves direction AND
    sign buckets, so each pair is guaranteed a shared bucket), then
    bucket-join candidates with id_a < id_b, 6-dp cosine ≥ 0.95."""
    planes = _pinned_lsh_planes()
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding::DOUBLE[], x -> x * 2)
  FROM embeddings WHERE vec_id % 10 = 0
), vb AS (
  {_lsh_bucket_cte(planes, 'base', 'vec_id')}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM vb a JOIN vb b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
), scored AS (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(x.v, y.v), 6) AS cosine
  FROM cand c
  JOIN base x ON x.vec_id = c.id_a
  JOIN base y ON y.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.95
"""


@register("cosine_near_dups", _cosine_near_dup_oracle_sql())
def cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection, LSH-bucketed, with
    pinned planes — the testdata has no natural near-dups (random 64-d
    cosines ≥0.95 are ~7.6σ events), so the query seeds ×2-scaled copies
    of every 10th vector on BOTH sides (same construction as
    exact_dup_groups' doc_id-shifted copies). Scaling preserves both the
    cosine (exactly 1) and every sign bucket, so the candidate generator
    must recover every seeded pair or lose rows vs the oracle."""
    from sfa_spark.operators.similarity import cosine_near_dup

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    seeded = emb.unionAll(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
    )
    return cosine_near_dup(
        seeded,
        threshold=0.95,
        n_planes=4,
        n_tables=2,
        planes=_pinned_lsh_planes(),
        round_to=6,
        max_bucket=None,
    )


def _fingerprint_oracle_sql() -> str:
    """DuckDB re-derivation of the rolling-hash document fingerprint:
    hash_j = Σ_i byte[j+i] · base^i (mod 2^64) over 64-byte windows,
    keep the 8 smallest DISTINCT hashes (unsigned order), reinterpreted
    as signed int64 — exactly operators/textstats.rolling_fingerprints.
    The mod-2^64 powers are Python-computed literals (numpy's uint64
    wraparound ≡ pow(base, i, 2^64)); the testdata text is pure ASCII
    (asserted by construction), so unicode(substr(…)) IS the byte. Short
    docs (<64 bytes) hash their full length as one window, matching the
    kernel's short branch."""
    base = 1099511628211
    powers = [pow(base, i, 1 << 64) for i in range(64)]
    pw_vals = ", ".join(f"({i}, {p}::HUGEINT)" for i, p in enumerate(powers))
    return f"""
WITH pw(i, p) AS (VALUES {pw_vals}),
t AS (SELECT doc_id, text, len(text) AS n FROM documents),
w AS (
  SELECT doc_id, text, n,
         unnest(range(0, greatest(n - 63, 1))) AS j
  FROM t
), terms AS (
  SELECT w.doc_id, w.j,
         unicode(substr(w.text, CAST(w.j + pw.i + 1 AS INT), 1))::HUGEINT * pw.p AS term
  FROM w JOIN pw ON w.j + pw.i < w.n
), h AS (
  SELECT doc_id, j, SUM(term) % 18446744073709551616::HUGEINT AS hv
  FROM terms GROUP BY 1, 2
), d AS (SELECT DISTINCT doc_id, hv FROM h)
SELECT doc_id, rank, fp FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY hv) AS rank,
         CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
              THEN hv - 18446744073709551616::HUGEINT ELSE hv END AS BIGINT) AS fp
  FROM d
) WHERE rank <= 8
"""


@register("doc_fingerprints", _fingerprint_oracle_sql())
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprints per document, exploded
    to (doc_id, rank, fp) rows — promotes the last text operator that
    had only pytest coverage to a bit-exact DuckDB oracle (the hash is
    re-derived in HUGEINT arithmetic, the minhash/simhash promotion
    pattern)."""
    from sfa_spark.operators.textstats import rolling_fingerprints

    fp = rolling_fingerprints(_documents(spark, sf_dir))
    return fp.select(
        "doc_id", F.posexplode("fingerprint").alias("rank0", "fp")
    ).select("doc_id", (F.col("rank0") + 1).alias("rank"), "fp")


def _profile_sql(lang: str) -> str:
    from sfa_spark.operators.textstats import _LANG_PROFILES

    words = ", ".join(f"'{w}'" for w in _LANG_PROFILES[lang])
    return f"len(list_intersect(toks, [{words}]))"


@register(
    "lang_id_docs",
    f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(string_split({_NORM_TEXT_SQL}, ' ')) AS toks
  FROM documents
), h AS (
  SELECT doc_id,
         {_profile_sql('de')} AS hde, {_profile_sql('en')} AS hen,
         {_profile_sql('es')} AS hes, {_profile_sql('fr')} AS hfr,
         {_profile_sql('it')} AS hit
  FROM t
)
SELECT doc_id,
       CASE WHEN greatest(hde, hen, hes, hfr, hit) = 0 THEN 'und'
            WHEN hit = greatest(hde, hen, hes, hfr, hit) THEN 'it'
            WHEN hfr = greatest(hde, hen, hes, hfr, hit) THEN 'fr'
            WHEN hes = greatest(hde, hen, hes, hfr, hit) THEN 'es'
            WHEN hen = greatest(hde, hen, hes, hfr, hit) THEN 'en'
            ELSE 'de' END AS lang_guess
FROM h
""",
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language-ID per document; ties break toward the
    lexicographically larger language code in BOTH engines (Spark's
    struct array_max vs the SQL CASE order it>fr>es>en>de)."""
    from sfa_spark.operators.textstats import lang_id

    return _documents(spark, sf_dir).select(
        "doc_id", lang_id(F.col("text")).alias("lang_guess")
    )


@register(
    "exact_dup_groups",
    f"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0
),
h AS (SELECT doc_id, {_NORM_TEXT_SQL} AS k FROM docs2),
g AS (SELECT k, min(doc_id) AS keeper_id FROM h GROUP BY k)
SELECT g.keeper_id, h.doc_id AS dup_id
FROM h JOIN g USING (k) WHERE h.doc_id <> g.keeper_id
""",
)
def exact_dup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(keeper, dup) pairs — the testdata has no identical texts, so the
    query unions in a doc_id-shifted copy of every third document (same
    construction on both sides) so the group logic is actually exercised."""
    from sfa_spark.operators.dedup import exact_dup_groups

    d = _documents(spark, sf_dir).select("doc_id", "text")
    seeded = d.unionAll(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    return exact_dup_groups(seeded)


def _stopwords_sql() -> str:
    from sfa_spark.operators.textstats import _STOPWORDS_EN

    return "[" + ", ".join(f"'{w}'" for w in sorted(_STOPWORDS_EN)) + "]"


@register(
    "quality_docs",
    f"""
WITH t AS (
  SELECT doc_id, text,
         string_split({_NORM_TEXT_SQL}, ' ') AS toks,
         length(text) AS n_chars
  FROM documents
), f AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
         length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
             / greatest(n_chars, 1) AS punct_ratio,
         length(regexp_replace(text, '[^0-9]', '', 'g'))
             / greatest(n_chars, 1) AS digit_ratio,
         len(list_filter(toks, w -> list_contains({{STOPS}}, w)))
             / greatest(len(toks), 1) AS stopword_ratio,
         n_chars / greatest(len(toks), 1) AS mean_word_len,
         len(list_distinct(toks)) / greatest(len(toks), 1) AS distinct_ratio
  FROM t
)
SELECT doc_id, n_chars, n_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(mean_word_len, 6) AS mean_word_len,
       round(distinct_ratio, 6) AS distinct_ratio,
       round(
         (least(n_tokens / 100.0, 1.0)
          + least(stopword_ratio * 4, 1.0)
          + distinct_ratio) / 3
         * greatest(1.0 - punct_ratio * 5, 0.0)
         * greatest(1.0 - digit_ratio * 5, 0.0), 6) AS quality
FROM f
""",
)
def quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + scalar score per document (textstats.py:71-112),
    ratios rounded to 6 dp on both sides."""
    from sfa_spark.operators.textstats import quality_score

    q = quality_score(_documents(spark, sf_dir))
    return q.select(
        "doc_id",
        F.col("q_n_chars").alias("n_chars"),
        F.col("q_n_tokens").alias("n_tokens"),
        F.round("q_punct_ratio", 6).alias("punct_ratio"),
        F.round("q_digit_ratio", 6).alias("digit_ratio"),
        F.round("q_stopword_ratio", 6).alias("stopword_ratio"),
        F.round("q_mean_word_len", 6).alias("mean_word_len"),
        F.round("q_distinct_token_ratio", 6).alias("distinct_ratio"),
        F.col("quality"),
    )


# patch the stopword list into the oracle at import time (single source
# of truth: the python profile set)
_ORACLES["quality_docs"] = _ORACLES["quality_docs"].replace(
    "{STOPS}", _stopwords_sql()
)


@register(
    "ngram_jaccard_consecutive",
    f"""
WITH words AS (
  SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS w FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
  FROM words, LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
), pairs AS (
  SELECT d1.doc_id AS id_a, d2.doc_id AS id_b
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
), inter AS (
  SELECT p.id_a, p.id_b, count(*) AS i
  FROM pairs p
  JOIN grams ga ON ga.doc_id = p.id_a
  JOIN grams gb ON gb.doc_id = p.id_b AND gb.gram = ga.gram
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       round(coalesce(i.i, 0) / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
""",
)
def ngram_jaccard_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard (dedup.py ngram_jaccard_pairs — pure set
    algebra) over the deterministic candidate set (doc_id, doc_id+1)."""
    from sfa_spark.operators.dedup import ngram_jaccard_pairs

    d = _documents(spark, sf_dir)
    ids = d.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b")
    )
    out = ngram_jaccard_pairs(d, pairs, n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "decode_roundtrip_1h",
    """
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         arg_max(value, ts) AS lastv
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM agg GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
  FROM span
), joined AS (
  SELECT s.user_id, s.bucket_ts, a.lastv
  FROM spine s LEFT JOIN agg a USING (user_id, bucket_ts)
)
SELECT user_id, bucket_ts,
       last_value(lastv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value
FROM joined
""",
)
def decode_roundtrip_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END codec oracle: 1h tier → fused LOCF gap-fill + Gorilla/DoD
    encode → DECODE back to rows, hash-compared against DuckDB's own
    gap-fill. Any bit error in either codec or the fused kernel flips the
    hash (value equality is exact float64 — no sums involved)."""
    from sfa_spark.encode import decode_blocks, encode_tier_blocks_gapfill

    t1h = rollup_tier(_events(spark, sf_dir), ["user_id"], "ts", "value", "1h")
    blocks = encode_tier_blocks_gapfill(t1h, "user_id", tier="1h")
    return decode_blocks(blocks, "user_id").select("user_id", "bucket_ts", "value")


@register(
    "cosine_pairs_consecutive",
    """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
SELECT id_a, id_b, cosine FROM pairs
""",
)
def cosine_pairs_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding cosine for the deterministic candidate set
    (vec_id, vec_id+1) — the verify stage of cosine_near_dup with a
    SQL-expressible candidate generator, oracled against DuckDB's
    list_cosine_similarity."""
    from sfa_spark.operators.similarity import _dot, with_unit_vectors

    emb = _embeddings(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    u = with_unit_vectors(emb, "embedding", "_u").select("vec_id", "_u")
    a = u.select(F.col("vec_id").alias("id_a"), F.col("_u").alias("_ua"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("_u").alias("_ub"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", F.round(_dot(F.col("_ua"), F.col("_ub")), 6).alias("cosine"))
    )


# --- signature-sketch oracles ---------------------------------------------
# The FNV-style shingle hashes and the minhash/simhash sketches are pure
# INTEGER arithmetic (uint64 wraparound + Mersenne mod) — DuckDB computes
# them EXACTLY with HUGEINT: bytes come from hex-pair indexing of the
# lowered utf-8 text, the k=5 window hash is Σ byte·FNV^j mod 2^64, and
# the seeded hash-family constants are generated in Python (same
# np.random.default_rng draw as the engine) and inlined as literals.

_FNV = 1099511628211
_U64 = 1 << 64
_MERSENNE_SQL = (1 << 61) - 1


def _shingle_sql_parts() -> str:
    """The shared shingle-hash window expression over (hx, len, p)."""
    pows = [pow(_FNV, j, _U64) for j in range(5)]
    byte = (
        "(CASE WHEN (p+{o})*2+2 <= length(hx) "
        "THEN (('0x'||substr(hx, (p+{o})*2+1, 2))::INTEGER)::HUGEINT "
        "ELSE 0::HUGEINT END)"
    )
    return " + ".join(f"{byte.format(o=j)} * {pows[j]}::HUGEINT" for j in range(5))


def _minhash_oracle_sql() -> str:
    import numpy as np

    rng = np.random.default_rng(1)  # same draw as minhash_signatures(seed=1)
    a = rng.integers(1, _MERSENNE_SQL, size=64, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE_SQL, size=64, dtype=np.uint64)
    consts = ", ".join(
        f"({i}, {int(a[i])}::HUGEINT, {int(b[i])}::HUGEINT)" for i in range(64)
    )
    return f"""
WITH consts(i, ca, cb) AS (VALUES {consts}),
d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         hex(encode(lower(text))) AS hx,
         greatest(octet_length(encode(lower(text))), 5) AS len
  FROM documents
), px AS (
  SELECT doc_id, hx, unnest(generate_series(0, len - 5)) AS p FROM d
), sh AS (
  SELECT DISTINCT doc_id, ({_shingle_sql_parts()}) % {_U64}::HUGEINT AS h FROM px
), sig AS (
  SELECT s.doc_id, c.i,
         CAST(min(((c.ca * s.h + c.cb) % {_U64}::HUGEINT)
                  % {_MERSENNE_SQL}::HUGEINT) AS BIGINT) AS m
  FROM sh s CROSS JOIN consts c GROUP BY 1, 2
), bands AS (
  SELECT doc_id, j, list(m ORDER BY i) AS bv
  FROM sig, generate_series(0, 15) AS t(j)
  WHERE i >= j * 4 AND i < j * 4 + 4
  GROUP BY doc_id, j
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id
), est AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0 AS jaccard_est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
  GROUP BY 1, 2
)
SELECT id_a, id_b, jaccard_est FROM est WHERE jaccard_est >= 0.5
"""


def _simhash_oracle_sql() -> str:
    pw = ", ".join(f"({i}, {1 << i}::HUGEINT)" for i in range(64))
    cw = ", ".join(f"({i}, {1 << (16 * i)}::HUGEINT)" for i in range(4))
    return f"""
WITH raw AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT CAST(doc_id + 1000000 AS BIGINT), text || ' appended footer'
  FROM documents WHERE doc_id < 100 AND doc_id % 4 = 0
), d AS (
  SELECT doc_id, hex(encode(lower(text))) AS hx,
         greatest(octet_length(encode(lower(text))), 5) AS len
  FROM raw
), px AS (
  SELECT doc_id, hx, unnest(generate_series(0, len - 5)) AS p FROM d
), sh AS (
  SELECT DISTINCT doc_id, ({_shingle_sql_parts()}) % {_U64}::HUGEINT AS h FROM px
), pw(bit, v) AS (VALUES {pw}),
cnt AS (
  SELECT s.doc_id, w.bit,
         sum(CASE WHEN (s.h // w.v) % 2 = 1 THEN 1 ELSE 0 END) AS c,
         count(*) AS n
  FROM sh s CROSS JOIN pw w GROUP BY 1, 2
), fp AS (
  SELECT c.doc_id,
         sum(CASE WHEN 2 * c.c > c.n THEN w.v ELSE 0::HUGEINT END)::HUGEINT AS fpu
  FROM cnt c JOIN pw w USING (bit) GROUP BY 1
), fps AS (
  SELECT doc_id, fpu,
         CAST(CASE WHEN fpu >= {1 << 63}::HUGEINT THEN fpu - {_U64}::HUGEINT
              ELSE fpu END AS BIGINT) AS fp
  FROM fp
), cw(ci, dv) AS (VALUES {cw}),
chunks AS (
  SELECT f.doc_id, f.fp, c.ci, CAST((f.fpu // c.dv) % 65536 AS BIGINT) AS cv
  FROM fps f CROSS JOIN cw c
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fa, b.fp AS fb
  FROM chunks a
  JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 3
"""


@register("simhash_near_dups", _simhash_oracle_sql())
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (pigeonhole chunk join + bit_count
    verify). The testdata has no near-dups, so every 4th document is
    unioned back with a lightly edited copy — the query must recover
    exactly those planted pairs.

    Oracled bit-exactly in DuckDB (previously rows-only): shingle FNV
    window hashes, per-bit majority, two's-complement fingerprint, the
    16-bit pigeonhole chunk join and the hamming verify all reproduce in
    HUGEINT integer arithmetic. The only semantic difference is the
    candidate bucket key (the oracle joins on chunk VALUES directly —
    identical semantics, no hash); the >500 degenerate-bucket guard
    can't fire at driver scale (≤500 docs total) so it is omitted."""
    from sfa_spark.operators.dedup import simhash_dedup

    # bounded scope: the synthetic corpus is template-generated, so loose
    # hamming thresholds over ALL docs explode combinatorially — restrict
    # to 100 docs + their planted edits and a tight threshold
    d = _documents(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    edited = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended footer")).alias("text"),
    )
    return simhash_dedup(d.unionAll(edited), max_hamming=3)


@register(
    "multimodal_features",
    """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS len
  FROM documents WHERE doc_id < 200
), px AS (
  SELECT media_id,
         (i // 96) // 8 AS by,
         ((i // 3) % 32) // 8 AS bx,
         i % 3 AS ch,
         CASE WHEN len = 0 THEN 0
              ELSE ('0x' || substr(hx, ((i % len) * 2) + 1, 2))::INTEGER END AS b
  FROM d, generate_series(0, 2303) AS t(i)
), cell AS (
  SELECT media_id, by, bx, ch,
         CAST(CAST(sum(b) / 64.0 AS FLOAT) AS DOUBLE) AS f
  FROM px GROUP BY 1, 2, 3, 4
)
SELECT media_id, CAST(count(*) AS INT) AS n_features,
       round(sum(f) / count(*), 4) AS mean_feature
FROM cell GROUP BY 1
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over opaque binary payloads: documents' text
    bytes become the payload column with typed metadata, then the
    mapInPandas decode→pool feature kernel runs with the deterministic
    fake decoder (a real image codec is injected through the
    ``decoder=`` seam of ``multimodal.extract_features``).

    Oracled bit-exactly in DuckDB: the fake decoder tiles the payload
    bytes to h·w·c = 24·32·3 (np.resize cycling ≡ ``i % len`` byte
    indexing via hex-pair extraction), the 8×8 pool means are exact
    doubles (integer sums / 64), quantized to float32 exactly as the
    engine's ``array<float>`` feature column is."""
    from sfa_spark.operators.multimodal import extract_features, fake_image_decoder

    d = _documents(spark, sf_dir).filter(F.col("doc_id") < 200)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(32).alias("width"),
            F.lit(24).alias("height"),
            F.lit(3).alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, decoder=fake_image_decoder)
    return feats.select(
        "media_id",
        F.size("features").alias("n_features"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, v: a + v)
            / F.size("features"),
            4,
        ).alias("mean_feature"),
    )


@register(
    "audio_tone_stats",
    """
WITH ids AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS media_id
  FROM events WHERE user_id < 40
), s AS (
  SELECT media_id, t.i AS t,
         abs(((t.i * (3 + media_id)) % 48000) - 24000) - 12000 AS v
  FROM ids, generate_series(0, 1999) t(i)
), lagged AS (
  SELECT media_id, v,
         lag(v) OVER (PARTITION BY media_id ORDER BY t) AS pv
  FROM s
), agg AS (
  SELECT media_id,
         sqrt(sum(CAST(v AS DOUBLE) * v) / 2000.0) / 32768.0 AS rms,
         max(abs(v)) / 32768.0 AS peak
  FROM s GROUP BY 1
), z AS (
  SELECT media_id,
         sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                  THEN 1 ELSE 0 END) / 1999.0 AS zcr
  FROM lagged GROUP BY 1
), sil AS (
  SELECT s.media_id,
         avg(CASE WHEN abs(s.v / 32768.0) < greatest(0.02, 0.05 * a.peak)
                  THEN 1.0 ELSE 0.0 END) AS silence_ratio
  FROM s JOIN agg a USING (media_id) GROUP BY 1
)
SELECT a.media_id, round(0.25, 6) AS duration_s, round(a.rms, 6) AS rms,
       round(a.peak, 6) AS peak, round(z.zcr, 6) AS zcr,
       round(sil.silence_ratio, 6) AS silence_ratio
FROM agg a JOIN z USING (media_id) JOIN sil USING (media_id)
""",
)
def audio_tone_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline through REAL WAV bytes, end to end: per user_id a
    deterministic integer triangle tone (period and thus pitch varies
    with the id) is encoded to a PCM-16 WAV payload, shipped through
    the media schema, decoded by the stdlib WAV parser behind the
    ``audio_or_fake_decoder`` seam, and reduced to its non-spectral DSP
    features (sfa_spark.operators.audio).

    Oracled bit-exactly in DuckDB: the integer triangle samples
    regenerate in SQL (abs((t·k) mod 4A − 2A) − A), PCM-16 encode →
    decode is exact (integer-valued floats, no rounding), and
    RMS/peak/ZCR/silence re-derive in closed form — both sides use
    the same IEEE doubles so even the silence threshold comparison
    (greatest(0.02, 0.05·peak)) lands identically; 6-dp rounding on
    order-sensitive sums only."""
    import numpy as np
    import pandas as pd

    from sfa_spark.operators.audio import encode_wav, extract_audio_features
    from sfa_spark.operators.multimodal import MEDIA_SCHEMA

    ids = (
        _events(spark, sf_dir)
        .select(F.col("user_id").cast("long").alias("media_id"))
        .filter(F.col("media_id") < 40)
        .distinct()
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                k = 3 + int(mid)
                t = np.arange(2000, dtype=np.int64)
                v = np.abs((t * k) % 48000 - 24000) - 12000
                rows.append(
                    {
                        "media_id": int(mid),
                        "kind": "audio",
                        "payload": encode_wav((v / 32768.0).reshape(-1, 1), 8000),
                        "meta": {
                            "width": None, "height": None, "channels": 1,
                            "sample_rate": 8000, "duration_ms": 250,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(gen, schema=MEDIA_SCHEMA)
    feats = extract_audio_features(media)
    return feats.select(
        "media_id",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
        F.round("zcr", 6).alias("zcr"),
        F.round("silence_ratio", 6).alias("silence_ratio"),
    )


@register(
    "knn_word_index",
    """
WITH ser AS (
  SELECT CAST(user_id AS BIGINT) AS key,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS idx,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE user_id < 40
), len AS (
  SELECT key, max(idx) AS maxidx FROM ser GROUP BY 1
), qkeys AS (
  SELECT key AS qid FROM (
    SELECT DISTINCT key FROM ser WHERE key < 8 ORDER BY key LIMIT 3
  )
), qraw AS (
  SELECT q.qid, s.idx - 5 AS pos, s.v
  FROM ser s JOIN qkeys q ON s.key = q.qid
  WHERE s.idx BETWEEN 5 AND 20
), qstat AS (
  SELECT qid, sum(v) / 16 AS mu,
         CASE WHEN sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16) > 0
              THEN 1.0 / sqrt(sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16))
              ELSE 1.0 END AS inv
  FROM qraw GROUP BY qid
), qn AS (
  SELECT r.qid, r.pos, (r.v - t.mu) * t.inv AS q
  FROM qraw r JOIN qstat t ON r.qid = t.qid
), win AS (
  SELECT a.key, a.idx AS "offset", b.idx - a.idx AS pos, b.v
  FROM ser a
  JOIN ser b ON a.key = b.key AND b.idx BETWEEN a.idx AND a.idx + 15
  JOIN len l ON l.key = a.key
  WHERE a.idx + 15 <= l.maxidx
), wstat AS (
  SELECT key, "offset", sum(v) / 16 AS mu,
         CASE WHEN sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16) > 0
              THEN 1.0 / sqrt(sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16))
              ELSE 1.0 END AS inv
  FROM win GROUP BY 1, 2
), d AS (
  SELECT q.qid, w.key, w."offset",
         sum(((w.v - s.mu) * s.inv - q.q) * ((w.v - s.mu) * s.inv - q.q)) AS d
  FROM win w
  JOIN wstat s ON w.key = s.key AND w."offset" = s."offset"
  JOIN qn q ON q.pos = w.pos
  GROUP BY 1, 2, 3
)
SELECT query_id, key, "offset", dist FROM (
  SELECT qid AS query_id, key, "offset", round(d, 6) AS dist,
         row_number() OVER (PARTITION BY qid ORDER BY d, key, "offset") AS rn
  FROM d
) WHERE rn <= 5
""",
)
def knn_word_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-prefix-partitioned persistent k-NN index (SFABulkLoad
    analogue): build over per-user event series, then answer a 3-query
    SET through the BATCHED search API (one seed pass + one verify pass
    for the whole set — knn_query_index_batch, VERDICT r4 #1; the
    reference sweeps many queries per run, SFATrieTest.java:57-91).

    The oracle is DuckDB brute force over the same search space the
    index covers exactly (no false dismissals, SFATrieTest.java:172-200):
    length-16 sliding windows per series, z-normed with the population-σ
    / σ=0→1 guard (TimeSeries.java:82), squared ED to each z-normed
    query (the 3 lowest series with user_id<8, values [5:21]), top-5
    per query by (dist, key, offset). The fit is distributed
    (fit_windowing_df), so the query is end-to-end Spark except the
    3k-row result + three 16-value query vectors."""
    import tempfile

    import numpy as np
    from pyspark.sql.window import Window as W

    from sfa_spark.operators.word_index import (
        build_word_index,
        knn_query_index_batch,
    )
    from sfa_spark.transform.sfa_df import fit_windowing_df

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ser = (
        ev.withColumn("t", F.row_number().over(w))
        .select(F.col("user_id").alias("series_id"), "t", "value")
        .filter(F.col("series_id") < 40)
    )
    fit_ser = ser.filter(F.col("series_id") < 8)
    model = fit_windowing_df(
        fit_ser, "series_id", "t", "value", 16, 4, 4, norm_mean=True
    )
    # query vectors: 16 points each of the 3 lowest fit series (bounded
    # collect — 48 values)
    qrows = (
        fit_ser.filter(F.col("t").between(6, 21))
        .orderBy("series_id", "t")
        .collect()
    )
    by_key: dict[int, list[float]] = {}
    for r in qrows:
        by_key.setdefault(int(r["series_id"]), []).append(float(r["value"]))
    qids = sorted(by_key)[:3]
    queries = np.asarray([by_key[q] for q in qids], dtype=np.float64)
    # build + query under a scoped temp dir; materialize the (tiny) result
    # before cleanup so repeated driver/bench invocations leak nothing
    with tempfile.TemporaryDirectory(prefix="sfa_widx_") as tmp:
        build_word_index(ser, model, tmp + "/index", prefix_len=2)
        res, stats = knn_query_index_batch(
            spark, tmp + "/index", queries, k=5, query_ids=qids
        )
    out = spark.createDataFrame(res)
    return out.select(
        "query_id", "key", "offset", F.round("dist", 6).alias("dist")
    )

def _sfa_words_oracle_sql() -> str:
    """DuckDB re-derivation of the ENTIRE SFA pipeline — fit + transform.

    The DFT is a linear map, so both phases reduce to basis-weighted
    sums: slots [2:6] for norm_mean=True are ±[Re c1, Im c1, Re c2,
    Im c2] with the alternating-sign convention folded in as
    +[Σv·cos, Σv·sin] per k∈{1,2} (mean subtraction is a no-op for k≥1
    since Σcos = Σsin = 0 over a full period). Fit: disjoint znormed
    windows → coefficients → Java half-up 2dp rounding → the equi-depth
    walk (SFA.java:432-447) in closed form: edge_p = first orderline
    value with rank > ceil(depth·(p+1)) whose value differs from
    edge_{p-1} (the dup-skip; thresholds are increasing so the
    sequential-scan pos can be eliminated). Transform: sliding raw
    windows × (1/√16·σ) — quantize = Σ (value ≥ edge), word = base-4
    LSB-first pack. cos/sin basis constants are Python-computed and
    inlined.

    Float caveat (why this was rows-only for three rounds): the engine's
    MFT recurrence deviates from the per-window DFT by accumulated float
    error; a coefficient landing within that deviation of a bin edge
    would flip a symbol. At these series lengths (~hundreds of windows)
    the deviation is ~1e-12 while coefficients sit ~0.1 from edges —
    verified ZERO word mismatches at sf0.001/0.01/0.1 (77,500 words)."""
    import math

    basis = ", ".join(
        f"({j}, {k}, {math.cos(2.0 * math.pi * k * j / 16.0)!r}::DOUBLE, "
        f"{math.sin(2.0 * math.pi * k * j / 16.0)!r}::DOUBLE)"
        for j in range(16)
        for k in (1, 2)
    )
    return f"""
WITH basis(j, k, ck, sk) AS (VALUES {basis}),
ser AS (
  SELECT CAST(user_id AS BIGINT) AS sid,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS idx,
         CAST(value AS DOUBLE) AS v
  FROM events
), len AS (
  SELECT sid, count(*) AS n, max(idx) AS mx FROM ser GROUP BY 1
),
fitwin AS (
  SELECT s.sid, s.idx // 16 AS w, s.idx % 16 AS j, s.v
  FROM ser s JOIN len l USING (sid)
  WHERE s.idx < (l.n // 16) * 16
),
fitstat AS (
  SELECT sid, w, sum(v) / 16 AS mu,
         CASE WHEN sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16) > 0
              THEN 1.0 / sqrt(sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16))
              ELSE 1.0 END AS inv
  FROM fitwin GROUP BY 1, 2
),
fitcoef AS (
  SELECT f.sid, f.w, b.k,
         sum((f.v - st.mu) * st.inv * b.ck) / 4 AS cr,
         sum((f.v - st.mu) * st.inv * b.sk) / 4 AS si
  FROM fitwin f
  JOIN fitstat st ON st.sid = f.sid AND st.w = f.w
  JOIN basis b ON b.j = f.j
  GROUP BY 1, 2, 3
),
ol AS (
  SELECT coef, floor(val * 100 + 0.5) / 100 AS v FROM (
    SELECT (k - 1) * 2 AS coef, cr AS val FROM fitcoef
    UNION ALL
    SELECT (k - 1) * 2 + 1 AS coef, si AS val FROM fitcoef
  )
),
olr AS (
  SELECT coef, v, row_number() OVER (PARTITION BY coef ORDER BY v) AS rn FROM ol
),
cnt AS (SELECT coef, count(*) AS n FROM olr GROUP BY 1),
e0 AS (
  SELECT o.coef, min_by(o.v, o.rn) AS e
  FROM olr o JOIN cnt c USING (coef)
  WHERE o.rn > ceil(c.n / 4.0 * 1) GROUP BY 1
),
e1 AS (
  SELECT o.coef, min_by(o.v, o.rn) AS e
  FROM olr o JOIN cnt c USING (coef) JOIN e0 USING (coef)
  WHERE o.rn > ceil(c.n / 4.0 * 2) AND o.v != e0.e GROUP BY 1
),
e2 AS (
  SELECT o.coef, min_by(o.v, o.rn) AS e
  FROM olr o JOIN cnt c USING (coef) JOIN e1 USING (coef)
  WHERE o.rn > ceil(c.n / 4.0 * 3) AND o.v != e1.e GROUP BY 1
),
win AS (
  SELECT a.sid, a.idx AS off, b.idx - a.idx AS j, b.v
  FROM ser a
  JOIN ser b ON a.sid = b.sid AND b.idx BETWEEN a.idx AND a.idx + 15
  JOIN len l ON l.sid = a.sid
  WHERE a.idx + 15 <= l.mx
),
wstat AS (
  SELECT sid, off,
         CASE WHEN sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16) > 0
              THEN 0.25 / sqrt(sum(v * v) / 16 - (sum(v) / 16) * (sum(v) / 16))
              ELSE 0.25 END AS factor
  FROM win GROUP BY 1, 2
),
coefs AS (
  SELECT w.sid, w.off, b.k,
         sum(w.v * b.ck) * st.factor AS cr,
         sum(w.v * b.sk) * st.factor AS si
  FROM win w
  JOIN basis b ON b.j = w.j
  JOIN wstat st ON st.sid = w.sid AND st.off = w.off
  GROUP BY w.sid, w.off, b.k, st.factor
),
vals AS (
  SELECT sid, off, (k - 1) * 2 AS coef, cr AS v FROM coefs
  UNION ALL
  SELECT sid, off, (k - 1) * 2 + 1 AS coef, si AS v FROM coefs
),
sym AS (
  SELECT v.sid, v.off, v.coef,
         (CASE WHEN v.v >= coalesce(e0.e, 'infinity'::DOUBLE) THEN 1 ELSE 0 END
        + CASE WHEN v.v >= coalesce(e1.e, 'infinity'::DOUBLE) THEN 1 ELSE 0 END
        + CASE WHEN v.v >= coalesce(e2.e, 'infinity'::DOUBLE) THEN 1 ELSE 0 END) AS s
  FROM vals v
  LEFT JOIN e0 ON e0.coef = v.coef
  LEFT JOIN e1 ON e1.coef = v.coef
  LEFT JOIN e2 ON e2.coef = v.coef
)
SELECT sid AS series_id, off AS "offset",
       CAST(sum(s * (CASE coef WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 16 ELSE 64 END)) AS BIGINT) AS word
FROM sym GROUP BY 1, 2
"""


@register("sfa_windowed_words_events", _sfa_words_oracle_sql())
def sfa_windowed_words_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SFA fit + windowed MCB words over per-user event
    series, now bit-exactly oracled in DuckDB (see
    :func:`_sfa_words_oracle_sql` for the re-derivation and its float
    caveat)."""
    from pyspark.sql.window import Window as W

    from sfa_spark.transform.sfa_df import fit_windowing_df, transform_windowing_df

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("series_id"), "ts", "event_id", "value"
    )
    w = W.partitionBy("series_id").orderBy("ts", "event_id")
    ser = ev.withColumn("t", F.row_number().over(w)).select("series_id", "t", "value")
    model = fit_windowing_df(ser, "series_id", "t", "value", 16, 4, 4, norm_mean=True)
    return transform_windowing_df(ser, model, "series_id", "t", "value", pack=True)


@register(
    "gorilla_blocks_1h",
    """
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id,
         epoch_us(min(bucket_ts)) AS first_us,
         epoch_us(max(bucket_ts)) AS last_us
  FROM agg GROUP BY 1
), blocks AS (
  SELECT user_id, first_us, last_us,
         unnest(generate_series(first_us // 14745600000000,
                                last_us // 14745600000000)) AS block_id
  FROM span
)
SELECT user_id, block_id,
       CAST((least(block_id * 14745600000000 + 14745600000000 - 3600000000,
                   last_us)
             - greatest(block_id * 14745600000000, first_us)) // 3600000000
            + 1 AS INT) AS n,
       CAST(16 * ((least(block_id * 14745600000000 + 14745600000000
                         - 3600000000, last_us)
                   - greatest(block_id * 14745600000000, first_us))
                  // 3600000000 + 1) AS BIGINT) AS raw_bytes
FROM blocks
""",
)
def gorilla_blocks_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused LOCF gap-fill + Gorilla/DoD block encode of the 1h tier.

    The block SPINE (epoch-aligned block_id, clamped per-key span, point
    count, raw bytes) is bit-exactly oracled against DuckDB deriving the
    same blocks from first/last observation per key (chunk = 4096 × 1h
    buckets = 14_745_600_000_000 µs). The binary blobs themselves are
    verified by decode_roundtrip_1h (hash-exact vs DuckDB's own gap-fill)
    and byte-level codec tests."""
    from sfa_spark.encode import encode_tier_blocks_gapfill

    t1h = rollup_tier(_events(spark, sf_dir), ["user_id"], "ts", "value", "1h")
    blocks = encode_tier_blocks_gapfill(t1h, "user_id", tier="1h")
    return blocks.select("user_id", "block_id", "n", "raw_bytes")


@register("minhash_near_dups", _minhash_oracle_sql())
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over documents (seeded —
    deterministic).

    Oracled bit-exactly in DuckDB (previously rows-only): the k=5 FNV
    window hashes, the 64 seeded hash families ((a·h + b) mod 2^64 mod
    M_61 — the same wraparound the uint64 kernels compute), the 16×4
    banding and the equal-slots/64 Jaccard estimate are all exact
    integer/dyadic arithmetic in HUGEINT. The a/b constants are drawn
    with the identical seeded numpy rng at SQL-generation time and
    inlined as literals. Band candidates join on band VALUES (the engine
    buckets by xxhash64 of the slice — identical semantics up to a
    ~2^-64 bucket-collision probability); the >500 bucket guard can't
    fire at driver scale (≤500 docs)."""
    from sfa_spark.operators.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(_documents(spark, sf_dir), threshold=0.5)


@register(
    "locf_gapfill_1h",
    """
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         count(*) AS n, arg_max(value, ts) AS lastv
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM agg GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
  FROM span
), joined AS (
  SELECT s.user_id, s.bucket_ts, a.n, a.lastv
  FROM spine s LEFT JOIN agg a USING (user_id, bucket_ts)
)
SELECT user_id, bucket_ts,
       coalesce(n, 0) AS n,
       (n IS NULL)    AS locf_filled,
       last_value(lastv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS last_value
FROM joined
""",
)
def locf_gapfill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1h = rollup_tier(_events(spark, sf_dir), ["user_id"], "ts", "value", "1h")
    filled = gap_fill_locf(t1h, ["user_id"], "1h")
    return filled.select(
        "user_id", "bucket_ts", "n", "locf_filled", F.col("last").alias("last_value")
    )
