"""Time-series gap handling over the events table: dense-grid gap fill
and last-observation-carried-forward (LOCF) — the hypertable-rollup
surface a CDC-fed metrics table needs (the reference only ships rows,
reference: app/consumer/consumer.py:55–75; rollups are the north-star
widening).

Scale notes: the time grid is *generated*, never materialized wide —
``sequence()`` explodes per-row (per event_type / per user), so grid
size is |keys| × span and each key's grid lands in that key's partition.
LOCF is a running window per key ordered by time: rows-frame, bounded
state, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
  FROM events
),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT t.event_type, h.hour, CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
FROM hours h
CROSS JOIN types t
LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type
"""


@query("q_gapfill_hourly_counts", GAPFILL_ORACLE)
def q_gapfill_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly event counts per type: hours with no events appear as
    explicit zero rows. The hour grid is sequence()-generated from the
    observed bounds (two broadcast scalars), cross-joined with the tiny
    type dimension, then left-joined to the aggregated counts — the only
    full-table work is the one groupBy; the grid side is O(span × types)
    and broadcast."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = events.select("event_type").distinct()
    counts = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        F.broadcast(hours)
        .crossJoin(F.broadcast(types))
        .join(counts, ["hour", "event_type"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


LOCF_ORACLE = """
WITH global_hi AS (SELECT CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS hi FROM events),
user_days AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         max(value) AS obs
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT user_id,
         unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day
  FROM (SELECT user_id, min(day) AS lo FROM user_days GROUP BY user_id), global_hi
)
SELECT g.user_id, g.day,
       last_value(u.obs IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value
FROM grid g LEFT JOIN user_days u ON u.user_id = g.user_id AND u.day = g.day
"""


@query("q_locf_daily_value", LOCF_ORACLE)
def q_locf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily max reading per user on a dense grid (from each user's first
    active day to the global end), gaps filled by carrying the last
    observation forward. The grid explodes per user (stays in the user's
    partition); LOCF is last(ignorenulls) over a rows-frame running
    window — single shuffle on user_id shared by the aggregate, the grid,
    the join, and the window."""
    events = load_table(spark, sf_dir, "events")
    user_days = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max("value").alias("obs"))
    hi = events.agg(F.date_trunc("day", F.max("ts")).alias("hi"))
    grid = (
        user_days.groupBy("user_id")
        .agg(F.min("day").alias("lo"))
        .crossJoin(F.broadcast(hi))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(user_days, ["user_id", "day"], "left")
        .withColumn("filled_value", F.last("obs", ignorenulls=True).over(w))
        .select("user_id", "day", "filled_value")
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average (sequential fold).
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3

EWMA_ORACLE = f"""
WITH user_days AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         max(value) AS obs
  FROM events GROUP BY 1, 2
), series AS (
  SELECT user_id,
         list_transform(
           list_sort(list({{'day': day, 'obs': obs}})), s -> s.obs
         ) AS xs
  FROM user_days GROUP BY user_id
)
SELECT user_id, CAST(len(xs) AS INT) AS n_days,
       list_reduce(xs, (acc, x) -> {_EWMA_ALPHA} * x + {1 - _EWMA_ALPHA} * acc)
         AS ewma
FROM series
"""


@query("q_ewma_user_value", EWMA_ORACLE)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of the daily max
    reading: s₁ = x₁, sᵢ = α·xᵢ + (1−α)·sᵢ₋₁ over the day-ordered series.
    EWMA is inherently sequential, but only *within* a key — so the
    distributed shape is groupBy(user) → sorted per-key array → one
    O(n) fold (``F.aggregate``), embarrassingly parallel across users
    with a single shuffle. Both engines execute the identical
    left-to-right double-precision op sequence, so the unrounded result
    is bit-identical (same trick as the sketch folds in
    [[spark-duckdb-oracle-parity]]). A key's series must fit in memory —
    true for any per-entity time series; an unbounded stream would use
    the streaming state form (one running scalar per key) instead."""
    events = load_table(spark, sf_dir, "events")
    user_days = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max("value").alias("obs"))
    series = user_days.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "obs"))),
            lambda s: s["obs"],
        ).alias("xs")
    )
    rest = F.expr("slice(xs, 2, greatest(size(xs) - 1, 0))")
    fold = F.aggregate(
        rest,
        F.element_at("xs", 1),
        lambda acc, x: F.lit(_EWMA_ALPHA) * x + F.lit(1 - _EWMA_ALPHA) * acc,
    )
    return series.select(
        "user_id", F.size("xs").alias("n_days"), fold.alias("ewma")
    )


# ---------------------------------------------------------------------------
# Multi-resolution rollup (minute → hour → day, telescoping).
# ---------------------------------------------------------------------------

def _rollup_level_sql(level: str) -> str:
    return f"""
SELECT '{level}' AS resolution,
       CAST(date_trunc('{level}', ts) AS TIMESTAMP) AS bucket, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             / 1000000.0, 6) AS sum_value
FROM events GROUP BY 2, 3"""


MULTIRES_ORACLE = " UNION ALL ".join(
    _rollup_level_sql(level) for level in ("minute", "hour", "day")
)


@query("q_multires_rollup", MULTIRES_ORACLE)
def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate at three resolutions
    (minute/hour/day) in one job. The raw table is scanned ONCE for the
    minute level; hour re-aggregates the minute aggregate and day the
    hour aggregate (telescoping — counts and micro-scaled integer sums
    are exactly re-aggregable), so the coarser levels cost |minute
    buckets| not |events|. At 100 TB that is the difference between one
    pass and three; the integer µ-sums also make every level
    order-independent and oracle-exact ([[spark-duckdb-oracle-parity]])."""
    events = load_table(spark, sf_dir, "events")
    v6 = F.round(F.col("value") * 1000000).cast("long")
    minute = events.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum(v6).alias("v6"))
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("bucket")).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("v6").alias("v6"))
    day = hour.groupBy(
        F.date_trunc("day", F.col("bucket")).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("v6").alias("v6"))

    def finish(df: DataFrame, level: str) -> DataFrame:
        return df.select(
            F.lit(level).alias("resolution"),
            "bucket",
            "event_type",
            "n_events",
            F.round(F.col("v6") / 1000000.0, 6).alias("sum_value"),
        )

    return (
        finish(minute, "minute")
        .unionAll(finish(hour, "hour"))
        .unionAll(finish(day, "day"))
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection.
# ---------------------------------------------------------------------------

_ZS_WIN = 20     # trailing window length (rows, excluding current)
_ZS_MIN = 10     # minimum history before scoring
_ZS_CUT = 3.0    # |z| threshold

ZSCORE_ORACLE = f"""
WITH scored AS (
  SELECT user_id, event_id, value,
         CAST(round(value * 1000) AS BIGINT) AS v3,
         sum(CAST(round(value * 1000) AS BIGINT)) OVER w AS s,
         sum(CAST(round(value * 1000) AS BIGINT)
             * CAST(round(value * 1000) AS BIGINT)) OVER w AS q,
         count(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_ZS_WIN} PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, round(value, 2) AS value,
       round((v3 - s / n) / sqrt((q - s * s / n) / (n - 1)), 4) AS zscore
FROM scored
WHERE n >= {_ZS_MIN}
  AND (q - s * s / n) / (n - 1) > 0
  AND abs((v3 - s / n) / sqrt((q - s * s / n) / (n - 1))) > {_ZS_CUT}
"""


@query("q_rolling_zscore_anomaly", ZSCORE_ORACLE)
def q_rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score anomaly screen: each reading is scored
    against the mean/std of its own TRAILING window (current row excluded,
    so an outlier can't mask itself), flagging |z| > 3 once ≥10 readings of
    history exist. The window statistics are sums of milli-scaled integers
    — exact under any evaluation order — and the z expression is the same
    double op sequence in both engines, so even threshold-adjacent rows
    agree bit-for-bit ([[spark-duckdb-oracle-parity]]). One shuffle on
    user_id; the rows-frame keeps per-key state bounded at 20 rows, which
    is also exactly the streaming-state form of this monitor."""
    events = load_table(spark, sf_dir, "events")
    v3 = F.round(F.col("value") * 1000).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ZS_WIN, -1)
    )
    scored = events.select(
        "user_id",
        "event_id",
        "value",
        v3.alias("v3"),
        F.sum(v3).over(w).alias("s"),
        F.sum(v3 * v3).over(w).alias("q"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    var = (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("v3") - F.col("s") / F.col("n")) / F.sqrt(var)
    return (
        scored.filter((F.col("n") >= _ZS_MIN) & (var > 0) & (F.abs(z) > _ZS_CUT))
        .select(
            "user_id",
            "event_id",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Hour-of-day seasonal baseline (cyclic aggregation).
# ---------------------------------------------------------------------------

SEASONAL_ORACLE = """
WITH hod AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day,
         count(*) AS n_events,
         sum(CAST(round(value * 1000000) AS BIGINT)) AS v6
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour_of_day, n_events,
       ((2 * v6 + n_events) // (2 * n_events)) / 1000000.0 AS avg_value,
       ((2 * 10000 * n_events + sum(n_events) OVER (PARTITION BY event_type))
          // (2 * sum(n_events) OVER (PARTITION BY event_type))) / 10000.0
         AS hour_share
FROM hod
"""


@query("q_seasonal_hourly_baseline", SEASONAL_ORACLE)
def q_seasonal_hourly_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic seasonal profile: collapse the timeline onto hour-of-day per
    event type — the baseline table an anomaly monitor compares live
    traffic against. Aggregates to ≤ types×24 rows in one map-side-combined
    groupBy; the share-of-day window then runs on that tiny aggregate, not
    the raw table. µ-scaled integer sums keep the averages exact, and the
    final rounding is integer half-up division ((2a+b) DIV 2b) — Spark's
    round() on doubles rounds the shortest decimal repr while DuckDB
    rounds the binary value, so tie-adjacent quotients would disagree.
    Sign safety: Spark `DIV` and DuckDB integer `//` BOTH truncate toward
    zero (pinned by tests/test_divsafety.py), so a negative v6 sum — legal
    if the driver regenerates events with negative values — still agrees
    bit-for-bit; the quotient is then half-away-from-zero rather than
    half-up for negatives, identically in both engines."""
    events = load_table(spark, sf_dir, "events")
    v6 = F.round(F.col("value") * 1000000).cast("long")
    hod = events.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum(v6).alias("v6"))
    with_total = hod.withColumn(
        "tot", F.sum("n_events").over(W.partitionBy("event_type"))
    )
    return with_total.select(
        "event_type",
        "hour_of_day",
        "n_events",
        F.expr("((2 * v6 + n_events) DIV (2 * n_events)) / 1e6").alias("avg_value"),
        F.expr("((2 * 10000 * n_events + tot) DIV (2 * tot)) / 1e4").alias(
            "hour_share"
        ),
    )


# ---------------------------------------------------------------------------
# Gaps & islands: consecutive-active-day streaks.
# ---------------------------------------------------------------------------

_STREAK_MIN = 3

STREAK_ORACLE = f"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT)
           AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, count(*) AS streak_len, max(anchor + 1) AS _o
  FROM islands GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(sum(streak_len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY user_id
HAVING max(streak_len) >= {_STREAK_MIN}
"""


@query("q_streak_gaps_islands", STREAK_ORACLE)
def q_streak_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's runs of consecutive active days,
    found by the classic anchor trick — day minus row_number is constant
    exactly within a consecutive run, so one window plus one groupBy finds
    every island without self-joins or iteration. Reports users whose
    longest streak reaches 3 days. All three stages (distinct days,
    row_number, island aggregate) share the single user_id shuffle."""
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("streak_len").alias("longest_streak"),
            F.sum("streak_len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .filter(F.col("longest_streak") >= _STREAK_MIN)
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over the daily event-volume series.
# ---------------------------------------------------------------------------

CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
params AS (
  SELECT avg(x) AS mu, stddev_samp(x) AS sd FROM daily
),
walk AS (
  SELECT d, x, mu, sd,
         sum(x - mu - 0.5 * sd) OVER (ORDER BY d) AS cp,
         sum(mu - 0.5 * sd - x) OVER (ORDER BY d) AS cn
  FROM daily, params
),
cusum AS (
  SELECT d, x, sd,
         cp - least(min(cp) OVER (ORDER BY d), 0) AS s_pos,
         cn - least(min(cn) OVER (ORDER BY d), 0) AS s_neg
  FROM walk
)
SELECT d, CAST(x AS BIGINT) AS n_events,
       round(s_pos, 6) AS s_pos, round(s_neg, 6) AS s_neg,
       CAST(s_pos > 4 * sd OR s_neg > 4 * sd AS INTEGER) AS changepoint
FROM cusum
"""


@query("q_cusum_changepoint", CUSUM_ORACLE)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint detector (Page 1954) on daily event
    volume: S+ accumulates upward drift beyond mean + 0.5 sigma slack, S-
    downward, a day is flagged when either side exceeds the 4-sigma
    decision interval — the classic sequential drift detector a pipeline
    runs over ingest volume to catch a broken producer or a traffic shift.

    The recursive form S_i = max(0, S_{i-1} + dev_i) is not a window
    expression; the equivalent closed form IS: S_i = cumsum_i -
    min(0, running_min(cumsum)) (a reset happens exactly where the
    drift-adjusted cumsum hits a new minimum). Two window passes over a
    series whose length is CALENDAR-bounded (one row per day — 36.5k rows
    for a century), not data-bounded: the daily collapse is the only
    row-proportional work and it is a map-side-combinable count. Cumsum
    ordering is identical in both engines so the IEEE double walk matches
    exactly; one final round."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    params = daily.agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
    )
    wd = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    walk = daily.crossJoin(F.broadcast(params)).select(
        "d",
        "x",
        "sd",
        F.sum(F.col("x") - F.col("mu") - 0.5 * F.col("sd")).over(wd).alias("cp"),
        F.sum(F.col("mu") - 0.5 * F.col("sd") - F.col("x")).over(wd).alias("cn"),
    )
    s_pos = F.col("cp") - F.least(F.min("cp").over(wd), F.lit(0.0))
    s_neg = F.col("cn") - F.least(F.min("cn").over(wd), F.lit(0.0))
    return walk.select(
        "d",
        F.col("x").cast("long").alias("n_events"),
        F.round(s_pos, 6).alias("s_pos"),
        F.round(s_neg, 6).alias("s_neg"),
        ((s_pos > 4 * F.col("sd")) | (s_neg > 4 * F.col("sd")))
        .cast("int")
        .alias("changepoint"),
    )


# ---------------------------------------------------------------------------
# SAX symbolization: each day's hourly profile -> a 4-letter word.
# ---------------------------------------------------------------------------

SAX_ORACLE = """
WITH hourly AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(hour(ts) // 6 AS INTEGER) AS seg,
         CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
),
params AS (SELECT avg(c) AS mu, stddev_samp(c) AS sd FROM hourly),
z AS (
  SELECT d, seg, c, mu, sd, (c - mu) / sd AS z FROM hourly, params
),
sym AS (
  SELECT d, seg, c, mu, sd,
         CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
              WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS s
  FROM z
)
SELECT d, string_agg(s, '' ORDER BY seg) AS sax_word,
       round((sum(c) - count(*) * max(mu)) / max(sd), 6) AS z_sum
FROM sym GROUP BY d
"""


@query("q_sax_symbolize", SAX_ORACLE)
def q_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003): compress
    each day's activity profile into a 4-letter word — PAA over four
    6-hour segments, z-normalize against the global segment distribution,
    bin by the 4-symbol Gaussian breakpoints (-0.6745, 0, 0.6745). Equal
    words = candidate motif days, rare words = anomaly days; the word is
    GROUPABLE, so motif discovery over years of telemetry is a plain
    groupBy count instead of a quadratic curve comparison.

    Scale: the segment collapse is the only row-proportional pass
    (map-side combinable count to calendar x 4 rows); normalization
    params are a broadcast 1-row aggregate; the word assembly is a
    4-element sorted array join per day. The breakpoint comparison happens
    on the raw IEEE double (identical in both engines); only DISPLAYED
    values are rounded."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("d"),
            (F.hour("ts") / 6).cast("int").alias("seg"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    params = hourly.agg(F.avg("c").alias("mu"), F.stddev_samp("c").alias("sd"))
    z = (F.col("c") - F.col("mu")) / F.col("sd")
    sym = hourly.crossJoin(F.broadcast(params)).select(
        "d",
        "seg",
        "c",
        "mu",
        "sd",
        F.when(z < -0.6745, "a")
        .when(z < 0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
        .alias("s"),
    )
    # z_sum via the algebraic identity (sum(c) - k*mu)/sd: sum-of-counts is
    # an exact integer-valued double, so the result is summation-order-
    # independent — per-row z's summed in group order are NOT (ulp drift
    # between engines flipped the 6th decimal in testing).
    return sym.groupBy("d").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "s"))),
                lambda r: r["s"],
            ),
            "",
        ).alias("sax_word"),
        F.round(
            (F.sum("c") - F.count(F.lit(1)) * F.max("mu")) / F.max("sd"), 6
        ).alias("z_sum"),
    )


# ---------------------------------------------------------------------------
# Sample autocorrelation function of the daily event-count series.
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7

ACF_ORACLE = f"""
WITH day AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY d
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM day
), dev AS (
  -- centered value scaled by n so it stays integer: n*x - s = n*(x - mean)
  SELECT d, CAST(day.x * tot.n - tot.s AS BIGINT) AS e, tot.n
  FROM day CROSS JOIN tot
), lagged AS (
  SELECT l.lag, a.e AS e, b.e AS e_lag
  FROM dev a
  CROSS JOIN (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag) l
  JOIN dev b ON b.d = a.d - CAST(l.lag AS INT)
), a0 AS (
  SELECT CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE) AS denom FROM dev
)
SELECT CAST(lag AS INT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(e AS HUGEINT) * e_lag) AS DOUBLE) / a0.denom, 6)
         AS acf
FROM lagged CROSS JOIN a0
GROUP BY lag, a0.denom
"""


@query("q_acf_lags", ACF_ORACLE)
def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..7: r_k = Σ(x_t-x̄)(x_{t-k}-x̄) / Σ(x_t-x̄)² — the seasonality /
    burst-memory diagnostic read before choosing forecast features or a
    rollup grain (a spike at lag 7 = weekly cycle; slow decay = trending
    traffic; cf. [[q_seasonal_hourly_baseline]] which *assumes* the cycle
    this measures).

    Exactness: deviations are kept integer by scaling with the day count
    (n·x_t − Σx = n·(x_t − x̄)); products sum exactly (decimal(38,0) /
    HUGEINT — squared scaled deviations can pass int64), and the single
    division + round lands both engines on the same double.

    The shift is CALENDAR lag (day d pairs with day d−k when both
    exist), not positional — identical on a dense daily grid, and the
    honest definition when days are missing.

    Scale: the corpus collapses to the per-day count table in one
    map-side-combinable groupBy; the lag shift is a self-join of that
    CALENDAR-BOUNDED table with itself (days, not rows — the same
    discipline as [[q_cusum_changepoint]]), broadcast on both sides.
    Lags explode ×7 over that tiny table only."""
    events = load_table(spark, sf_dir, "events")
    day = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    tot = day.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    # The deviation table is calendar-bounded (one row per day) and feeds
    # three consumers (denominator, lag explode, shifted side) — lazy,
    # each re-ran the corpus groupBy (r6 scan census: 6 events scans per
    # run; 2 with this bounded checkpoint).
    dev = (
        day.crossJoin(F.broadcast(tot))
        .select("d", (F.col("x") * F.col("n") - F.col("s")).alias("e"))
        .localCheckpoint(eager=True)
    )
    denom = dev.agg(
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,0)"))
        .cast("double")
        .alias("denom")
    )
    lags = dev.select(
        "d",
        "e",
        F.explode(
            F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))
        ).alias("lag"),
    )
    prior = dev.select(F.col("d").alias("d2"), F.col("e").alias("e_lag"))
    lagged = lags.join(
        F.broadcast(prior),
        F.date_sub(F.col("d"), F.col("lag")) == F.col("d2"),
    )
    return (
        lagged.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("e") * F.col("e_lag")).cast("decimal(38,0)"))
            .cast("double")
            .alias("num"),
        )
        .crossJoin(F.broadcast(denom))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(F.col("num") / F.col("denom"), 6).alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC candles: open/high/low/close per tumbling window per event type.
# ---------------------------------------------------------------------------

OHLC_ORACLE = """
WITH keyed AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS seq
  FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(min_by(value, seq), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(max_by(value, seq), 2) AS close,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS volume
FROM keyed
GROUP BY ws, event_type
"""


@query("q_ohlc_candles", OHLC_ORACLE)
def q_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlesticks: open/high/low/close/volume of the value column
    per (tumbling hour × event type) — the continuous-aggregate shape
    every metrics/hypertable store serves ([[q_multires_rollup]] rolls up
    counts; this is the finance-grade rollup where FIRST and LAST matter).
    Open/close are min_by/max_by over a zero-padded (timestamp, event_id)
    sequence key, giving simultaneous events a total order — the same
    determinism discipline as the CDC last-event-wins reduction
    (operators/cdc.py max_by; reference consumer.py:55-75 replays
    serially, this reduces associatively).

    Scale: ONE hash aggregate — min_by/max_by/min/max/sum are all
    map-side-combinable partials, so the shuffle carries 6 numbers per
    (window, type) group and no window function exists in the plan. The
    streaming form is the identical aggregate under a watermark."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    keyed = ev.select(
        F.window("ts", "1 hour").alias("w"),
        "event_type",
        "value",
        seq.alias("seq"),
    )
    return (
        keyed.groupBy("w", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.expr("min_by(value, seq)"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.expr("max_by(value, seq)"), 2).alias("close"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 2
            ).alias("volume"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (trailing window distinct).
# ---------------------------------------------------------------------------

_WAU_DAYS = 7

WAU_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
  FROM events
), days AS (
  SELECT DISTINCT d FROM du
), contrib AS (
  -- each active (user, day) covers the next {_WAU_DAYS} report days
  SELECT du.user_id, days.d AS report_day
  FROM du JOIN days
    ON days.d >= du.d AND days.d < du.d + {_WAU_DAYS}
)
SELECT report_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS wau
FROM contrib GROUP BY report_day
"""


@query("q_rolling_wau", WAU_ORACLE)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {_WAU_DAYS}-day active users per day — the trailing-window
    DISTINCT that windowed SUM cannot express (distinct doesn't
    decompose over sliding frames): each (user, active-day) pair is
    exploded onto the ≤ {_WAU_DAYS} report days it covers, then one
    distinct count per report day. The engagement denominator beside
    [[q_dau_mau_stickiness]]'s calendar-month form.

    Scale: the corpus collapses to the (user, day) distinct table first
    (map-side combinable); the coverage join fans each row out at most
    {_WAU_DAYS}× against the CALENDAR-bounded day list (broadcast), and
    the count-distinct shuffles (report_day, user) pairs — at extreme
    scale swap the exact distinct for per-day HLL sketches merged over
    the trailing {_WAU_DAYS} days, the standard mergeable-sketch form;
    plan shape unchanged."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct().select(F.col("d").alias("report_day"))
    contrib = du.join(
        F.broadcast(days),
        (F.col("report_day") >= F.col("d"))
        & (F.col("report_day") < F.date_add(F.col("d"), _WAU_DAYS)),
    )
    return contrib.groupBy("report_day").agg(
        F.countDistinct("user_id").alias("wau")
    )


# ---------------------------------------------------------------------------
# Month-over-month growth of order revenue.
# ---------------------------------------------------------------------------

MOM_ORACLE = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY month
)
SELECT strftime(month, '%Y-%m') AS month,
       n_orders,
       round(rev_cents / 100.0, 2) AS revenue,
       round((rev_cents - lag(rev_cents) OVER (ORDER BY month))
             * 100.0 / lag(rev_cents) OVER (ORDER BY month), 2)
         AS mom_growth_pct
FROM m
"""


@query("q_mom_growth", MOM_ORACLE)
def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the reporting staple: monthly
    order counts, cents-exact revenue, and percent change vs the prior
    month (NULL for the first month; months with no orders are absent
    from the fact table, so the lag is over OBSERVED months — document,
    don't silently densify).

    Scale: one map-side-combinable groupBy collapses the fact table to
    the CALENDAR-bounded month series; the lag window runs over that
    bounded frame only (same discipline as [[q_acf_lags]]). Growth is a
    ratio of exact cent integers."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        ),
    )
    prev = F.lag("rev_cents").over(W.orderBy("month"))
    return m.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "n_orders",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        F.round(
            (F.col("rev_cents") - prev) * 100.0 / prev, 2
        ).alias("mom_growth_pct"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend over the daily event-count series.
# ---------------------------------------------------------------------------

THEILSEN_ORACLE = """
WITH day AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY d
), idx AS (
  SELECT d, x,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
  FROM day
), slopes AS (
  -- exact rational slope per pair kept as (num, den); compare via
  -- cross-multiplication-free double (den > 0 so sign is num's)
  SELECT (b.x - a.x) AS num, (b.t - a.t) AS den,
         CAST(b.x - a.x AS DOUBLE) / (b.t - a.t) AS s,
         a.t AS t1, b.t AS t2
  FROM idx a JOIN idx b ON b.t > a.t
), ranked AS (
  SELECT s, row_number() OVER (ORDER BY s, t1, t2) AS rn,
         count(*) OVER () AS m
  FROM slopes
)
SELECT CAST(max(m) AS BIGINT) AS n_pairs,
       round(avg(CASE WHEN m % 2 = 1 AND rn = (m + 1) / 2 THEN s
                      WHEN m % 2 = 0 AND rn IN (m / 2, m / 2 + 1) THEN s
                 END), 6) AS theil_sen_slope
FROM ranked
"""


@query("q_theil_sen_trend", THEILSEN_ORACLE)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume: the MEDIAN of all
    pairwise slopes (x_j−x_i)/(j−i) over the day series — the slope
    estimator that shrugs off up to ~29% outlier days, where the OLS
    trend ([[q_regression_trend]]) chases every traffic spike. The
    robust answer to "is volume actually growing?".

    Scale: the corpus collapses to the CALENDAR-bounded day table first;
    the pairwise-slope explode is |days|²/2 over that bounded table only
    (never over rows — 3 years is ~600k pairs, a constant), and the
    median is an exact rank over those pairs. Slopes are ratios of
    integers, so the rounded median is engine-exact.

    The engine and oracle rank by (slope, t1, t2) — a total order — and
    average the middle one/two."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    idx = day.select(
        "x", F.row_number().over(W.orderBy("d")).cast("long").alias("t")
    )
    a = idx.select(F.col("t").alias("t1"), F.col("x").alias("x1"))
    b = idx.select(F.col("t").alias("t2"), F.col("x").alias("x2"))
    slopes = (
        F.broadcast(a)
        .join(b, F.col("t2") > F.col("t1"))
        .select(
            ((F.col("x2") - F.col("x1")).cast("double") / (F.col("t2") - F.col("t1"))).alias("s"),
            "t1",
            "t2",
        )
    )
    ranked = slopes.select(
        "s",
        F.row_number().over(W.orderBy("s", "t1", "t2")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("m"),
    )
    # the same middle-element CASE the oracle uses
    odd_mid = (F.col("m") % 2 == 1) & (F.col("rn") == (F.col("m") + 1) / 2)
    even_mid = (F.col("m") % 2 == 0) & (
        (F.col("rn") == F.col("m") / 2) | (F.col("rn") == F.col("m") / 2 + 1)
    )
    pick = F.when(odd_mid | even_mid, F.col("s"))
    return ranked.agg(
        F.max("m").cast("long").alias("n_pairs"),
        F.round(F.avg(pick), 6).alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest: in-engine forecast evaluation.
# ---------------------------------------------------------------------------

_SN_LAG = 7  # seasonal period: forecast = value one week earlier

SN_BACKTEST_ORACLE = f"""
WITH day AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY d
), j AS (
  SELECT a.d, a.x AS actual, b.x AS seasonal_pred, c.x AS naive_pred
  FROM day a
  JOIN day b ON b.d = a.d - {_SN_LAG}
  JOIN day c ON c.d = a.d - 1
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(CAST(sum(abs(actual - seasonal_pred)) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 6) AS mae_seasonal,
       round(CAST(sum(abs(actual - naive_pred)) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 6) AS mae_naive,
       round(CAST(sum(CAST(abs(actual - seasonal_pred) * 1000000 AS BIGINT)
                      // actual) AS BIGINT) / count(*) / 10000.0, 6)
         AS mape_seasonal_pct,
       CAST(sum(abs(actual - seasonal_pred)) < sum(abs(actual - naive_pred))
            AS INTEGER) AS seasonal_beats_naive
FROM j
"""


@query("q_seasonal_naive_backtest", SN_BACKTEST_ORACLE)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting in-engine: score the seasonal-naive forecast
    (predict each day by the value {_SN_LAG} days earlier — the baseline
    every real forecaster must beat) against actuals, beside the naive-1
    (yesterday) baseline — MAE for both, MAPE for the seasonal, and the
    verdict bit. Leakage-free by construction: every prediction uses only
    strictly-earlier days. [[q_seasonal_hourly_baseline]] builds the
    cyclic profile; this measures whether seasonality actually predicts.

    Exactness: errors are integer counts; MAPE folds per-day integer
    ppm quotients (truncating division agrees across engines).

    Scale: one collapse to the calendar-bounded day table, two
    broadcast self-joins for the lagged predictions, one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    day = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    a = day.select("d", F.col("x").alias("actual"))
    b = day.select(F.col("d").alias("db"), F.col("x").alias("seasonal_pred"))
    c = day.select(F.col("d").alias("dc"), F.col("x").alias("naive_pred"))
    j = (
        a.join(F.broadcast(b), F.date_sub(F.col("d"), _SN_LAG) == F.col("db"))
        .join(F.broadcast(c), F.date_sub(F.col("d"), 1) == F.col("dc"))
    )
    err_s = F.abs(F.col("actual") - F.col("seasonal_pred"))
    err_n = F.abs(F.col("actual") - F.col("naive_pred"))
    n = F.count(F.lit(1))
    return j.agg(
        n.alias("n_days"),
        F.round(F.sum(err_s) / n.cast("double"), 6).alias("mae_seasonal"),
        F.round(F.sum(err_n) / n.cast("double"), 6).alias("mae_naive"),
        F.round(
            F.sum(F.expr(f"abs(actual - seasonal_pred) * 1000000 DIV actual"))
            / n
            / 10000.0,
            6,
        ).alias("mape_seasonal_pct"),
        (F.sum(err_s) < F.sum(err_n)).cast("int").alias("seasonal_beats_naive"),
    )


# ---------------------------------------------------------------------------
# Weekday effect: one-way ANOVA of daily volume across days-of-week.
# ---------------------------------------------------------------------------

WEEKDAY_ORACLE = """
WITH day AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY d
), g AS (
  SELECT CAST(isodow(d) AS INT) AS dow,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(x) AS HUGEINT) AS DOUBLE) AS s1,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2
  FROM day GROUP BY dow
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(n) AS n_tot, sum(s1) AS s1_tot, sum(s2) AS s2_tot,
         sum(s1 * s1 / n) AS sq_grp
  FROM g
)
SELECT g.dow,
       CAST(g.n AS BIGINT) AS n_days,
       round(g.s1 / g.n, 6) AS mean_events,
       round(((t.sq_grp - t.s1_tot * t.s1_tot / t.n_tot) / (t.k - 1))
             / ((t.s2_tot - t.sq_grp) / (t.n_tot - t.k)), 6) AS f_stat,
       CAST(((t.sq_grp - t.s1_tot * t.s1_tot / t.n_tot) / (t.k - 1))
            / ((t.s2_tot - t.sq_grp) / (t.n_tot - t.k)) > 2.1 AS INTEGER)
         AS weekly_cycle_detected
FROM g CROSS JOIN t
"""


@query("q_weekday_effect", WEEKDAY_ORACLE)
def q_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formal weekly-cycle test: one-way ANOVA of daily event volume
    across the 7 days of the week (the [[q_anova_oneway]] machinery
    applied to the calendar) — per-weekday mean volume rows plus the
    global F statistic and a cycle flag (F > 2.1 ≈ the 95% critical
    value at (6, large) dof). [[q_acf_lags]] sees the cycle as a lag-7
    spike; [[q_seasonal_naive_backtest]] measures its predictive value;
    this says whether it is statistically real at all.

    Exactness: the moment sums over the day table are exact
    (decimal/HUGEINT); ISO day-of-week numbering matches across engines.

    Scale: the only corpus-sized work is the per-day collapse;
    everything after runs on ≤ 7 moment rows."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    g = day.groupBy(
        F.dayofweek("d").alias("_dow_sun1")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    ).select(
        # Spark dayofweek: Sunday=1 .. Saturday=7 → ISO Monday=1 .. Sunday=7
        F.expr("CAST((((_dow_sun1 + 5) % 7) + 1) AS INT)").alias("dow"),
        "n",
        "s1",
        "s2",
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s1").alias("s1_tot"),
        F.sum("s2").alias("s2_tot"),
        F.sum(F.col("s1") * F.col("s1") / F.col("n")).alias("sq_grp"),
    )
    j = g.crossJoin(F.broadcast(t))
    ssb = F.col("sq_grp") - F.col("s1_tot") * F.col("s1_tot") / F.col("n_tot")
    ssw = F.col("s2_tot") - F.col("sq_grp")
    f = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_tot") - F.col("k")))
    return j.select(
        "dow",
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("s1") / F.col("n"), 6).alias("mean_events"),
        F.round(f, 6).alias("f_stat"),
        (f > 2.1).cast("int").alias("weekly_cycle_detected"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (the significance test beside Theil-Sen's slope).
# ---------------------------------------------------------------------------

_MK_Z_CRIT = 1.959964  # two-sided 5%

MANNKENDALL_ORACLE = f"""
WITH day AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY d
), idx AS (
  SELECT x, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t FROM day
), pairs AS (
  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM idx a JOIN idx b ON b.t > a.t
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
ties AS (
  SELECT CAST(coalesce(sum(tj * (tj - 1) * (2 * tj + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS tj FROM idx GROUP BY x
        HAVING count(*) > 1)
), stat AS (
  SELECT p.s, p.n_pairs, nn.n,
         (nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie_term) / 18.0 AS var_s
  FROM pairs p CROSS JOIN nn CROSS JOIN ties t
)
SELECT s, n, n_pairs,
       round(var_s, 4) AS var_s,
       round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                  WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS z,
       CAST(abs(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                     WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                     ELSE 0.0 END) > {_MK_Z_CRIT} AS INT) AS trend_detected
FROM stat
"""


@query("q_mann_kendall", MANNKENDALL_ORACLE)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST on the daily event counts: S = sum of
    pairwise sign comparisons, tie-corrected Var(S), the
    continuity-corrected Z, and a 5% two-sided verdict — the
    non-parametric is-there-a-trend-at-all decision whose slope
    companion is [[q_theil_sen_trend]] (same pair space; MK says
    WHETHER, Theil-Sen says HOW MUCH; both immune to the outlier days
    that break [[q_regression_trend]]'s OLS).

    Exactness: S and the tie term are exact integer folds over the
    calendar-bounded pair table; Var(S) is one integer expression over
    18.0 and Z one IEEE sqrt+division, critical value a shared literal.

    Scale: the corpus collapses to the per-day count table in one
    map-side-combinable aggregate; the pairwise comparison runs on the
    bounded |days|² frame — never on raw events."""
    ev = load_table(spark, sf_dir, "events")
    day = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    idx = day.select(
        "x", F.row_number().over(W.orderBy("d")).cast("long").alias("t")
    )
    a = idx.select(F.col("x").alias("xa"), F.col("t").alias("ta"))
    b = idx.select(F.col("x").alias("xb"), F.col("t").alias("tb"))
    pairs = a.join(b, F.col("tb") > F.col("ta")).agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    nn = idx.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        idx.groupBy("x")
        .agg(F.count(F.lit(1)).alias("tj"))
        .filter(F.col("tj") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tj") * (F.col("tj") - 1) * (2 * F.col("tj") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    stat = (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            "s",
            "n",
            "n_pairs",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tie_term")
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt("var_s"))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    return stat.select(
        "s",
        "n",
        "n_pairs",
        F.round("var_s", 4).alias("var_s"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > _MK_Z_CRIT).cast("int").alias("trend_detected"),
    )
