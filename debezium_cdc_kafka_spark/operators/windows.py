"""Event-time windowing operators over the `events` stream table.

The reference has no windowing (its stream is replayed row-at-a-time);
these are the Structured Streaming semantics the north star adds
(SURVEY §7 Phase 3). Each operator here is the BATCH expression of a
streaming computation — bit-identical to what the streaming form produces
once the watermark passes (tests/test_streaming.py proves that on real
`readStream` queries with `window`/`session_window`/`withWatermark`).

Scale notes: tumbling/sliding windows are plain hash aggregates on
(bucket, key) — partial aggregation map-side, shuffle carries only
partials. Sessionization is a per-key sort (window function) — shuffles
once on user_id; skewed users are bounded by AQE; at 100 TB you'd bucket
the event log by user_id at ingest so this shuffle disappears.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


TUMBLING_ORACLE = """
SELECT
  strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  count(*)            AS n_events,
  round(sum(value),2) AS total_value
FROM events
GROUP BY window_start, event_type
"""


@query("q_tumbling_window_1h", TUMBLING_ORACLE)
def q_tumbling_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows — `F.window` aligns to the epoch
    origin exactly like DuckDB's time_bucket."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SLIDING_ORACLE = """
WITH buckets AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE AS ws, value FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM buckets
GROUP BY ws
"""


@query("q_sliding_window_1h_30m", SLIDING_ORACLE)
def q_sliding_window_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h size, 30 min slide): every event lands in two
    windows. Spark expands this natively in `F.window`; the oracle unrolls
    the same two alignments explicitly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM ordered
),
sessions AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
            AS session_no
  FROM flagged
)
SELECT user_id,
       session_no,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')                    AS session_start,
       count(*)                                                     AS n_events,
       CAST(round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6) AS BIGINT)
                                                                    AS duration_sec,
       round(sum(value), 2)                                         AS total_value
FROM sessions
GROUP BY user_id, session_no
"""


def session_row_aggs() -> list[Column]:
    """The session row over one session's events, as aggregates: its start
    (µs-precision text), event count, duration in whole seconds (HALF_UP,
    µs-exact) and value total to the cent. The batch `q_sessionize_30m` and
    the streaming `stateful.session_stream` both aggregate with these."""
    return [
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.round((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1e6)
        .cast("bigint")
        .alias("duration_sec"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ]


@query("q_sessionize_30m", SESSION_ORACLE)
def q_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap: lag + cumulative
    sum of gap-breaks. A gap of exactly 30 minutes stays in one session.
    The same sessions as streaming `session_window(ts, '30 minutes')`:
    tests/test_streaming.py::test_streaming_session_window_equals_batch
    and tests/test_sessions_stream.py (`stateful.session_stream`, in-order,
    out-of-order and exact-gap inputs) prove it."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    # µs-exact gap arithmetic (unix_micros, not a cast-to-seconds) so the
    # session boundaries agree with streaming session_window bit-for-bit
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w_ord))
    flagged = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w_ord).isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        sess.groupBy("user_id", F.col("session_no").cast("int").alias("session_no"))
        .agg(*session_row_aggs())
    )


DEDUP_ORACLE = """
WITH ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_seen,
       round(value, 2) AS value
FROM ranked WHERE rn = 1
"""


@query("q_stream_dedup_first", DEDUP_ORACLE)
def q_stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on (user_id, event_type) — the deterministic batch
    analogue of streaming `dropDuplicatesWithinWatermark` (which keeps the
    first arrival per key within the watermark horizon)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_seen"),
            F.round("value", 2).alias("value"),
        )
    )


LATE_ORACLE = """
WITH watermarked AS (
  -- the events table is generated in ts order, so arrival order is
  -- simulated as a deterministic hash shuffle of event_id
  SELECT event_type, ts,
         max(ts) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen
  FROM events
)
SELECT event_type, count(*) AS n_late
FROM watermarked
WHERE max_seen IS NOT NULL AND ts < max_seen - INTERVAL 10 MINUTE
GROUP BY event_type
"""


@query("q_late_events_10m", LATE_ORACLE)
def q_late_events_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-audited: an event is late if it arrives
    (arrival order = a deterministic hash shuffle of event_id, since the
    table itself is in ts order) with event-time more than 10 minutes
    behind the max event-time seen so far — exactly the rows a streaming
    `withWatermark('ts', '10 minutes')` aggregation would drop.

    Scale note: the running max over the global arrival order runs as the
    exact two-pass range-partitioned prefix max (functions/distributed.py)
    — per-partition maxima, exclusive prefix over them, local window —
    not a single-partition WindowExec; in production the streaming engine
    tracks the watermark for free."""
    from ..functions.distributed import global_prefix_max

    ev = load_table(spark, sf_dir, "events")
    marked = global_prefix_max(
        ev,
        [F.md5(F.col("event_id").cast("string")), F.col("event_id")],
        F.col("ts"),
        out="max_seen",
    )
    return (
        marked.filter(
            F.col("max_seen").isNotNull()
            & (F.col("ts") < F.col("max_seen") - F.expr("INTERVAL 10 MINUTES"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


# ---------------------------------------------------------------------------
# Navigation functions: nth_value / cume_dist / multi-step lead.
# ---------------------------------------------------------------------------

NAVIGATION_ORACLE = """
SELECT o_custkey, o_orderkey,
       round(cume_dist() OVER w, 6)                              AS cd,
       nth_value(o_orderkey, 2) OVER w                           AS second_orderkey,
       lead(o_orderkey, 2, -1) OVER w                            AS after_next_orderkey,
       strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d')     AS first_orderdate
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("q_window_navigation", NAVIGATION_ORACLE)
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation surface: cume_dist (tie-free order → identical
    fractions in both engines), nth_value with a running frame (NULL
    until the partition's second row enters the frame), multi-step lead
    with an explicit default, and first_value. One per-customer window,
    totally ordered by (o_orderdate, o_orderkey); partitions are small
    and keyed, so the single shuffle is the whole cost at any scale."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wo = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.cume_dist().over(wo), 6).alias("cd"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_orderkey"),
        F.lead("o_orderkey", 2, -1).over(wo).alias("after_next_orderkey"),
        F.date_format(F.first("o_orderdate").over(w), "yyyy-MM-dd").alias("first_orderdate"),
    )


# ---------------------------------------------------------------------------
# Windowed top-k: trending event types per tumbling hour.
# ---------------------------------------------------------------------------

_WTOPK_K = 3

WTOPK_ORACLE = f"""
WITH b AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY ws, event_type
), rk AS (
  SELECT ws, event_type, n,
         row_number() OVER (
           PARTITION BY ws ORDER BY n DESC, event_type) AS rk
  FROM b
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, n, CAST(rk AS INT) AS rk
FROM rk WHERE rk <= {_WTOPK_K}
"""


@query("q_windowed_topk_types", WTOPK_ORACLE)
def q_windowed_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: the top-{_WTOPK_K} event types per tumbling
    1-hour window, ranked by count with a deterministic name tiebreak —
    the leaderboard shape behind "what's hot right now" dashboards and
    per-window head/tail analyses ([[q_tumbling_window_1h]] emits the
    full histogram; this keeps only the head).

    Scale: one groupBy collapses events to (window × type) partials
    (map-side combinable), and the rank window partitions BY WINDOW — a
    frame bounded by the event-type cardinality, never data-sized. In
    the streaming form the same plan runs over the watermarked window
    aggregate, with the rank applied per finalized window at emit time
    (rank-over-updating-state isn't expressible in-flight; the batch
    form here IS the replay-equivalent result)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(
        W.partitionBy("w").orderBy(F.col("n").desc(), "event_type")
    )
    return (
        b.withColumn("rk", rk)
        .filter(F.col("rk") <= _WTOPK_K)
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            F.col("rk").cast("int").alias("rk"),
        )
    )
