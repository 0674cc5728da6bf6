"""Behavioral analytics over the event stream: funnel conversion and
cohort retention — the query family a CDC-fed events table exists to
answer (the reference only *transports* events, reference:
app/consumer/consumer.py:55–75; analyzing them is the north-star
widening).

Scale notes: every stage keys on ``user_id``, so the chained
aggregations and self-joins all reuse one hash-partitioning — on a
cluster the events table would be bucketed by user_id and none of these
steps shuffles more than once. No windows over the whole table, no
driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


FUNNEL_ORACLE = """
WITH s AS (
  SELECT user_id, min(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts > s.s_ts GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id
)
SELECT stage, stage_ord, users FROM (
  SELECT 'signup' AS stage, 1 AS stage_ord, count(*) AS users FROM s
  UNION ALL SELECT 'click_after_signup', 2, count(*) FROM c
  UNION ALL SELECT 'purchase_after_click', 3, count(*) FROM p
)
"""


@query("q_funnel_3step", FUNNEL_ORACLE)
def q_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (signup → later click → later purchase):
    users surviving each stage. Each stage is min-timestamp-per-user of
    qualifying events strictly after the previous stage's timestamp.

    Shape: all three stage timestamps are UNORDERED window aggregates
    (min over the whole user partition — no frame, no sort) chained
    through three projections that share ONE hash partitioning on
    user_id; the per-user reduction and global stage counts then ride
    the same partitioning. Two exchanges total — the data-proportional
    user_id shuffle and the final single-row count — where the
    join-chain formulation re-exchanged per stage (17 exchanges → 3,
    PLANS.md). On a user_id-bucketed events table the big shuffle drops
    out entirely. The round-trip through the union'd per-stage counts
    keeps the driver output identical to the reference funnel."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    ev = (
        events.filter(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "event_type", "ts")
        .withColumn(
            "s_ts", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
        )
        .withColumn(
            "c_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("s_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "p_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.first("s_ts").alias("s_ts"),
        F.first("c_ts").alias("c_ts"),
        F.first("p_ts").alias("p_ts"),
    )
    counts = per_user.agg(
        F.count("s_ts").alias("n_s"),
        F.count("c_ts").alias("n_c"),
        F.count("p_ts").alias("n_p"),
    )
    stages = F.array(
        F.struct(F.lit("signup").alias("stage"), F.lit(1).alias("stage_ord"),
                 F.col("n_s").alias("users")),
        F.struct(F.lit("click_after_signup").alias("stage"), F.lit(2).alias("stage_ord"),
                 F.col("n_c").alias("users")),
        F.struct(F.lit("purchase_after_click").alias("stage"), F.lit(3).alias("stage_ord"),
                 F.col("n_p").alias("users")),
    )
    return counts.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.stage_ord", "s.users"
    )


COHORT_ORACLE = """
WITH cohort AS (
  -- DuckDB date_trunc('week') yields DATE; cast back to TIMESTAMP for
  -- schema parity with Spark's date_trunc
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week FROM events
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, active_week) // 7 AS INT) AS week_offset,
       count(DISTINCT user_id) AS active_users
FROM activity JOIN cohort USING (user_id)
WHERE active_week >= cohort_week
GROUP BY cohort_week, week_offset
"""


@query("q_cohort_retention_weekly", COHORT_ORACLE)
def q_cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by signup week, counted in
    each subsequent week they were active. The distinct-activity set and
    the cohort map both key on user_id (one shuffle each, then a
    co-partitioned join); the final count-distinct re-keys on the small
    (cohort_week, week_offset) grid."""
    events = load_table(spark, sf_dir, "events")
    cohort = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .filter(F.col("active_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            F.expr("CAST(datediff(active_week, cohort_week) DIV 7 AS INT)").alias(
                "week_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Event-sequence transition matrix (first-order Markov chain).
# ---------------------------------------------------------------------------

MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       round(n / (sum(n) OVER (PARTITION BY from_type)), 6) AS p
FROM pairs
"""


@query("q_markov_transitions", MARKOV_ORACLE)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current type). The sequencing window partitions by
    user (bounded state, ordered by (ts, event_id) so simultaneous events
    have a total order); the pair counts are a partial-combinable groupBy
    over at most |types|² keys, and the row-normalizing window runs on
    that tiny aggregate — so the only full-data shuffle is the per-user
    window, which a user_id-bucketed events table at 100 TB avoids
    entirely."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    pairs = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = W.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation.
# ---------------------------------------------------------------------------

RFM_ORACLE = """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
  SELECT o_custkey,
         CAST(datediff('day', max(o_orderdate), (SELECT mx FROM anchor)) AS INT) AS recency_days,
         CAST(count(*) AS INT) AS frequency,
         round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, recency_days, frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS INT)          AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT)        AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT)         AS m_score
FROM base
"""


@query("q_rfm_segments", RFM_ORACLE)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, days since last order (recency,
    against the corpus max date so the query is reproducible), order count
    (frequency), and lifetime spend (monetary, exact integer cents), each
    scored into quintiles — score 1 is best by convention. Every ntile
    orders with a custkey tiebreaker so both engines cut identical
    buckets.

    Scale: the per-customer rollup is one partial-combinable groupBy. The
    three quintile scores use the exact two-pass ntile
    (functions/distributed.py: range-repartition per ordering +
    per-partition rank + bounded offset pass) — NO single-partition
    WindowExec anywhere, so the plan scales with customer count. An
    approximate alternative (precomputed quantile boundaries, broadcast,
    bucket by comparison) trades exactness for one fewer pass."""
    from ..functions.distributed import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("int").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("mx", "last_order").cast("int").alias("recency_days"),
            "frequency",
            F.round(F.col("cents") / 100.0, 2).alias("monetary"),
        )
    )
    scored = global_ntile(
        base, [F.col("recency_days"), F.col("o_custkey")], 5, out="r_score"
    )
    scored = global_ntile(
        scored, [F.col("frequency").desc(), F.col("o_custkey")], 5, out="f_score"
    )
    scored = global_ntile(
        scored, [F.col("monetary").desc(), F.col("o_custkey")], 5, out="m_score"
    )
    return scored.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


# ---------------------------------------------------------------------------
# Marketing attribution: last touch before each purchase.
# ---------------------------------------------------------------------------

ATTRIBUTION_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), tch AS (
  SELECT event_id AS touch_id, user_id, ts AS t_ts, event_type AS touch_type
  FROM events WHERE event_type IN ('click', 'view')
), tagged AS (
  SELECT user_id AS k, ts AS t, 1 AS is_left, NULL::BIGINT AS tb,
         event_id, NULL::BIGINT AS touch_id, NULL::VARCHAR AS touch_type,
         NULL::TIMESTAMP AS t_ts
  FROM p
  UNION ALL
  SELECT user_id, t_ts, 0, touch_id, NULL::BIGINT, touch_id, touch_type, t_ts
  FROM tch
), carried AS (
  SELECT *,
    last_value(touch_id IGNORE NULLS) OVER w   AS a_id,
    last_value(touch_type IGNORE NULLS) OVER w AS a_type,
    last_value(t_ts IGNORE NULLS) OVER w       AS a_ts
  FROM tagged
  WINDOW w AS (PARTITION BY k ORDER BY t, is_left, tb ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, k AS user_id, a_id AS touch_id, a_type AS touch_type,
       strftime(a_ts, '%Y-%m-%d %H:%M:%S') AS touch_ts,
       a_ts IS NOT NULL AS attributed
FROM carried WHERE is_left = 1
"""


@query("q_attribution_last_touch", ATTRIBUTION_ORACLE)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's most
    recent click or view at-or-before purchase time (equal-timestamp
    touches match; newest event_id wins the tie deterministically).
    Purchases with no prior touch stay unattributed (attributed=false) —
    an as-of LEFT join, not inner. Built on the same union + keyed-window
    as-of machinery as operators/asof.py: one shuffle on user_id, state
    bounded per key, no range self-join blowup."""
    from .asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    joined = asof_join(
        purchases,
        touches,
        key_left="user_id",
        key_right="user_id",
        time_left="ts",
        time_right="t_ts",
        right_cols=["touch_id", "touch_type", "t_ts"],
        tiebreak="touch_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "touch_id",
        "touch_type",
        F.date_format("t_ts", "yyyy-MM-dd HH:mm:ss").alias("touch_ts"),
        F.col("t_ts").isNotNull().alias("attributed"),
    )


# ---------------------------------------------------------------------------
# View→purchase interval join (the batch spec of a stream-stream join).
# ---------------------------------------------------------------------------

INTERVAL_JOIN_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS micros_between
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


@query("q_view_purchase_interval_join", INTERVAL_JOIN_ORACLE)
def q_view_purchase_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (view, purchase) pair by the same user where the purchase
    lands within an hour of the view — the batch specification of a
    stream-stream interval join. Batch shape: equi-join on user_id
    carries the shuffle, the time-range predicate evaluates inside the
    join — never a cross join. The streaming form (two readStreams +
    watermarks + this exact join condition) is proven equal to this
    query in test_stream_join.py; the watermark is what lets Spark age
    per-key state out instead of buffering both streams forever — the
    only formulation that survives an unbounded 100 TB/day stream."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    return (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("pts") > F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (F.unix_micros("pts") - F.unix_micros("vts")).alias("micros_between"),
        )
    )


# ---------------------------------------------------------------------------
# Session path mining (top event-type trigrams within sessions).
# ---------------------------------------------------------------------------

_PATH_GAP_MIN = 30
_PATH_TOPK = 20

PATHS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_PATH_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
), grams AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER w2
           || '>' || lead(event_type, 2) OVER w2 AS path,
         lead(event_type, 2) OVER w2 AS t3
  FROM sess
  WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
)
SELECT path, CAST(count(*) AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS INT) AS rk
FROM grams WHERE t3 IS NOT NULL
GROUP BY path
QUALIFY rk <= {_PATH_TOPK}
"""


@query("q_top_session_paths", PATHS_ORACLE)
def q_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step navigation paths WITHIN sessions (30-minute
    inactivity gap): sessionize with a running is-new-session sum,
    form event-type trigrams via two leads bounded to the session, and
    rank globally. Generalizes [[q_markov_transitions]] (1-step) to
    order-3 patterns. All three windows share the (user_id) shuffle —
    sessionization, trigram leads, nothing re-keys until the final tiny
    path count; the path cardinality is |event_types|³ at most, so the
    global rank is a broadcast-scale aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_new = (
        F.lag("ts").over(w).isNull() | (gap_us > _PATH_GAP_MIN * 60 * 1_000_000)
    ).cast("int")
    sess = ev.withColumn("is_new", is_new).withColumn(
        "sid",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    w2 = W.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    t2 = F.lead("event_type", 1).over(w2)
    t3 = F.lead("event_type", 2).over(w2)
    grams = sess.select(
        F.concat_ws(">", F.col("event_type"), t2, t3).alias("path"),
        t3.alias("t3"),
    ).filter(F.col("t3").isNotNull())
    counts = grams.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    rk_w = W.orderBy(F.col("n").desc(), "path")
    return (
        counts.withColumn("rk", F.row_number().over(rk_w).cast("int"))
        .filter(F.col("rk") <= _PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Max concurrent sessions per day: distributed sweep-line.
# ---------------------------------------------------------------------------

CONCURRENCY_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
),
sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_no
  FROM flagged
),
bounds AS (
  SELECT user_id, session_no,
         min(ts) AS s,
         make_timestamp(epoch_us(max(ts)) + 60000000) AS e
  FROM sessions GROUP BY user_id, session_no
),
pts AS (
  SELECT s AS ts, 1 AS delta FROM bounds
  UNION ALL
  SELECT e AS ts, -1 AS delta FROM bounds
),
net AS (SELECT ts, CAST(sum(delta) AS BIGINT) AS net FROM pts GROUP BY ts),
run AS (
  SELECT ts, CAST(sum(net) OVER (ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS conc
  FROM net
)
SELECT CAST(ts AS DATE) AS day, CAST(max(conc) AS BIGINT) AS max_concurrent
FROM run GROUP BY day
"""


@query("q_max_concurrent_sessions", CONCURRENCY_ORACLE)
def q_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak load per day: sessionize (30-min gap, same boundaries as
    [[q_sessionize_30m]]), give each session a 60 s tail past its last
    event, then sweep: +1 at session start, −1 at end, net the deltas
    per distinct timestamp, and take the running sum's daily max. Netting
    per timestamp makes the running sum deterministic (no tie-order
    dependence) and defines touching sessions as a seamless handoff, not
    an overlap.

    Scale shape: the sweep's global ordered running sum is the only
    non-keyed step; its input is one row per distinct boundary timestamp
    (two per session before netting), orders of magnitude smaller than
    events — and it runs as the exact two-pass range-partitioned prefix
    sum (functions/distributed.py), not a single-partition window, so
    even a pathological boundary count scales."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_ord))
    flagged = ev.withColumn(
        "is_new", F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    bounds = sessions.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("s"),
        F.timestamp_micros(F.unix_micros(F.max("ts")) + 60_000_000).alias("e"),
    )
    pts = bounds.select(F.col("s").alias("ts"), F.lit(1).alias("delta")).unionAll(
        bounds.select(F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    )
    net = pts.groupBy("ts").agg(F.sum("delta").alias("net"))
    from ..functions.distributed import global_prefix_sum

    run = global_prefix_sum(net, [F.col("ts")], F.col("net"), out="conc").select(
        "ts", "conc"
    )
    return run.groupBy(F.to_date("ts").alias("day")).agg(
        F.max("conc").alias("max_concurrent")
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival: time from first view to first purchase.
# ---------------------------------------------------------------------------

KM_ORACLE = """
WITH cens AS (
  SELECT CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS hi FROM events
),
t0 AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
tp AS (
  SELECT t0.user_id, t0.t_view, min(e.ts) AS t_purchase
  FROM t0 LEFT JOIN events e
    ON e.user_id = t0.user_id AND e.event_type = 'purchase' AND e.ts >= t0.t_view
  GROUP BY t0.user_id, t0.t_view
),
subj AS (
  SELECT user_id,
         CASE WHEN t_purchase IS NOT NULL
              THEN CAST(datediff('day', t_view, t_purchase) AS INTEGER)
              ELSE CAST(datediff('day', t_view, hi) AS INTEGER) END AS t,
         CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM tp, cens
),
perd AS (
  SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c
  FROM subj GROUP BY t
),
risk AS (
  SELECT t, d, c,
         (SELECT count(*) FROM subj)
           - coalesce(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM perd
)
SELECT t, d AS d_events, c AS c_censored, CAST(n_risk AS BIGINT) AS n_risk,
       round(exp(sum(round(ln(greatest(1.0 - CAST(d AS DOUBLE) / n_risk, 1e-12)), 9))
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             6) AS km_survival
FROM risk
"""


@query("q_kaplan_meier", KM_ORACLE)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for view -> purchase conversion: each
    user who ever viewed enters the study at their first view; the event
    is their first purchase at-or-after it; users who never convert are
    right-censored at the end of observation. S(t) = prod over t' <= t of
    (1 - d/n) — the estimator that makes conversion-latency claims honest
    when the observation window truncates slow converters (a plain
    average of observed latencies is biased toward fast ones).

    Scale: two per-user min-aggregates (map-side combinable) and a
    per-duration collapse; the KM walk itself runs over DISTINCT
    durations — bounded by the study length in days, a calendar constant
    like [[q_cusum_changepoint]]'s series. The product is exp(sum(ln))
    with each ln term rounded to 1e-9 first: both engines' ln can differ
    in the last ulp, and the round re-synchronizes them before the
    cumulative sum (same discipline as the DSIR log-ratio table,
    [[q_dsir_weights]])."""
    ev = load_table(spark, sf_dir, "events")
    cens = ev.agg(F.date_trunc("day", F.max("ts")).alias("hi"))
    t0 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    tp = (
        t0.join(pur, "user_id", "left")
        .filter(F.col("pts").isNull() | (F.col("pts") >= F.col("t_view")))
        .groupBy("user_id", "t_view")
        .agg(F.min("pts").alias("t_purchase"))
    )
    subj = tp.crossJoin(F.broadcast(cens)).select(
        "user_id",
        F.when(
            F.col("t_purchase").isNotNull(),
            F.datediff("t_purchase", "t_view"),
        )
        .otherwise(F.datediff("hi", "t_view"))
        .cast("int")
        .alias("t"),
        F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    # The per-duration collapse is calendar-bounded and every subject
    # lands in exactly one row, so the subject count is Σ(d+c) over it —
    # deriving n_total from the checkpointed collapse (instead of a
    # second aggregate over `subj`) halves the upstream executions (r6
    # scan census: 6 events scans per run → 3).
    perd = (
        subj.groupBy("t")
        .agg(F.sum("ev").alias("d"), F.sum(1 - F.col("ev")).alias("c"))
        .localCheckpoint(eager=True)
    )
    n_total = perd.agg(
        (F.sum("d") + F.sum("c")).cast("bigint").alias("n_total")
    )
    wprev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = perd.crossJoin(F.broadcast(n_total)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    # greatest(..., 1e-12): the final duration has d = n_risk and DuckDB's
    # ln(0) RAISES (Spark returns -inf); the floor makes S collapse to 0
    # after rounding, identically in both engines
    lnterm = F.round(
        F.log(
            F.greatest(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
                F.lit(1e-12),
            )
        ),
        9,
    )
    return risk.select(
        "t",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.round(F.exp(F.sum(lnterm).over(wcum)), 6).alias("km_survival"),
    )


# ---------------------------------------------------------------------------
# DAU / MAU stickiness.
# ---------------------------------------------------------------------------

DAU_MAU_ORACLE = """
WITH dau AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1
),
mau AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS m,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY 1
)
SELECT d, dau, mau, round(CAST(dau AS DOUBLE) / mau, 6) AS stickiness
FROM dau JOIN mau ON CAST(date_trunc('month', d) AS DATE) = m
"""


@query("q_dau_mau_stickiness", DAU_MAU_ORACLE)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily distinct actives over the
    calendar month's distinct actives — the engagement ratio every
    product dashboard leads with (a DAU spike with flat stickiness is
    acquisition; rising stickiness is habit). Two distinct-count
    aggregates at different grains joined on the month; the month side is
    broadcast (12 rows/year).

    Scale: both distincts partial-aggregate on (grain, user) first —
    shuffle carries distinct pairs, not events; at 100 TB the exact MAU
    swaps for [[q_hll_sketch_union]]'s mergeable HLL union over daily
    sketches (same join shape, sketch-sized state)."""
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = ev.groupBy(F.date_trunc("month", "ts").cast("date").alias("m")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(
            F.broadcast(mau),
            F.date_trunc("month", "d").cast("date") == F.col("m"),
        )
        .select(
            "d",
            "dau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Next-event prediction eval: how predictive is the Markov matrix?
# ---------------------------------------------------------------------------

NEXT_EVENT_ORACLE = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
), pred AS (
  SELECT from_type, to_type AS predicted
  FROM (
    SELECT from_type, to_type,
           row_number() OVER (
             PARTITION BY from_type ORDER BY n DESC, to_type) AS rk
    FROM pairs
  ) WHERE rk = 1
)
SELECT p.from_type, pr.predicted,
       CAST(sum(p.n) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN p.to_type = pr.predicted THEN p.n ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(sum(CASE WHEN p.to_type = pr.predicted THEN p.n ELSE 0 END)
             / CAST(sum(p.n) AS DOUBLE), 6) AS top1_accuracy
FROM pairs p JOIN pred pr USING (from_type)
GROUP BY p.from_type, pr.predicted
"""


@query("q_next_event_accuracy", NEXT_EVENT_ORACLE)
def q_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine model evaluation: use the first-order Markov matrix
    ([[q_markov_transitions]]) as a next-event predictor — per state,
    predict the argmax transition — and score its top-1 accuracy against
    the corpus itself (training-set accuracy: the UPPER bound any
    1st-order sequence model gets; far-from-uniform rows here are the
    states worth a session-based model, cf. [[q_top_session_paths]]).

    Exactness: prediction and score both come from the integer pair-count
    table; one rounded division per state.

    Scale: the only corpus-sized work is the per-user sequencing window
    (user-bounded state, the [[q_markov_transitions]] shuffle — bucketed
    events tables skip it); everything else lives on the |types|² count
    table, including the argmax rank (frame bounded by type
    cardinality)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    pairs = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = F.row_number().over(
        W.partitionBy("from_type").orderBy(F.col("n").desc(), "to_type")
    )
    pred = (
        pairs.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("from_type", F.col("to_type").alias("predicted"))
    )
    correct = F.sum(
        F.when(F.col("to_type") == F.col("predicted"), F.col("n")).otherwise(0)
    )
    return (
        pairs.join(F.broadcast(pred), "from_type")
        .groupBy("from_type", "predicted")
        .agg(
            F.sum("n").alias("n_pairs"),
            correct.alias("n_correct"),
        )
        .select(
            "from_type",
            "predicted",
            "n_pairs",
            "n_correct",
            F.round(
                F.col("n_correct") / F.col("n_pairs").cast("double"), 6
            ).alias("top1_accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# User concentration: Lorenz deciles of event activity.
# ---------------------------------------------------------------------------

_CONC_TILES = 10

CONC_ORACLE = f"""
WITH ue AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
), tiled AS (
  SELECT user_id, n_events,
         ntile({_CONC_TILES}) OVER (ORDER BY n_events, user_id) AS decile
  FROM ue
), tot AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_users
  FROM ue
), d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(n_events) AS BIGINT) AS events
  FROM tiled GROUP BY decile
)
SELECT CAST(d.decile AS INT) AS decile, d.n_users, d.events,
       round(CAST(d.events AS DOUBLE) / t.total, 6) AS event_share,
       round(CAST(sum(d.events) OVER (ORDER BY d.decile) AS BIGINT)
             / CAST(t.total AS DOUBLE), 6) AS cum_share
FROM d CROSS JOIN tot t
"""


@query("q_user_concentration", CONC_ORACLE)
def q_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration: users ranked into activity deciles with
    each decile's share and cumulative share of all events — the Lorenz
    table behind "the top 10% of users generate X% of traffic"
    ([[q_gini_source_tokens]] compresses the same curve to one number
    for sources; the table form shows WHERE the curve bends, which is
    what a sampling or rate-limit policy actually reads).

    Scale: the corpus collapses to per-user counts (map-side
    combinable); the decile assignment is the exact two-pass distributed
    ntile over that user-bounded table, and the cumulative-share window
    runs over {_CONC_TILES} rows. Ratios are integer-over-integer."""
    from ..functions.distributed import global_ntile

    ev = load_table(spark, sf_dir, "events")
    ue = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    tiled = global_ntile(
        ue, [F.col("n_events"), F.col("user_id")], _CONC_TILES, out="decile"
    )
    tot = ue.agg(F.sum("n_events").alias("total"))
    d = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("events"),
    )
    cum = F.sum("events").over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_users",
            "events",
            F.round(F.col("events").cast("double") / F.col("total"), 6).alias(
                "event_share"
            ),
            F.round(cum.cast("double") / F.col("total"), 6).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# Growth accounting: new vs returning users per day.
# ---------------------------------------------------------------------------

NEWRET_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
  FROM events
), first_seen AS (
  SELECT user_id, min(d) AS f FROM du GROUP BY user_id
)
SELECT du.d AS day,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(sum(CASE WHEN du.d = fs.f THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(sum(CASE WHEN du.d > fs.f THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users,
       round(sum(CASE WHEN du.d > fs.f THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS returning_share
FROM du JOIN first_seen fs ON fs.user_id = du.user_id
GROUP BY du.d
"""


@query("q_new_vs_returning", NEWRET_ORACLE)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's active users split into NEW (first
    ever seen today) and RETURNING — the decomposition behind every
    growth dashboard, and the denominator sanity for
    [[q_cohort_retention_weekly]] (retention reads the returning side;
    this shows whether growth is acquisition or retention).

    Scale: the corpus collapses to the (user, day) distinct table; first
    touch is one groupBy(user) min; the split is a user-keyed join back
    and a per-day aggregate — every step map-side combinable or keyed on
    user/day, never a global window."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
    ).distinct()
    first_seen = du.groupBy("user_id").agg(F.min("d").alias("f"))
    j = du.join(first_seen, "user_id")
    is_new = (F.col("d") == F.col("f")).cast("int")
    return j.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum(is_new).cast("long").alias("new_users"),
        F.sum(1 - is_new).cast("long").alias("returning_users"),
        F.round(
            F.sum(1 - is_new) / F.count(F.lit(1)).cast("double"), 6
        ).alias("returning_share"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival time profile + burstiness (Goh-Barabási B = (σ−µ)/(σ+µ)).
# ---------------------------------------------------------------------------

BURST_ORACLE = """
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS t_us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
), gaps AS (
  SELECT event_type, (t_us - prev_us) // 1000000 AS gap_s
  FROM seq WHERE prev_us IS NOT NULL
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap_s) AS HUGEINT) AS s1,
         sum(CAST(gap_s AS HUGEINT) * gap_s) AS s2,
         quantile_cont(gap_s, 0.5) AS med
  FROM gaps GROUP BY event_type
), mom AS (
  SELECT event_type, n_gaps, med,
         CAST(s1 AS DOUBLE) / n_gaps AS mu,
         sqrt(greatest(
           CAST(s2 AS DOUBLE) / n_gaps
             - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps),
           0.0)) AS sd
  FROM agg
)
SELECT event_type, n_gaps,
       round(mu, 6) AS mean_gap_s,
       round(sd, 6) AS std_gap_s,
       round((sd - mu) / (sd + mu), 6) AS burstiness,
       round(med, 1) AS median_gap_s
FROM mom
"""


@query("q_interarrival_burstiness", BURST_ORACLE)
def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival profile: each user's consecutive-event
    gaps (seconds, attributed to the LATER event's type) aggregated to
    count / mean / std / exact median and the Goh-Barabási burstiness
    coefficient B = (σ−µ)/(σ+µ) — B→−1 is a metronome, B≈0 Poisson,
    B→+1 bursty. The traffic-shape diagnostic behind session-gap tuning
    ([[q_sessionize_30m]]'s 30-minute threshold) and bot screening.

    Exactness: gaps are integer seconds (`unix_micros` floor-div 10^6,
    both engines truncate non-negatives identically); Σgap stays in
    int64 while Σgap² is summed in decimal(38,0) ↔ HUGEINT and converted
    to double ONCE per group, so µ/σ/B are the same IEEE doubles in both
    engines. σ² is clamped at 0 before sqrt in both.

    Scale: one user-keyed window pass for the lag (the sessionize
    shuffle, reusable across all per-user sequence features), then a
    map-side-combinable 4-moment aggregate per type; only the exact
    median needs the per-group value multiset — at 100 TB swap it for
    percentile_approx like [[q_approx_quantiles]]."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            (
                (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
                / F.lit(1_000_000)
            ).cast("long").alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("gap_s").cast("decimal(19,0)") * F.col("gap_s")).alias("s2"),
        F.percentile("gap_s", F.lit(0.5)).alias("med"),
    )
    mu = F.col("s1").cast("double") / F.col("n_gaps")
    sd = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n_gaps") - mu * mu, F.lit(0.0)
        )
    )
    return agg.select(
        "event_type",
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sd, 6).alias("std_gap_s"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
        F.round("med", 1).alias("median_gap_s"),
    )


# ---------------------------------------------------------------------------
# Time-constrained window funnel (ClickHouse windowFunnel semantics).
# ---------------------------------------------------------------------------

_WF_WINDOW_US = 6 * 3600 * 1_000_000  # chain must fit in 6h of stage 1

WINDOW_FUNNEL_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS t
  FROM events WHERE event_type IN ('signup', 'click', 'purchase')
), nxt0 AS (
  SELECT user_id, event_type, event_id, t,
         first_value(CASE WHEN event_type = 'purchase' THEN t END IGNORE NULLS)
           OVER w AS np
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), nxt AS (
  SELECT user_id, event_type, t,
         first_value(CASE WHEN event_type = 'click' THEN t END IGNORE NULLS)
           OVER w AS nc_t,
         first_value(CASE WHEN event_type = 'click' THEN np END IGNORE NULLS)
           OVER w AS nc_np
  FROM nxt0
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), lev AS (
  SELECT user_id,
         max(CASE
           WHEN nc_t IS NOT NULL AND nc_t - t <= {_WF_WINDOW_US} THEN
             CASE WHEN nc_np IS NOT NULL AND nc_np - t <= {_WF_WINDOW_US}
                  THEN 3 ELSE 2 END
           ELSE 1 END) AS funnel_level
  FROM nxt WHERE event_type = 'signup'
  GROUP BY user_id
)
SELECT CAST(funnel_level AS INT) AS funnel_level,
       CAST(count(*) AS BIGINT) AS users,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
FROM lev GROUP BY funnel_level
"""


@query("q_window_funnel", WINDOW_FUNNEL_ORACLE)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (ClickHouse ``windowFunnel``): deepest
    signup→click→purchase chain per user where the WHOLE chain fits in
    6h of its stage-1 anchor (strictly increasing (ts, event_id)), and
    EVERY signup is tried as an anchor — unlike [[q_funnel_3step]],
    whose stages are unbounded-horizon. Histogram of users by deepest
    level reached.

    Per anchor the earliest-next-stage greedy is exact (an earlier
    click only widens the purchase choices), so the whole search is two
    aligned IGNORE-NULLS forward first_value passes on ONE user-keyed
    sort — next-click ts, and the next-click row's own next-purchase ts
    (a nested first_value: the inner one evaluates per row, the outer
    picks the click row's value) — then literal integer comparisons on
    the anchor rows. No anchor×event explosion, no per-group pandas.

    Scale: one user_id shuffle (shared with every sequence feature),
    then a ≤3-row histogram; the windows are plain running scans, never
    data-proportional single-partition."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("t"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    np_ = F.first(
        F.when(F.col("event_type") == "purchase", F.col("t")), ignorenulls=True
    ).over(w)
    nxt = ev.withColumn("np", np_).select(
        "user_id",
        "event_type",
        "t",
        F.first(
            F.when(F.col("event_type") == "click", F.col("t")), ignorenulls=True
        ).over(w).alias("nc_t"),
        F.first(
            F.when(F.col("event_type") == "click", F.col("np")), ignorenulls=True
        ).over(w).alias("nc_np"),
    )
    tol = _WF_WINDOW_US
    level = F.when(
        F.col("nc_t").isNotNull() & (F.col("nc_t") - F.col("t") <= tol),
        F.when(
            F.col("nc_np").isNotNull() & (F.col("nc_np") - F.col("t") <= tol),
            F.lit(3),
        ).otherwise(F.lit(2)),
    ).otherwise(F.lit(1))
    lev = (
        nxt.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.max(level).alias("funnel_level"))
    )
    wg = W.partitionBy()
    return lev.groupBy(F.col("funnel_level").cast("int").alias("funnel_level")).agg(
        F.count(F.lit(1)).alias("users")
    ).select(
        "funnel_level",
        "users",
        F.round(F.col("users") / F.sum("users").over(wg).cast("double"), 6).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution (range-frame form, no pair materialization).
# ---------------------------------------------------------------------------

_ATTR_LIN_WINDOW_US = 24 * 3600 * 1_000_000  # lookback per purchase

ATTR_LINEAR_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
), fr AS (
  SELECT event_type AS row_type,
         count(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS n_view,
         count(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS n_click
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t
               RANGE BETWEEN {_ATTR_LIN_WINDOW_US} PRECEDING AND 1 PRECEDING)
), credit AS (
  SELECT n_view, n_click, n_view + n_click AS n,
         CASE WHEN n_view + n_click > 0 THEN
           CAST(round(1000000.0 * n_view / (n_view + n_click)) AS BIGINT)
         ELSE 0 END AS c_view,
         CASE WHEN n_view + n_click > 0 THEN
           CAST(round(1000000.0 * n_click / (n_view + n_click)) AS BIGINT)
         ELSE 0 END AS c_click
  FROM fr WHERE row_type = 'purchase'
)
SELECT 'view' AS touch_type,
       round(CAST(sum(c_view) AS DOUBLE) / 1000000.0, 6) AS credited_purchases,
       CAST(count(CASE WHEN n_view > 0 THEN 1 END) AS BIGINT) AS purchases_touched
FROM credit
UNION ALL
SELECT 'click', round(CAST(sum(c_click) AS DOUBLE) / 1000000.0, 6),
       CAST(count(CASE WHEN n_click > 0 THEN 1 END) AS BIGINT)
FROM credit
UNION ALL
SELECT '_unattributed', CAST(count(CASE WHEN n = 0 THEN 1 END) AS DOUBLE),
       CAST(count(CASE WHEN n = 0 THEN 1 END) AS BIGINT)
FROM credit
"""


@query("q_attribution_linear", ATTR_LINEAR_ORACLE)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit of
    credit EQUALLY across all of the user's views and clicks in the 24h
    before it (strictly earlier, value-based) — the fairness-motivated
    counterpart of [[q_attribution_last_touch]], which hands the whole
    unit to the newest touch. Per channel: fractional credited-purchase
    mass plus how many purchases the channel touched at all; purchases
    with an empty lookback surface on the '_unattributed' row, so the
    three rows conserve total purchase mass (pinned in tests).

    Exactness: per-purchase channel shares are 1e6-scaled rounded
    integers (same double expression both engines), so the channel
    totals are exact int64 sums with ONE final division.

    Scale: no (touch x purchase) pair ever materializes — the lookback
    is a value-based RANGE frame on the user-keyed sort (the sessionize
    shuffle again), counting each channel's rows in [t-24h, t); the
    per-purchase frame then collapses to a 3-row report in one global
    aggregate. Compare [[q_view_purchase_interval_join]], which is the
    pair-materializing form of the same time constraint."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-_ATTR_LIN_WINDOW_US, -1)
    )
    fr = ev.select(
        "event_type",
        F.count(F.when(F.col("event_type") == "view", 1)).over(w).alias("n_view"),
        F.count(F.when(F.col("event_type") == "click", 1)).over(w).alias("n_click"),
    )
    n = F.col("n_view") + F.col("n_click")
    share = lambda c: F.when(  # noqa: E731
        n > 0, F.round(F.lit(1000000.0) * F.col(c) / n).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))
    credit = fr.filter(F.col("event_type") == "purchase").select(
        "n_view", "n_click", n.alias("n"),
        share("n_view").alias("c_view"), share("n_click").alias("c_click"),
    )
    agg = credit.agg(
        F.sum("c_view").alias("sv"),
        F.sum("c_click").alias("sc"),
        F.count(F.when(F.col("n_view") > 0, 1)).alias("tv"),
        F.count(F.when(F.col("n_click") > 0, 1)).alias("tc"),
        F.count(F.when(F.col("n") == 0, 1)).alias("un"),
    )
    rows = F.array(
        F.struct(
            F.lit("view").alias("touch_type"),
            F.round(F.col("sv").cast("double") / 1000000.0, 6).alias(
                "credited_purchases"
            ),
            F.col("tv").alias("purchases_touched"),
        ),
        F.struct(
            F.lit("click").alias("touch_type"),
            F.round(F.col("sc").cast("double") / 1000000.0, 6).alias(
                "credited_purchases"
            ),
            F.col("tc").alias("purchases_touched"),
        ),
        F.struct(
            F.lit("_unattributed").alias("touch_type"),
            F.col("un").cast("double").alias("credited_purchases"),
            F.col("un").alias("purchases_touched"),
        ),
    )
    return agg.select(F.explode(rows).alias("r")).select(
        "r.touch_type", "r.credited_purchases", "r.purchases_touched"
    )


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution (integer harmonic decay, pair form).
# ---------------------------------------------------------------------------

ATTR_DECAY_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS t
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
), pairs AS (
  SELECT p.event_id AS pid, tch.event_type AS channel,
         1000000 // (1 + (p.t - tch.t) // 60000000) AS w
  FROM ev p
  JOIN ev tch ON tch.user_id = p.user_id
             AND tch.t < p.t AND p.t - tch.t <= {_ATTR_LIN_WINDOW_US}
  WHERE p.event_type = 'purchase' AND tch.event_type IN ('view', 'click')
), per AS (
  SELECT pid,
         CAST(sum(CASE WHEN channel = 'view' THEN w ELSE 0 END) AS BIGINT) AS wv,
         CAST(sum(CASE WHEN channel = 'click' THEN w ELSE 0 END) AS BIGINT) AS wc
  FROM pairs GROUP BY pid
), credit AS (
  SELECT p.event_id,
         CASE WHEN per.pid IS NULL OR per.wv + per.wc = 0 THEN NULL
              ELSE CAST(round(1000000.0 * per.wv / (per.wv + per.wc)) AS BIGINT)
         END AS c_view,
         CASE WHEN per.pid IS NULL OR per.wv + per.wc = 0 THEN NULL
              ELSE CAST(round(1000000.0 * per.wc / (per.wv + per.wc)) AS BIGINT)
         END AS c_click,
         per.wv, per.wc
  FROM (SELECT event_id FROM ev WHERE event_type = 'purchase') p
  LEFT JOIN per ON per.pid = p.event_id
)
SELECT 'view' AS touch_type,
       round(CAST(sum(c_view) AS DOUBLE) / 1000000.0, 6) AS credited_purchases,
       CAST(count(CASE WHEN wv > 0 THEN 1 END) AS BIGINT) AS purchases_touched
FROM credit
UNION ALL
SELECT 'click', round(CAST(sum(c_click) AS DOUBLE) / 1000000.0, 6),
       CAST(count(CASE WHEN wc > 0 THEN 1 END) AS BIGINT)
FROM credit
UNION ALL
SELECT '_unattributed', CAST(count(CASE WHEN c_view IS NULL THEN 1 END) AS DOUBLE),
       CAST(count(CASE WHEN c_view IS NULL THEN 1 END) AS BIGINT)
FROM credit
"""


@query("q_attribution_time_decay", ATTR_DECAY_ORACLE)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: like [[q_attribution_linear]]
    but a touch's share of the purchase credit decays harmonically with
    its age — weight = 1e6 // (1 + age_minutes) — so the touch minutes
    before the purchase dominates one from yesterday (the recency prior
    last-touch takes to the limit). Decay weights are INTEGER arithmetic
    (floor-div of positives truncates identically in both engines), so
    per-purchase channel masses are exact int64 sums and only the final
    per-purchase share is one rounded double division — the exponential
    decay everyone writes first needs libm pow in-plan, which this
    engine bans for hash-gateability ([[q_ndcg_eval]] discussion).

    Scale: the weight couples each (touch, purchase) pair, so unlike
    the linear model's RANGE frame this is the pair-materializing form
    — the same user-keyed 24h interval join as
    [[q_view_purchase_interval_join]], bounded by per-user activity
    density (the stream-stream join-state bound), never a free cross
    join; everything after is a 3-row report."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("t"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"),
        F.col("t").alias("pt"),
    )
    tch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("tu"), F.col("event_type").alias("channel"),
        F.col("t").alias("tt"),
    )
    # integer floor-div both steps: expr() keeps DIV semantics in Spark
    w = F.expr("1000000 DIV (1 + (pt - tt) DIV 60000000)")
    pairs = p.join(
        tch,
        (F.col("tu") == F.col("pu"))
        & (F.col("tt") < F.col("pt"))
        & (F.col("pt") - F.col("tt") <= _ATTR_LIN_WINDOW_US),
    ).select("pid", "channel", w.alias("w"))
    per = pairs.groupBy("pid").agg(
        F.sum(F.when(F.col("channel") == "view", F.col("w")).otherwise(0))
        .cast("long")
        .alias("wv"),
        F.sum(F.when(F.col("channel") == "click", F.col("w")).otherwise(0))
        .cast("long")
        .alias("wc"),
    )
    tot = F.col("wv") + F.col("wc")
    share = lambda c: F.when(  # noqa: E731
        tot > 0, F.round(F.lit(1000000.0) * F.col(c) / tot).cast("bigint")
    )
    credit = (
        p.select("pid")
        .join(per, "pid", "left")
        .select(
            share("wv").alias("c_view"),
            share("wc").alias("c_click"),
            "wv",
            "wc",
        )
    )
    agg = credit.agg(
        F.sum("c_view").alias("sv"),
        F.sum("c_click").alias("sc"),
        F.count(F.when(F.col("wv") > 0, 1)).alias("tv"),
        F.count(F.when(F.col("wc") > 0, 1)).alias("tc"),
        F.count(F.when(F.col("c_view").isNull(), 1)).alias("un"),
    )
    rows = F.array(
        F.struct(
            F.lit("view").alias("touch_type"),
            F.round(F.col("sv").cast("double") / 1000000.0, 6).alias(
                "credited_purchases"
            ),
            F.col("tv").alias("purchases_touched"),
        ),
        F.struct(
            F.lit("click").alias("touch_type"),
            F.round(F.col("sc").cast("double") / 1000000.0, 6).alias(
                "credited_purchases"
            ),
            F.col("tc").alias("purchases_touched"),
        ),
        F.struct(
            F.lit("_unattributed").alias("touch_type"),
            F.col("un").cast("double").alias("credited_purchases"),
            F.col("un").alias("purchases_touched"),
        ),
    )
    return agg.select(F.explode(rows).alias("r")).select(
        "r.touch_type", "r.credited_purchases", "r.purchases_touched"
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative spend per user by cohort age.
# ---------------------------------------------------------------------------

_LTV_MAX_OFFSET = 4  # 30-day stream → cohort ages 0..4 weeks

LTV_ORACLE = f"""
WITH cohort AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cw
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), spend AS (
  SELECT c.cw,
         CAST(date_diff('day', c.cw,
              CAST(date_trunc('week', e.ts) AS TIMESTAMP)) // 7 AS INT) AS k,
         CAST(round(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN cohort c USING (user_id)
  WHERE e.ts >= c.cw
), size_ AS (
  SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY cw
), grid AS (
  SELECT s.cw, g.k
  FROM size_ s, unnest(range(0, {_LTV_MAX_OFFSET + 1})) AS g(k)
), weekly AS (
  SELECT g.cw, CAST(g.k AS INT) AS week_offset,
         coalesce(sum(sp.cents), 0) AS wk_cents
  FROM grid g LEFT JOIN spend sp ON sp.cw = g.cw AND sp.k = g.k
  GROUP BY g.cw, g.k
)
SELECT w.cw AS cohort_week, w.week_offset, s.cohort_size,
       round(CAST(sum(w.wk_cents) OVER (
               PARTITION BY w.cw ORDER BY w.week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / s.cohort_size / 100.0, 4) AS avg_cum_ltv
FROM weekly w JOIN size_ s USING (cw)
"""


@query("q_ltv_cohort_curve", LTV_ORACLE)
def q_ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: for each signup-week cohort, the average
    CUMULATIVE spend per cohort member at age 0..{_LTV_MAX_OFFSET} weeks
    — the revenue view of [[q_cohort_retention_weekly]] (retention says
    who comes back, this says what coming back is worth, the payback
    curve a CAC target is set against). Dense grid: cohort-weeks with no
    spend still emit their row, so curves are comparable.

    Exactness: weekly cents are exact integer sums; the cumulative runs
    over the bounded cohort×{_LTV_MAX_OFFSET + 1} grid (never
    data-proportional) and divides by the cohort census once.

    Scale: one user-keyed aggregate for cohorts, one (cohort, offset)
    keyed aggregate for weekly spend (both map-side combinable), a
    literal sequence explode for the grid, windows only on the bounded
    grid."""
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cw"))
    )
    cents = F.round(F.col("value") * 100).cast("long")
    spend = (
        ev.join(cohort, "user_id")
        .filter(F.col("ts") >= F.col("cw"))
        .select(
            "cw",
            F.expr(
                "CAST(datediff(date_trunc('week', ts), cw) DIV 7 AS INT)"
            ).alias("k"),
            cents.alias("cents"),
        )
        .groupBy("cw", "k")
        .agg(F.sum("cents").alias("wk_cents"))
    )
    size = cohort.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    grid = size.select(
        "cw",
        "cohort_size",
        F.explode(F.sequence(F.lit(0), F.lit(_LTV_MAX_OFFSET))).alias("k"),
    )
    weekly = grid.join(spend, ["cw", "k"], "left").select(
        "cw",
        F.col("k").cast("int").alias("week_offset"),
        "cohort_size",
        F.coalesce(F.col("wk_cents"), F.lit(0)).alias("wk_cents"),
    )
    wcum = (
        W.partitionBy("cw")
        .orderBy("week_offset")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return weekly.select(
        F.col("cw").alias("cohort_week"),
        "week_offset",
        "cohort_size",
        F.round(
            F.sum("wk_cents").over(wcum).cast("double")
            / F.col("cohort_size")
            / 100.0,
            4,
        ).alias("avg_cum_ltv"),
    )


# ---------------------------------------------------------------------------
# Engagement by market segment (events enriched with the customer dim).
# ---------------------------------------------------------------------------

ENGAGEMENT_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment, e.user_id, e.event_type,
         CAST(round(e.value * 100) AS BIGINT) AS v_c
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
       round(count(*) / CAST(count(DISTINCT user_id) AS DOUBLE), 4)
         AS events_per_user,
       round(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS purchase_share,
       round(CAST(sum(CASE WHEN event_type = 'purchase' THEN v_c ELSE 0 END)
                  AS BIGINT) / 100.0, 2) AS purchase_value
FROM j GROUP BY segment
"""


@query("q_engagement_by_segment", ENGAGEMENT_ORACLE)
def q_engagement_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream engagement enriched with the CUSTOMER dimension
    (event user ids are customer keys): per market segment, event
    volume, active users, events-per-user intensity, purchase share of
    activity, and cents-exact purchase value — the batch, oracle-gated
    form of the stream-static enrichment proven in
    tests/test_stream_static_join.py, and the join that fuses the CDC
    event world with the relational dim world everywhere else kept
    separate.

    Scale: broadcast customer dim into the event scan (the stream's
    per-micro-batch join is the same plan), one |segments|-group
    aggregate; only the exact distinct-user count re-keys — swap in
    [[q_bitmap_distinct_users]]'s bitmap or HLL at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    v_c = F.round(F.col("value") * 100).cast("long")
    j = ev.join(cust, "user_id").select(
        "segment", "user_id", "event_type", v_c.alias("v_c")
    )
    is_p = (F.col("event_type") == "purchase").cast("int")
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("active_users"),
        F.round(
            F.count(F.lit(1)) / F.countDistinct("user_id").cast("double"), 4
        ).alias("events_per_user"),
        F.round(F.sum(is_p) / F.count(F.lit(1)).cast("double"), 6).alias(
            "purchase_share"
        ),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("v_c")).otherwise(0))
            / 100.0,
            2,
        ).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Conversion-window CDF: share of signups converting within each horizon.
# ---------------------------------------------------------------------------

_CONV_HORIZONS_H = (1, 6, 24, 72)

CONV_CDF_ORACLE = f"""
WITH s AS (
  SELECT user_id, min(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), p AS (
  SELECT e.user_id, min(epoch_us(e.ts) - epoch_us(s.s_ts)) AS d_us
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.s_ts
  GROUP BY e.user_id
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_signups FROM s)
SELECT CAST(h.h AS INT) AS horizon_hours,
       (SELECT n_signups FROM tot) AS n_signups,
       CAST(count(CASE WHEN p.d_us <= h.h * 3600000000 THEN 1 END) AS BIGINT)
         AS converted,
       round(count(CASE WHEN p.d_us <= h.h * 3600000000 THEN 1 END)
             / CAST((SELECT n_signups FROM tot) AS DOUBLE), 6)
         AS conversion_rate
FROM (SELECT unnest([{", ".join(str(h) for h in _CONV_HORIZONS_H)}]) AS h) h
LEFT JOIN p ON true
GROUP BY h.h
"""


@query("q_conversion_cdf", CONV_CDF_ORACLE)
def q_conversion_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window CDF: of all signed-up users, the share whose
    FIRST post-signup purchase lands within 1 / 6 / 24 / 72 hours — the
    curve that picks the attribution window ([[q_attribution_linear]]'s
    24h) and the funnel horizon ([[q_window_funnel]]'s 6h) instead of
    guessing them; monotone by construction (pinned in tests).

    Exactness: first-touch deltas are exact integer microseconds;
    horizon cuts are integer comparisons; one rounded share per row.

    Scale: two user-keyed aggregates (first signup, first later
    purchase — the funnel shuffle again), then a 4-literal-row grid
    over the per-user delta table; nothing data-proportional after the
    user rollup."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts") - F.unix_micros("s_ts")).alias("d_us")
        )
    )
    tot = s.agg(F.count(F.lit(1)).alias("n_signups"))
    grid = tot.select(
        "n_signups",
        F.explode(
            F.array(*[F.lit(h) for h in _CONV_HORIZONS_H])
        ).alias("horizon_hours"),
    )
    j = grid.join(
        p,
        F.col("d_us") <= F.col("horizon_hours").cast("long") * 3_600_000_000,
        "left",
    )
    return j.groupBy("horizon_hours", "n_signups").agg(
        F.count("d_us").cast("long").alias("converted"),
        F.round(
            F.count("d_us") / F.first("n_signups").cast("double"), 6
        ).alias("conversion_rate"),
    ).select(
        F.col("horizon_hours").cast("int").alias("horizon_hours"),
        "n_signups",
        "converted",
        "conversion_rate",
    )
