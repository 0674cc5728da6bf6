"""Reshape + advanced window-frame operators: moving averages over RANGE
frames, unpivot (wide→long), histogram binning, percent-of-total.

All portable column algebra; the unpivot oracle uses the UNION ALL form
(DuckDB's UNPIVOT and Spark's stack() reach the same rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions.money import cents_sum, cents_sum_sql
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


MOVAVG_ORACLE = f"""
WITH daily AS (
  SELECT l_suppkey,
         CAST(datediff('day', TIMESTAMP '1995-01-01', l_shipdate) AS INT) AS day_no,
         {cents_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2001-01-01'
  GROUP BY l_suppkey, day_no
)
SELECT l_suppkey, day_no,
       floor(CAST(sum(CAST(round(revenue * 100) AS BIGINT)) OVER w AS BIGINT)
             * 1.0 / count(*) OVER w) / 100.0 AS mov_avg_7d
FROM daily
WINDOW w AS (PARTITION BY l_suppkey ORDER BY day_no
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@query("q_moving_avg_7d", MOVAVG_ORACLE)
def q_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue per supplier via a RANGE
    frame over day numbers — value-based frames include empty days
    correctly (a ROWS frame would silently span gaps). One shuffle on
    suppkey; the frame is O(window) per row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    daily = (
        li.withColumn(
            "day_no", F.datediff("l_shipdate", F.lit("1995-01-01").cast("date"))
        )
        .groupBy("l_suppkey", "day_no")
        .agg(cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = W.partitionBy("l_suppkey").orderBy("day_no").rangeBetween(-6, 0)
    # integer-cents window sum, then FLOOR-to-cent average: a rounded
    # average ties at exact half-cents (even count, odd cent sum), where
    # engine tie-break rules differ — floor has no ties to break
    cents = F.round(F.col("revenue") * 100).cast("long")
    return daily.select(
        "l_suppkey",
        "day_no",
        (
            F.floor(F.sum(cents).over(w) / F.count(F.lit(1)).over(w)) / 100.0
        ).alias("mov_avg_7d"),
    )


UNPIVOT_ORACLE = """
WITH agg AS (
  SELECT c_mktsegment,
         round(avg(c_acctbal), 2) AS avg_bal,
         round(max(c_acctbal), 2) AS max_bal,
         round(min(c_acctbal), 2) AS min_bal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, 'avg_bal' AS metric, avg_bal AS value FROM agg
UNION ALL
SELECT c_mktsegment, 'max_bal' AS metric, max_bal AS value FROM agg
UNION ALL
SELECT c_mktsegment, 'min_bal' AS metric, min_bal AS value FROM agg
"""


@query("q_unpivot_metrics", UNPIVOT_ORACLE)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via stack() — the inverse of q_pivot_status_by_
    segment; a projection, not a shuffle (the UNION ALL oracle reads the
    aggregate three times, stack reads it once)."""
    cust = load_table(spark, sf_dir, "customer")
    agg = cust.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
    )
    return agg.select(
        "c_mktsegment",
        F.expr(
            "stack(3, 'avg_bal', avg_bal, 'max_bal', max_bal, 'min_bal', min_bal)"
        ).alias("metric", "value"),
    )


HISTOGRAM_ORACLE = """
SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bin,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS bin_min,
       round(max(o_totalprice), 2) AS bin_max
FROM orders
GROUP BY bin
"""


@query("q_histogram_price_bins", HISTOGRAM_ORACLE)
def q_histogram_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning via floor arithmetic (portable — no
    width_bucket in DuckDB). Single hash aggregate; at 100 TB this is how
    distribution dashboards avoid sorting anything."""
    orders = load_table(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bin")
    return orders.groupBy(b).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).alias("bin_max"),
    )


PCT_ORACLE = f"""
WITH per_nation AS (
  SELECT n_name, {cents_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  GROUP BY n_name
)
SELECT n_name, revenue,
       round(100.0 * revenue / sum(revenue) OVER (), 4) AS pct_of_total
FROM per_nation
"""


@query("q_pct_of_total", PCT_ORACLE)
def q_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total via an unpartitioned window over the AGGREGATED
    rows (25 nations) — the global window is fine because it runs on the
    small post-aggregate table, never on the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = W.partitionBy()
    return per_nation.select(
        "n_name",
        "revenue",
        F.round(100.0 * F.col("revenue") / F.sum("revenue").over(w), 4).alias("pct_of_total"),
    )


# ---------------------------------------------------------------------------
# Calendar (date-dimension) generation.
# ---------------------------------------------------------------------------

DATEDIM_ORACLE = """
WITH bounds AS (
  SELECT CAST(date_trunc('day', min(o_orderdate)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('day', max(o_orderdate)) AS TIMESTAMP) AS hi
  FROM orders
), days AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day FROM bounds
)
SELECT day,
       CAST(year(day) AS INT) AS year,
       CAST(quarter(day) AS INT) AS quarter,
       CAST(month(day) AS INT) AS month,
       CAST(weekofyear(day) AS INT) AS iso_week,
       CAST(dayofweek(day) + 1 AS INT) AS dow,
       (dayofweek(day) IN (0, 6)) AS is_weekend,
       (day = CAST(last_day(CAST(day AS DATE)) AS TIMESTAMP)) AS is_month_end
FROM days
"""


@query("q_date_dimension", DATEDIM_ORACLE)
def q_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension spanning the fact table's date range
    — year/quarter/month/ISO-week/day-of-week/weekend/month-end flags
    per day. Star-schema warehouses join facts to this instead of
    re-deriving date parts in every query; it is sequence()-generated
    from two broadcast scalars (never stored wide), so the \"table\" is
    free at any scale. Cross-engine traps handled: Spark's dayofweek is
    1=Sunday vs DuckDB's 0=Sunday (shifted in the oracle), and ISO weeks
    agree between engines."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return days.select(
        "day",
        F.year("day").alias("year"),
        F.quarter("day").alias("quarter"),
        F.month("day").alias("month"),
        F.weekofyear("day").alias("iso_week"),
        F.dayofweek("day").alias("dow"),
        F.dayofweek("day").isin(1, 7).alias("is_weekend"),
        (F.col("day") == F.last_day("day").cast("timestamp")).alias("is_month_end"),
    )


# ---------------------------------------------------------------------------
# Map-type surface (map construction + higher-order map functions).
# ---------------------------------------------------------------------------

MAPFN_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
), entries AS (
  SELECT user_id,
         list_sort(list({'et': event_type, 'n': n})) AS es
  FROM counts GROUP BY user_id
)
SELECT user_id,
       CAST(len(es) AS INT) AS n_types,
       array_to_string(list_transform(es, e -> e.et), ',') AS types,
       CAST(list_sum(list_transform(es, e -> e.n)) AS BIGINT) AS total_events,
       array_to_string(list_transform(list_filter(es, e -> e.n >= 5), e -> e.et),
                       ',') AS heavy_types
FROM entries
"""


@query("q_map_functions", MAPFN_ORACLE)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MapType surface: per-user event-type→count maps built with
    map_from_entries, then interrogated with map_keys / map_values /
    map_filter and a fold over the values. Maps never appear in the
    OUTPUT (map iteration order is engine-dependent — the oracle could
    not hash it deterministically); the sorted entry list fixes the
    order before the map is built, so every derived column is
    deterministic. The map side is Spark-only by design: DuckDB's oracle
    derives the same answers from the sorted entry structs, proving the
    map algebra against a map-free formulation. The key lists are emitted
    ','-joined (driver's pandas canonicalizer can't hash list cells —
    tests/test_driver_canon.py pins this for every query)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    entries = counts.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("event_type").alias("et"), F.col("n")))
        ).alias("es")
    )
    m = F.map_from_entries(F.col("es"))
    total = F.aggregate(
        F.map_values(m), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    heavy = F.map_keys(F.map_filter(m, lambda k, v: v >= 5))
    return entries.select(
        "user_id",
        F.size(m).alias("n_types"),
        F.array_join(F.map_keys(m), ",").alias("types"),
        total.alias("total_events"),
        F.array_join(F.array_sort(heavy), ",").alias("heavy_types"),
    )


# ---------------------------------------------------------------------------
# Feature scaling + one-hot encoding: the tabular-ML featurizer.
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

FEATSCALE_ORACLE = f"""
WITH stats AS (
  SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi,
         avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd
  FROM customer
)
SELECT c_custkey,
       round((c_acctbal - lo) / (hi - lo), 6) AS bal_minmax,
       round((c_acctbal - mu) / sd, 6) AS bal_zscore,
       {', '.join(f"CAST(c_mktsegment = '{s}' AS INTEGER) AS seg_{s.lower()}" for s in _SEGMENTS)}
FROM customer, stats
"""


@query("q_feature_scaling", FEATSCALE_ORACLE)
def q_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard tabular featurizer in one projection: min-max and
    z-score scalings of account balance plus a fixed-vocabulary one-hot of
    the market segment — the feature matrix a gradient model trains on.
    The one-hot columns are DECLARED (5 literal comparisons), not
    pivot-discovered: schema stability under new data is what a 100 TB
    training pipeline needs from its featurizer (an unseen segment must
    fail loudly in review, not silently widen the matrix).

    Scale: fit = ONE broadcast 1-row aggregate (min/max/mean/sd are
    map-side combinable); transform = a stateless projection over the
    scan. This is fit/transform with the fit state being 4 doubles —
    contrast [[q_quantile_normalize]], whose fit state is per-group
    quantiles."""
    cust = load_table(spark, sf_dir, "customer")
    stats = cust.agg(
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
        F.avg("c_acctbal").alias("mu"),
        F.stddev_samp("c_acctbal").alias("sd"),
    )
    return cust.crossJoin(F.broadcast(stats)).select(
        "c_custkey",
        F.round(
            (F.col("c_acctbal") - F.col("lo")) / (F.col("hi") - F.col("lo")), 6
        ).alias("bal_minmax"),
        F.round((F.col("c_acctbal") - F.col("mu")) / F.col("sd"), 6).alias(
            "bal_zscore"
        ),
        *[
            (F.col("c_mktsegment") == s).cast("int").alias(f"seg_{s.lower()}")
            for s in _SEGMENTS
        ],
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (the planner's histogram, vs the equi-width bins).
# ---------------------------------------------------------------------------

_ED_BUCKETS = 10

EQUIDEPTH_ORACLE = f"""
WITH t AS (
  SELECT o_totalprice AS v, o_orderkey,
         ntile({_ED_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
           AS bucket
  FROM orders
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(v), 2) AS lo,
       round(max(v), 2) AS hi
FROM t GROUP BY bucket
"""


@query("q_equidepth_histogram", EQUIDEPTH_ORACLE)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of order totals: {_ED_BUCKETS}
    buckets of equal ROW count with their value boundaries — the
    histogram query optimizers actually keep (selectivity is rank
    arithmetic; [[q_histogram_price_bins]] is the equi-WIDTH display
    flavor whose counts skew with the distribution). Bucket membership
    is the exact ntile over the unique ordering (value, key).

    Scale: ntile is functions/distributed.py's two-pass construction —
    range-partition, local rank, broadcast offsets — never a
    single-partition window; the boundary collapse is one
    map-side-combinable groupBy to {_ED_BUCKETS} rows."""
    from ..functions.distributed import global_ntile

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    tiled = global_ntile(
        orders, [F.col("v"), F.col("o_orderkey")], _ED_BUCKETS, out="bucket"
    )
    return tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("v"), 2).alias("lo"),
        F.round(F.max("v"), 2).alias("hi"),
    )
