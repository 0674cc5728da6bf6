"""Relational surface, batch 2: the SQL-API side of the engine.

The reference's whole query interface is SQL strings handed to an engine
(`execute_sql_query`, reference app/utils/postgres.py:65–77). Batch 1
covered the DataFrame API; this module exercises the `spark.sql` path over
registered views (catalog.register_views) — correlated subqueries, grouping
sets, quantiles, ordered aggregations, complex predicate combinations —
proving both front-ends reach the same Catalyst plans.

Scale notes: correlated scalar subqueries decorrelate into aggregate+join
(visible as a plain join in the physical plan — no per-row subquery
execution); grouping sets expand at the aggregate, not the scan; exact
quantiles need a sort per group — at 100 TB swap `percentile` for
`percentile_approx` (t-digest) unless the group cardinality is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register_views
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


def _sql(spark: SparkSession, sf_dir: str, statement: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(statement)


# ---------------------------------------------------------------------------
# Correlated scalar subquery (decorrelated by Catalyst into agg + join).
# ---------------------------------------------------------------------------

PRICEY_SQL = """
SELECT p_partkey, p_type, round(p_retailprice, 2) AS price
FROM part p
WHERE p_retailprice > 1.02 * (
  SELECT avg(p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
)
"""


@query("q_correlated_above_avg", PRICEY_SQL)
def q_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts priced >2% above their type's average — correlated scalar
    subquery, identical text in both engines. Catalyst decorrelates to
    (part ⋈ per-type-avg): check the plan, there is no per-row loop."""
    return _sql(spark, sf_dir, PRICEY_SQL)


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


@query("q17_small_quantity_revenue", Q17_SQL)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated average over the fact table itself."""
    return _sql(spark, sf_dir, Q17_SQL)


# ---------------------------------------------------------------------------
# GROUPING SETS (explicit, beyond rollup/cube).
# ---------------------------------------------------------------------------

GSETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL')            AS returnflag,
       coalesce(CAST(year(l_shipdate) AS INT), -1) AS ship_year,
       round(sum(l_extendedprice), 2)           AS total,
       count(*)                                 AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (year(l_shipdate)), ())
"""

GSETS_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL')            AS returnflag,
       coalesce(CAST(year(l_shipdate) AS INT), -1) AS ship_year,
       round(sum(l_extendedprice), 2)           AS total,
       count(*)                                 AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (year(l_shipdate)), ())
"""


@query("q_grouping_sets", GSETS_ORACLE)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: per-flag totals, per-year totals, and the
    grand total in one aggregate pass (expansion happens at the agg
    operator; the scan runs once)."""
    return _sql(spark, sf_dir, GSETS_SQL)


# ---------------------------------------------------------------------------
# Exact quantiles per group.
# ---------------------------------------------------------------------------

QUANTILE_ORACLE = """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.25), 4) AS q25,
       round(quantile_cont(c_acctbal, 0.50), 4) AS median,
       round(quantile_cont(c_acctbal, 0.75), 4) AS q75,
       round(quantile_cont(c_acctbal, 0.95), 4) AS q95
FROM customer
GROUP BY c_mktsegment
"""


@query("q_quantiles_per_segment", QUANTILE_ORACLE)
def q_quantiles_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated quantiles of account balance per segment.
    Scale path: `percentile_approx` (bounded-memory sketch, mergeable
    map-side) — exact `percentile` kept here because the oracle must
    match; both interpolate linearly (results agree after rounding)."""
    from ..catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(c_acctbal, 0.50)"), 4).alias("median"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 4).alias("q75"),
        F.round(F.expr("percentile(c_acctbal, 0.95)"), 4).alias("q95"),
    )


# ---------------------------------------------------------------------------
# min_by / max_by (argmin/argmax aggregates).
# ---------------------------------------------------------------------------

ARGMAX_ORACLE = """
SELECT o_custkey,
       arg_max(o_orderkey, o_totalprice) AS biggest_order,
       round(max(o_totalprice), 2)       AS biggest_total,
       arg_min(o_orderkey, o_totalprice) AS smallest_order
FROM orders
GROUP BY o_custkey
"""


@query("q_argmax_order_per_customer", ARGMAX_ORACLE)
def q_argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by: each customer's biggest and smallest order in one
    hash aggregate — no window, no self-join. (Totalprice is continuous so
    ties don't arise; with tie-prone keys use the row_number pattern.)"""
    from ..catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, o_totalprice)").alias("biggest_order"),
        F.round(F.max("o_totalprice"), 2).alias("biggest_total"),
        F.expr("min_by(o_orderkey, o_totalprice)").alias("smallest_order"),
    )


# ---------------------------------------------------------------------------
# Ordered array aggregation.
# ---------------------------------------------------------------------------

ARRAYAGG_ORACLE = """
SELECT p_brand,
       coalesce(string_agg(p_name, '|' ORDER BY p_retailprice DESC, p_partkey)
                  FILTER (WHERE p_retailprice > 980), '') AS pricey_parts
FROM part
GROUP BY p_brand
"""


@query("q_array_agg_ordered", ARRAYAGG_ORACLE)
def q_array_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically-ordered collect per group: sort a struct array
    after collecting (Spark's collect_list has no ORDER BY; sorting the
    (key, value) structs then projecting gives DuckDB's `list(... ORDER
    BY)` semantics exactly). The ordered list is serialized to a
    '|'-joined string because the driver's comparator canonicalizes via
    pandas sort, which cannot hash list-valued cells — the ordering
    semantics under test are unchanged."""
    from ..catalog import load_table

    part = load_table(spark, sf_dir, "part").filter(F.col("p_retailprice") > 980)
    collected = part.groupBy("p_brand").agg(
        F.collect_list(
            F.struct((-F.col("p_retailprice")).alias("neg_price"), "p_partkey", "p_name")
        ).alias("raw")
    )
    # all-brand coverage incl. empty groups, like the FILTER clause
    brands = load_table(spark, sf_dir, "part").select("p_brand").distinct()
    return brands.join(collected, "p_brand", "left").select(
        "p_brand",
        F.coalesce(
            F.array_join(
                F.transform(F.array_sort("raw"), lambda s: s.getField("p_name")),
                "|",
            ),
            F.lit(""),
        ).alias("pricey_parts"),
    )


# ---------------------------------------------------------------------------
# Complex OR/AND predicate combinations (TPC-H Q19 flavor).
# ---------------------------------------------------------------------------

Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
"""


@query("q19_disjunctive_predicates", Q19_SQL)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three disjoint brand/size/quantity bands OR-ed
    together. Catalyst extracts the common `p_partkey = l_partkey` join
    key and pushes the brand/size disjunction to the part scan."""
    return _sql(spark, sf_dir, Q19_SQL)


# ---------------------------------------------------------------------------
# Window frame coverage: first/last/ntile/percent_rank.
# ---------------------------------------------------------------------------

WINFRAME_ORACLE = """
SELECT c_custkey,
       c_mktsegment,
       CAST(ntile(4) OVER w AS INT)                 AS bal_quartile,
       round(percent_rank() OVER w, 4)              AS pct_rank,
       first_value(c_custkey) OVER w                AS poorest_in_segment,
       last_value(c_custkey) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       )                                            AS richest_in_segment
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


@query("q_window_frames", WINFRAME_ORACLE)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.first("c_custkey").over(w).alias("poorest_in_segment"),
        F.last("c_custkey").over(w_full).alias("richest_in_segment"),
    )


# ---------------------------------------------------------------------------
# Unnest / lateral explode: word frequencies across part names.
# ---------------------------------------------------------------------------

EXPLODE_ORACLE = """
SELECT word, count(*) AS freq, count(DISTINCT p_brand) AS n_brands
FROM (SELECT p_brand, unnest(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word
"""


@query("q_explode_word_freq", EXPLODE_ORACLE)
def q_explode_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_brand", F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("p_brand").alias("n_brands"))
    )


# ---------------------------------------------------------------------------
# Cross join (cartesian of two tiny dims) + conditional count.
# ---------------------------------------------------------------------------

CROSS_ORACLE = """
WITH cust_region AS (
  SELECT c_custkey, c_mktsegment, n_regionkey
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT r_name, s.c_mktsegment AS c_mktsegment, count(cr.c_custkey) AS n_customers
FROM region
CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) s
LEFT JOIN cust_region cr
  ON cr.c_mktsegment = s.c_mktsegment AND cr.n_regionkey = r_regionkey
GROUP BY r_name, s.c_mktsegment
"""


@query("q_region_segment_matrix", CROSS_ORACLE)
def q_region_segment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense region × segment matrix with per-cell customer counts —
    cartesian of two tiny dims (broadcast NLJ) left-joined to the fact."""
    from ..catalog import load_table

    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    segments = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    cust_region = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select("c_custkey", "c_mktsegment", "n_regionkey")
    )
    matrix = region.crossJoin(segments)
    return (
        matrix.join(
            cust_region,
            (matrix.c_mktsegment == cust_region.c_mktsegment)
            & (region.r_regionkey == cust_region.n_regionkey),
            "left",
        )
        .groupBy("r_name", matrix.c_mktsegment)
        .agg(F.count("c_custkey").alias("n_customers"))
    )
