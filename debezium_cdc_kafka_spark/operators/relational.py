"""Relational operator surface (batch), oracle-tested against DuckDB.

The reference delegates all relational work to embedded DuckDB / Postgres
(reference: app/utils/postgres.py:65–77 generic SQL executor;
app/utils/generate.py:55–74 the only read query). This module is the
native Spark re-expression of that surface, widened to the full operator
set a user of a SQL engine expects: scans, filters, projections, joins of
every type, aggregation, windows, set ops, scalar functions.

Scale notes (100 TB readiness), per operator family:
- Scans: always `select` the needed columns and `filter` early so Catalyst
  pushes both into the Parquet reader (check `PushedFilters`/`ReadSchema`
  in `.explain("formatted")`).
- Joins: dimension tables (region/nation/supplier, and part/customer at
  small SF) get `F.broadcast` hints — no shuffle of the fact table.
  Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE handles
  skew splitting.
- Aggregations: expressed as `groupBy().agg()` so Catalyst plans partial
  (map-side) + final aggregation; never collect-then-aggregate.
- Windows: partition keys chosen to be high-cardinality (suppkey, brand)
  so no single partition dominates; ORDER BY always includes a unique
  tiebreaker for deterministic frames.
- Top-K: `orderBy().limit(k)` — Spark plans TakeOrderedAndProject, which
  is a per-partition heap + driver merge, O(k) memory, no full sort.

Every aggregate/computed column is aliased identically in the DataFrame
code and the oracle SQL (the driver sorts columns by name before hashing).
Floating-point outputs are rounded on BOTH sides so cross-engine summation
order can't flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions.money import cents_sum, cents_sum_sql
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


# ---------------------------------------------------------------------------
# Q1 family: scan → filter → hash aggregate (TPC-H Q1 pricing summary).
# Flagship query; the filter and the 4-column projection push into the scan.
# ---------------------------------------------------------------------------

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"

Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                AS sum_qty,
  {cents_sum_sql("l_extendedprice")}       AS sum_base_price,
  {cents_sum_sql(_DISC_PRICE)}             AS sum_disc_price,
  {cents_sum_sql(_CHARGE)}                 AS sum_charge,
  round(avg(l_quantity), 4)                AS avg_qty,
  round(avg(l_extendedprice), 4)           AS avg_price,
  round(avg(l_discount), 4)                AS avg_disc,
  count(*)                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", Q1_ORACLE)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one wide hash aggregate after a pushed-down date filter.

    Catalyst plans partial aggregation before the shuffle; the group-by key
    space is tiny (≤6 groups) so the exchange moves only partial rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            cents_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            cents_sum(disc_price).alias("sum_disc_price"),
            cents_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 family: pure filter + global aggregate (no group-by shuffle at all).
# ---------------------------------------------------------------------------

Q6_ORACLE = """
SELECT round(CAST(sum(CAST(round((l_extendedprice * l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@query("q06_forecast_revenue", Q6_ORACLE)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: all four predicates push to the Parquet scan; the aggregate
    is a partial-per-partition sum + single final combine (no wide shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(cents_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q3 family: fact ⋈ fact ⋈ dim join chain + top-K.
# ---------------------------------------------------------------------------

Q3_ORACLE = """
SELECT
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d')                       AS orderdate,
  o_orderpriority,
  round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@query("q03_shipping_priority", Q3_ORACLE)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer (filtered, broadcast at this SF) ⋈ orders ⋈
    lineitem, aggregate, top-10.

    Scale: orders⋈lineitem is the big join — both sides shuffle on orderkey
    (or co-locate if bucketed by orderkey at write time). The top-10 is
    TakeOrderedAndProject (heap, not global sort). The LIMIT tiebreaks on
    o_orderkey so the selected set is deterministic across engines.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 family: snowflake join through region→nation with broadcast dims.
# ---------------------------------------------------------------------------

Q5_ORACLE = """
SELECT
  n_name,
  round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@query("q05_local_supplier_volume", Q5_ORACLE)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-way join; region/nation/supplier are broadcast so the
    only shuffles are the two fact joins (orders⋈customer, lineitem⋈orders).
    The c_nationkey = s_nationkey condition rides on the supplier join."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey) & (cust.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q10 family: join + aggregate + top-K with wide group key.
# ---------------------------------------------------------------------------

Q10_ORACLE = """
SELECT
  c_custkey,
  c_name,
  n_name,
  round(c_acctbal, 2)                               AS acctbal,
  round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 (guide §2.3 "aggregate before you shuffle"): returned-item
    revenue is pre-aggregated to exact integer cents per ORDER before the
    orders join, so the join and the per-customer aggregate move one row
    per qualifying order instead of one per lineitem (≈4× fewer rows at
    TPC-H fanout). Integer cent partial sums re-aggregate associatively,
    so the per-customer total (and the final round) is bit-identical to
    the single-level cents_sum."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    rev_per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
        ).alias("_cents")
    )
    return (
        rev_per_order.join(orders, rev_per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", "n_name", F.round("c_acctbal", 2).alias("acctbal")
        )
        .agg(F.round(F.sum("_cents") / 100.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS).
# ---------------------------------------------------------------------------

Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_quantity > 45
  )
GROUP BY o_orderpriority
"""


@query("q04_order_priority_semi", Q4_ORACLE)
def q04_order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS ≙ left-semi join. The semi join shuffles on orderkey but emits
    each left row at most once — no fan-out, no dedup needed afterwards."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    big_items = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(big_items, orders.o_orderkey == big_items.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q22_ORACLE = """
SELECT c_mktsegment, count(*) AS n_customers, CAST(round(sum(c_acctbal)) AS BIGINT) AS total_bal
FROM customer
WHERE c_acctbal > 0
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01'
  )
GROUP BY c_mktsegment
"""


@query("q22_customers_without_orders", Q22_ORACLE)
def q22_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS ≙ left-anti join (TPC-H Q22 flavor): positive-balance
    customers with no 2001 orders."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 0).cast("bigint").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Outer join + count histogram (TPC-H Q13 flavor).
# ---------------------------------------------------------------------------

Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@query("q13_customer_distribution", Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers, then a second
    aggregation over the per-customer counts (two shuffles, both on keys
    with uniform distribution)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Distinct aggregation.
# ---------------------------------------------------------------------------

DISTINCT_ORACLE = """
SELECT
  l_returnflag,
  count(DISTINCT l_partkey) AS n_parts,
  count(DISTINCT l_suppkey) AS n_supps,
  count(*)                  AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_distinct_agg", DISTINCT_ORACLE)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column DISTINCT aggregation — Catalyst expands to partial
    aggregates over (key, distinct-col) then re-aggregates, all map-side
    combined. For 100 TB dashboards, `approx_count_distinct` (HLL) is the
    scale path; exact kept here because the oracle must match bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Rollup / grouping sets.
# ---------------------------------------------------------------------------

ROLLUP_ORACLE = """
SELECT
  coalesce(l_returnflag, 'ALL') AS returnflag,
  coalesce(l_linestatus, 'ALL') AS linestatus,
  round(sum(l_quantity), 2)     AS sum_qty,
  count(*)                      AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("q_rollup_sales", ROLLUP_ORACLE)
def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# Window functions: top-K per group, ranking.
# ---------------------------------------------------------------------------

TOPK_ORACLE = """
SELECT p_brand, p_partkey, revenue, CAST(rk AS INT) AS rk
FROM (
  SELECT
    p_brand,
    p_partkey,
    round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue,
    row_number() OVER (
      PARTITION BY p_brand
      ORDER BY round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) DESC, p_partkey
    ) AS rk
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
)
WHERE rk <= 3
"""


@query("q_topk_parts_per_brand", TOPK_ORACLE)
def q_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue within each brand: aggregate then row_number
    over (brand) — the canonical top-K-per-group plan. Rank ordering
    tiebreaks on p_partkey so it is deterministic across engines.

    Scale: the window partitions by brand (25 groups here, usually many
    more); skew in one brand is bounded because the window input is already
    aggregated to one row per (brand, part)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = W.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return (
        per_part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rk")
    )


RUNNING_ORACLE = """
SELECT
  s_suppkey,
  l_orderkey,
  l_linenumber,
  round(sum(l_quantity) OVER (
    PARTITION BY s_suppkey
    ORDER BY l_shipdate, l_orderkey, l_linenumber
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ), 2) AS running_qty,
  lag(l_orderkey) OVER (
    PARTITION BY s_suppkey
    ORDER BY l_shipdate, l_orderkey, l_linenumber
  ) AS prev_orderkey
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE l_shipdate >= TIMESTAMP '2001-01-01'
"""


@query("q_running_total", RUNNING_ORACLE)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec running sum + lag per supplier, ordered by a unique key
    triple so the frame contents are identical in any engine."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    supp = load_table(spark, sf_dir, "supplier")
    joined = li.join(supp, li.l_suppkey == supp.s_suppkey)
    order_cols = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    w = W.partitionBy("s_suppkey").orderBy(*order_cols)
    return joined.select(
        "s_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.sum("l_quantity").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
        ).alias("running_qty"),
        F.lag("l_orderkey").over(w).alias("prev_orderkey"),
    )


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------

SETOPS_ORACLE = """
(SELECT o_custkey AS custkey FROM orders
 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
 INTERSECT
 SELECT o_custkey FROM orders
 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


@query("q_setops_repeat_customers", SETOPS_ORACLE)
def q_setops_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT over customer keys: customers active in both 1996
    and 1997, minus negative-balance accounts. Spark plans these as
    (de-duplicating) semi/anti joins under the hood."""
    orders = load_table(spark, sf_dir, "orders")

    def active(y0: str, y1: str) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(y0).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(y1).cast("timestamp"))
        ).select(F.col("o_custkey").alias("custkey"))

    negative = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return active("1996-01-01", "1997-01-01").intersect(
        active("1997-01-01", "1998-01-01")
    ).exceptAll(negative.distinct())


# ---------------------------------------------------------------------------
# HAVING and conditional aggregation (TPC-H Q14 flavor).
# ---------------------------------------------------------------------------

HAVING_ORACLE = """
SELECT p_type, round(avg(p_retailprice), 2) AS avg_price, count(*) AS n
FROM part
GROUP BY p_type
HAVING count(*) > 20 AND avg(p_retailprice) > 500
"""


@query("q_having_expensive_types", HAVING_ORACLE)
def q_having_expensive_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_type")
        .agg(F.round(F.avg("p_retailprice"), 2).alias("avg_price"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 20) & (F.col("avg_price") > 500))
    )


PROMO_ORACLE = """
SELECT round(
  100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


@query("q14_promo_effect", PROMO_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (CASE inside SUM) — stays entirely in
    whole-stage codegen; part is broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


# ---------------------------------------------------------------------------
# Pivot (manual CASE form in the oracle — portable across engines).
# ---------------------------------------------------------------------------

PIVOT_ORACLE = """
SELECT
  c_mktsegment,
  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


@query("q_pivot_status_by_segment", PIVOT_ORACLE)
def q_pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot orderstatus into columns per market segment. Implemented with
    the native `.pivot()` (values pre-declared so Spark skips the extra
    distinct-values job), then renamed to stable column names."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "c_mktsegment",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
    )


# ---------------------------------------------------------------------------
# Non-equi (range) join.
# ---------------------------------------------------------------------------

RANGE_ORACLE = """
SELECT b.band, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
FROM part p
JOIN (VALUES ('budget', 0.0, 940.0),
             ('mid', 940.0, 970.0),
             ('premium', 970.0, 1e9)) AS b(band, lo, hi)
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band
"""


@query("q_range_join_price_bands", RANGE_ORACLE)
def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join of parts against price bands.

    Spark has no native interval join; with a broadcast of the tiny band
    table this plans as BroadcastNestedLoopJoin — the right strategy when
    one side is a handful of rows. For band tables too big to broadcast,
    the scale path is bucketizing the range key and equi-joining on bucket.
    """
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 940.0), ("mid", 940.0, 970.0), ("premium", 970.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Sampling / limit (reference R3–R4: ORDER BY RANDOM() LIMIT 1,
# generate.py:68–70). Random is not oracle-comparable; we test the
# deterministic analogue: hash-ordered sample — same "pick an arbitrary
# but uniform row" capability, reproducible in both engines via md5.
# ---------------------------------------------------------------------------

SAMPLE_ORACLE = """
SELECT c_custkey, c_name
FROM customer
ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
LIMIT 5
"""


@query("q_deterministic_sample", SAMPLE_ORACLE)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference's `ORDER BY RANDOM() LIMIT 1` (generate.py:68–70) as a
    deterministic uniform sample: order by md5(key). TakeOrderedAndProject
    keeps it O(k) memory. For non-reproducible sampling use
    `df.orderBy(F.rand()).limit(n)` or TABLESAMPLE."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.orderBy(F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey"))
        .select("c_custkey", "c_name")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Scalar function coverage: strings, dates, math, JSON, arrays.
# ---------------------------------------------------------------------------

STRING_ORACLE = """
SELECT
  p_partkey,
  upper(p_name)                                   AS name_upper,
  CAST(length(p_name) AS INT)                     AS name_len,
  CAST(length(string_split(p_name, ' ')) AS INT)  AS n_words,
  regexp_extract(p_name, '([a-z]+)$', 1)          AS last_word,
  substr(p_brand, 7)                              AS brand_num,
  replace(p_type, 'ECONOMY', 'ECO')               AS type_short,
  lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
  concat(p_brand, ':', p_type)                    AS brand_type
FROM part
"""


@query("q_string_functions", STRING_ORACLE)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.substring("p_brand", 7, 100).alias("brand_num"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("type_short"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


DATE_ORACLE = """
SELECT
  o_orderkey,
  CAST(year(o_orderdate) AS INT)               AS order_year,
  CAST(month(o_orderdate) AS INT)              AS order_month,
  CAST(quarter(o_orderdate) AS INT)            AS order_quarter,
  CAST(dayofmonth(o_orderdate) AS INT)         AS order_dom,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
  CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch,
  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')    AS due_date
FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-01-01'
"""


@query("q_date_functions", DATE_ORACLE)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.dayofmonth("o_orderdate").alias("order_dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch"
        ),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


MATH_ORACLE = """
SELECT
  s_suppkey,
  round(sqrt(abs(s_acctbal)), 4)          AS bal_sqrt,
  round(ln(abs(s_acctbal) + 1), 4)        AS bal_ln,
  round(log10(abs(s_acctbal) + 1), 4)     AS bal_log10,
  round(pow(s_acctbal, 2), 2)             AS bal_sq,
  CAST(ceil(s_acctbal) AS BIGINT)         AS bal_ceil,
  CAST(floor(s_acctbal) AS BIGINT)        AS bal_floor,
  s_suppkey % 7                           AS key_mod,
  CAST(sign(s_acctbal) AS INT)            AS bal_sign
FROM supplier
"""


@query("q_math_functions", MATH_ORACLE)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal")
    return supp.select(
        "s_suppkey",
        F.round(F.sqrt(F.abs(bal)), 4).alias("bal_sqrt"),
        F.round(F.log(F.abs(bal) + 1), 4).alias("bal_ln"),
        F.round(F.log10(F.abs(bal) + 1), 4).alias("bal_log10"),
        F.round(F.pow(bal, 2), 2).alias("bal_sq"),
        F.ceil(bal).alias("bal_ceil"),
        F.floor(bal).alias("bal_floor"),
        (F.col("s_suppkey") % 7).alias("key_mod"),
        F.signum(bal).cast("int").alias("bal_sign"),
    )


JSON_ORACLE = """
SELECT
  event_type,
  count(*)                                                   AS n_events,
  CAST(round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS DOUBLE) AS avg_k,
  CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)   AS max_k
FROM events
GROUP BY event_type
"""


@query("q_json_props", JSON_ORACLE)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props string column — the same
    envelope-parsing capability the CDC path uses (`from_json` /
    `get_json_object`), exercised through aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


ARRAY_ORACLE = """
SELECT
  vec_id,
  CAST(len(embedding) AS INT)                        AS dim,
  round(CAST(embedding[1] AS DOUBLE), 6)             AS first_elem,
  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm,
  round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)  AS max_elem
FROM embeddings
WHERE vec_id < 100
"""


@query("q_array_functions", ARRAY_ORACLE)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops over embeddings: size, index, higher-order aggregate /
    transform — all JVM-side (`F.aggregate`, `F.transform`), no UDFs."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(F.col("embedding"), 1).cast("double"), 6).alias("first_elem"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
        F.round(F.array_max(dbl), 6).alias("max_elem"),
    )


# ---------------------------------------------------------------------------
# CASE / conditional projection + union (reference R1/R2 generalized).
# ---------------------------------------------------------------------------

CASE_ORACLE = """
SELECT
  o_orderkey,
  CASE WHEN o_totalprice > 300000 THEN 'large'
       WHEN o_totalprice > 100000 THEN 'medium'
       ELSE 'small' END AS size_class,
  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled' ELSE 'other' END AS status_name
FROM orders
WHERE o_orderkey % 100 = 0
"""


@query("q_case_projection", CASE_ORACLE)
def q_case_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "large")
        .when(F.col("o_totalprice") > 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "filled")
        .otherwise("other")
        .alias("status_name"),
    )


CUBE_ORACLE = """
SELECT
  coalesce(o_orderpriority, 'ALL')           AS priority,
  coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS o_year,
  count(*)                                   AS n_orders,
  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, year(o_orderdate))
"""


@query("q_cube_orders", CUBE_ORACLE)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, year): all four grouping combinations in one
    pass — Spark expands the cube in the aggregate (partial per grouping
    id, map-side combined), not as four scans. Completes the rollup /
    grouping-sets / cube trio. Money via exact integer cents."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", F.year("o_orderdate").alias("oy"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2
            ).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("oy").cast("string"), F.lit("ALL")).alias("o_year"),
            "n_orders",
            "total",
        )
    )
