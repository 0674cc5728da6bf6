"""Relational surface, batch 3: the remaining TPC-H query shapes
(adapted to the driver's schema — no partsupp/shipmode columns, so Q9's
cost and Q12's lateness derive from available columns) plus an explicit
skew-salting aggregation.

Scale notes per query in the docstrings; the common theme: multi-join
plans keep dimensions broadcast and let the two fact joins
(lineitem⋈orders, orders⋈customer) carry the shuffles; conditional
aggregation replaces self-joins wherever the reference formulation allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions.money import cents_sum, cents_sum_sql
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


Q7_ORACLE = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
    OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY supp_nation, cust_nation, l_year
"""


@query("q07_volume_shipping", Q7_ORACLE)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year
    (the synthetic data names nations NATION_0..24; the pair with the most
    bilateral trade stands in for FRANCE/GERMANY).
    Both nation joins broadcast; the OR pair-filter applies after."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_20") & (F.col("cust_nation") == "NATION_11")
    ) | ((F.col("supp_nation") == "NATION_11") & (F.col("cust_nation") == "NATION_20"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q8_ORACLE = """
WITH volumes AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n1.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'EUROPE'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_19' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM volumes
GROUP BY o_year
"""


@query("q08_market_share", Q8_ORACLE)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of a region's purchase volume by year —
    conditional aggregation over a 7-table join, no self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    german = F.when(F.col("supp_nation") == "NATION_19", volume).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(german) / F.sum(volume), 4).alias("mkt_share"))
    )


Q9_ORACLE = """
SELECT n_name AS supp_nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY supp_nation, o_year
"""


@query("q09_product_profit", Q9_ORACLE)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for parts
    matching a name pattern. The schema has no partsupp, so unit cost is
    synthesized as 60% of retail price — the join/aggregate shape (the
    part of Q9 that stresses an engine) is unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("supp_nation"), F.year("o_orderdate").alias("o_year"))
        .agg(cents_sum(profit).alias("profit"))
    )


Q12_ORACLE = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS late_items,
       CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS ontime_items
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderpriority
"""


@query("q12_late_shipments", Q12_ORACLE)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: on-time vs late line items per priority class
    (lateness = shipped >90 days after order; the schema has no shipmode/
    commitdate). Conditional counts in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lateness = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(lateness > 90, 1).otherwise(0)).alias("late_items"),
            F.sum(F.when(lateness <= 90, 1).otherwise(0)).alias("ontime_items"),
        )
    )


Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@query("q15_top_supplier", Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — an
    aggregate reused twice (per-supplier revenue + its max). The revenue
    subplan is computed once and self-compared via a scalar aggregate
    (broadcast), not recomputed per row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey,
       round(o_totalprice, 2) AS totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, c_name, o_orderkey, totalprice
HAVING sum(l_quantity) > 150
"""


@query("q18_large_volume_orders", Q18_ORACLE)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold, with
    their customers. Spark expresses the IN-(grouped-subquery) form as a
    direct group-then-having — one aggregation, no semi-join round trip."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_custkey", "c_name", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )


# ---------------------------------------------------------------------------
# Skew-salted aggregation: identical results to a plain groupBy, skew-proof
# physical shape.
# ---------------------------------------------------------------------------

SALTED_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders, round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total
FROM orders
GROUP BY o_orderpriority
"""

N_SALTS = 16


@query("q_salted_aggregation", SALTED_ORACLE)
def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a LOW-cardinality key (5 priorities
    — exactly the shape where one reducer would receive 20% of 100 TB):
    phase 1 aggregates on (key, salt) spreading each key over 16 reducers,
    phase 2 combines the 16 partials per key. Results are identical to the
    plain groupBy (the oracle IS the plain groupBy); only the physical
    distribution changes. AQE's skew-join handling covers joins; salting
    covers aggregations like this one."""
    orders = load_table(spark, sf_dir, "orders")
    salt = (F.abs(F.xxhash64("o_orderkey")) % N_SALTS).alias("_salt")
    partial = (
        orders.withColumn("_salt", salt)
        .groupBy("o_orderpriority", "_salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("pt"))
    )
    return partial.groupBy("o_orderpriority").agg(
        F.sum("pn").alias("n_orders"), F.round(F.sum("pt") / 100.0, 2).alias("total")
    )


Q21_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         datediff('day', o_orderdate, l_shipdate) > 90 AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM li l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n_regionkey
WHERE l1.late
  AND r_name = 'EUROPE'
  AND EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
"""


@query("q21_suppliers_kept_waiting", Q21_ORACLE)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers in one region who were the SOLE late
    supplier on a multi-supplier order (lateness = shipped > 90 days
    after order date — the schema has no commit/receipt dates; region
    EUROPE stands in for Q21's single nation, whose supplier count can be
    zero at tiny SFs). The
    EXISTS becomes a LEFT SEMI join and the NOT EXISTS a LEFT ANTI join,
    both on l_orderkey — the same key, so the two probe-side shuffles
    share one partitioning; the nation filter broadcasts and prunes the
    fact table before either."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.datediff("l_shipdate", "o_orderdate") > 90).alias("late"),
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    l1 = (
        li.filter("late")
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = li.filter("late").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline).
# ---------------------------------------------------------------------------

PARETO_ORACLE = """
SELECT p1.p_partkey, p1.p_retailprice, p1.p_size
FROM part p1
WHERE NOT EXISTS (
  SELECT 1 FROM part p2
  WHERE p2.p_retailprice <= p1.p_retailprice AND p2.p_size >= p1.p_size
    AND (p2.p_retailprice < p1.p_retailprice OR p2.p_size > p1.p_size)
)
"""


@query("q_pareto_frontier", PARETO_ORACLE)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: parts not dominated on (cheaper price, bigger
    size). The textbook formulation is a quadratic NOT EXISTS self-join
    (the oracle); the engine instead uses the sort-scan skyline: collapse
    to one row per price (max size), take a running max of size over
    strictly-cheaper prices, and keep rows whose size beats both that
    running max and any same-price better row — O(n log n), no self-join.
    Ties on (price, size) are mutually non-dominating and all kept, which
    the per-price pre-aggregate preserves by joining back to the base
    rows. The running max runs over the *distinct-price* table (already
    tiny) as the exact two-pass range-partitioned prefix max
    (functions/distributed.py) — no single-partition WindowExec even if
    the price domain explodes."""
    from ..functions.distributed import global_prefix_max

    part = load_table(spark, sf_dir, "part")
    by_price = part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    pm = global_prefix_max(
        by_price, [F.col("p_retailprice")], F.col("gmax"), out="prev_max"
    )
    return (
        part.join(F.broadcast(pm), "p_retailprice")
        .filter(
            ~(
                (F.coalesce(F.col("prev_max"), F.lit(-(1 << 31))) >= F.col("p_size"))
                | (F.col("gmax") > F.col("p_size"))
            )
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered semi-join (runtime-filter pattern, made explicit).
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16          # 65,536 bits = 1,024 longs
_BLOOM_SEEDS = (11, 23, 47)    # k = 3 hash functions

BLOOM_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 5000
)
GROUP BY l_returnflag
"""


def _bloom_positions(key, seed: int):
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BLOOM_BITS))


def _bloom_prefiltered_lineitem(spark: SparkSession, sf_dir: str):
    """Shared build for the explicit runtime bloom filter: the filtered
    orders build a 64 Kbit / k=3 bloom bitmap (a distributed distinct of
    bit positions, collapsed to 1,024 longs on the driver — exactly the
    broadcast build Spark's own runtime row-level filtering does), the
    bitmap prefilters the fact table BEFORE its shuffle, and an exact
    left-semi join removes the bloom's false positives. Returns
    (lineitem, bloom-prefiltered lineitem, exact semi-joined lineitem)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("c_acctbal") > 5000)
    )
    keys = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey")
    )
    pos_rows = keys.select(
        F.explode(
            F.array(*[_bloom_positions(F.col("o_orderkey"), s) for s in _BLOOM_SEEDS])
        ).alias("pos")
    ).distinct().collect()
    words = [0] * (_BLOOM_BITS // 64)
    for r in pos_rows:
        words[r.pos >> 6] |= 1 << (r.pos & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = F.array(*[F.lit(w).cast("long") for w in signed])

    li = load_table(spark, sf_dir, "lineitem")
    hit = None
    for s in _BLOOM_SEEDS:
        p = _bloom_positions(F.col("l_orderkey"), s)
        word = F.element_at(bitmap, (p / F.lit(64)).cast("int") + 1)
        bit = F.call_function("shiftleft", F.lit(1).cast("long"), (p % 64).cast("int"))
        test = word.bitwiseAND(bit) != 0
        hit = test if hit is None else (hit & test)
    prefiltered = li.filter(hit)
    exact = prefiltered.join(
        keys.withColumnRenamed("o_orderkey", "k"),
        F.col("l_orderkey") == F.col("k"),
        "left_semi",
    )
    return li, prefiltered, exact


@query("q_bloom_semi_join", BLOOM_ORACLE)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from line items of AUTOMOBILE high-balance customers'
    orders — executed via the explicit runtime bloom filter built in
    `_bloom_prefiltered_lineitem`. At 100 TB the prefilter is what keeps
    the big-side shuffle proportional to the match count rather than the
    table size; correctness never depends on the bloom (it only passes
    supersets). Pruning effectiveness is test-asserted in
    test_bloom.py."""
    _, _, exact = _bloom_prefiltered_lineitem(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.round(rev * 100).cast("long")) / 100.0, 2).alias("revenue"),
    )


def bloom_prefilter_stats(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Measurement hook for tests: lineitem rows before the bloom, after
    the bloom, and after the exact semi-join."""
    li, pre, exact = _bloom_prefiltered_lineitem(spark, sf_dir)
    return {"total": li.count(), "bloomed": pre.count(), "exact": exact.count()}


# ---------------------------------------------------------------------------
# Salted equi-join (skew mitigation made explicit).
# ---------------------------------------------------------------------------

_SALT_R = 8

SALTED_JOIN_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("q_salted_skew_join", SALTED_JOIN_ORACLE)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem⋈orders join executed with explicit key salting: the
    probe side gets a deterministic salt in [0, 8) derived from its
    non-key attributes, the build side is exploded ×8 with every salt,
    and the join key becomes (orderkey, salt) — so a single hot orderkey
    spreads over 8 shuffle partitions instead of melting one task. The
    result is provably identical to the unsalted join (the oracle): each
    probe row meets exactly one replica of its matching build row.
    AQE's skew-join split does this adaptively at runtime; the explicit
    form is for engines/pipelines where the skew is KNOWN (a null-key
    flood, a celebrity user) and the 8× build-side replication is
    cheaper than a stalled straggler. Salting composes with the
    aggregation above it — the groupBy re-shuffles on o_orderpriority
    anyway, so the salt costs no extra stage.

    The join is pinned to MERGE (sort-merge): Catalyst's size estimate
    for the exploded side ignores the ×8 explode, so left to itself it
    picks a broadcast join — which silently works (slowly) while the
    replicated build side fits, then dies on Spark's 8 GB broadcast hard
    limit as the table grows (measured: fine at ×16 facts,
    SparkException at ×64). A broadcast join also defeats the operator's
    purpose: broadcasting has no per-key shuffle partition to skew in
    the first place. SHUFFLE_HASH was measured too: its per-partition
    hash-map build does not spill and OOMs at ×64 facts with 32 shuffle
    partitions. Sort-merge is the only strategy that keeps the salted
    (key, salt) shuffle AND degrades by spilling instead of failing —
    for a fact⋈fact join whose partitions may exceed executor memory,
    that is the 100 TB-correct choice (the no-SMJ invariant elsewhere in
    this repo is about dimension joins that should broadcast, not
    this)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt",
        F.pmod(F.xxhash64("l_linenumber", "l_partkey", "l_suppkey"), F.lit(_SALT_R)),
    )
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(_SALT_R - 1)))
    ).hint("merge")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (li.salt == orders.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.round(rev * 100).cast("long")) / 100.0, 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Null-aware NOT IN (the anti-join semantics SQL gets wrong-by-surprise).
# ---------------------------------------------------------------------------

NOT_IN_NULL_ORACLE = """
WITH poor_segments AS (
  SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal < -900
)
SELECT 'clean_inner' AS probe, count(*) AS n_rows
FROM customer
WHERE nullif(c_mktsegment, 'MACHINERY') NOT IN (SELECT c_mktsegment FROM poor_segments)
UNION ALL
SELECT 'null_in_inner' AS probe, count(*) AS n_rows
FROM customer
WHERE c_mktsegment NOT IN (SELECT nullif(c_mktsegment, c_mktsegment) FROM customer)
"""


@query("q_not_in_null_aware", NOT_IN_NULL_ORACLE)
def q_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN is NOT an anti-join when NULLs are in play — three-valued
    logic makes `x NOT IN (S)` UNKNOWN (dropped) when x is NULL, and
    makes it UNKNOWN for EVERY x when S contains a NULL. Both probes are
    exercised: rows whose tested value is NULL vanish from the first
    count, and the second count is exactly 0. Spark plans this as a
    null-aware anti join (LeftAnti with the extra null disjunct — a
    dedicated physical path since naive hash anti-join would keep the
    wrong rows); expressed through the SQL surface because the DataFrame
    `isin` negation has subtly different (two-valued) semantics."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        WITH poor_segments AS (
          SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal < -900
        )
        SELECT 'clean_inner' AS probe, count(*) AS n_rows
        FROM customer
        WHERE nullif(c_mktsegment, 'MACHINERY')
              NOT IN (SELECT c_mktsegment FROM poor_segments)
        UNION ALL
        SELECT 'null_in_inner' AS probe, count(*) AS n_rows
        FROM customer
        WHERE c_mktsegment NOT IN (SELECT nullif(c_mktsegment, c_mktsegment) FROM customer)
        """
    )


# ---------------------------------------------------------------------------
# LATERAL join (correlated per-row top-k subquery).
# ---------------------------------------------------------------------------

LATERAL_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
WHERE c.c_acctbal > 9000
"""


@query("q_lateral_top_orders", LATERAL_ORACLE)
def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: for each rich customer, their top-2
    orders by price — the per-row-subquery formulation of what
    `row_number() ≤ 2` expresses with a window. Catalyst decorrelates the
    lateral into exactly that join+window plan (DecorrelateInnerQuery),
    so the declared per-row loop executes as ONE shuffle on the join key —
    no nested-loop re-execution per outer row, which is what makes the
    construct usable at 100 TB. Deterministic: (price, orderkey) total
    order breaks ties."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey,
               round(o.o_totalprice, 2) AS o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_acctbal > 9000
        """
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured path queries (Spark 4 open variant type).
# ---------------------------------------------------------------------------

VARIANT_ORACLE = """
WITH ex AS (
  SELECT event_type,
         CAST(json_extract(props::JSON, '$.k') AS BIGINT) AS k,
         json_structure(props::JSON) IS NOT NULL AS parsed
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN parsed THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM ex GROUP BY event_type
"""


@query("q_variant_props", VARIANT_ORACLE)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path extraction through Spark 4's open VARIANT
    type: `parse_json(props)` ingests each payload ONCE into the binary
    variant encoding (no up-front schema, unlike the from_json route in
    [[q_json_props]]), then `try_variant_get` pulls typed paths out at
    query time — the schema-on-read contract a CDC props column needs
    when producers add fields freely. Per event type: parse and
    path-presence census plus exact integer stats of `$.k`.

    Scale: a stateless per-row decode inside the scan (variant encode/
    decode is JVM-native columnar, no Python), then one map-side
    combinable aggregate over |types| groups — at 100 TB you'd persist
    the variant column ONCE and every downstream path query skips
    re-parsing the JSON text, which is the variant type's entire
    reason to exist."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return ev.select(
        "event_type",
        k.alias("k"),
        v.isNotNull().alias("parsed"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("parsed").cast("int")).cast("long").alias("n_parsed"),
        F.sum(F.col("k").isNull().cast("int")).cast("long").alias("n_missing_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# Order-to-receipt cycle time profile by priority.
# ---------------------------------------------------------------------------

CYCLE_ORACLE = """
WITH ct AS (
  SELECT o.o_orderpriority AS priority,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
           AS cycle_days,
         CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       round(CAST(sum(cycle_days) AS DOUBLE) / count(*), 4) AS mean_days,
       round(quantile_cont(cycle_days, 0.5), 1) AS p50_days,
       round(quantile_cont(cycle_days, 0.9), 1) AS p90_days,
       round(quantile_cont(cycle_days, 0.95), 1) AS p95_days,
       round(CAST(sum(late) AS DOUBLE) / count(*), 6) AS late_share
FROM ct GROUP BY priority
"""


@query("q_order_cycle_time", CYCLE_ORACLE)
def q_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle-time profile per priority class: mean / p50 /
    p90 / p95 days from order placement to line shipment plus the
    >90-day SLA breach share — the latency DISTRIBUTION behind
    q12_late_shipments' binary breach count (same 90-day SLA; the
    schema carries no receipt/commit dates). Day diffs are exact
    integers; percentile/quantile_cont interpolation parity as in
    [[q_interarrival_burstiness]].

    Scale: the lineitem⋈orders equi-join is the co-partnered big join
    every TPC-H plan shares (bucketed tables co-locate it); the exact
    per-priority percentile needs the per-group multiset — the
    percentile_approx swap applies at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderdate",
        F.col("o_orderpriority").alias("priority"),
    )
    cyc = F.datediff("l_shipdate", "o_orderdate").cast("long")
    ct = li.join(o, "l_orderkey").select(
        "priority",
        cyc.alias("cycle_days"),
        (cyc > 90).cast("int").alias("late"),
    )
    return ct.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(F.sum("cycle_days").cast("double") / F.count(F.lit(1)), 4).alias(
            "mean_days"
        ),
        F.round(F.percentile("cycle_days", F.lit(0.5)), 1).alias("p50_days"),
        F.round(F.percentile("cycle_days", F.lit(0.9)), 1).alias("p90_days"),
        F.round(F.percentile("cycle_days", F.lit(0.95)), 1).alias("p95_days"),
        F.round(
            F.sum("late").cast("double") / F.count(F.lit(1)), 6
        ).alias("late_share"),
    )


# ---------------------------------------------------------------------------
# ABC inventory classification (cumulative-revenue Pareto classes).
# ---------------------------------------------------------------------------

ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS r_c
  FROM lineitem GROUP BY l_partkey
), tot AS (SELECT CAST(sum(r_c) AS BIGINT) AS t FROM rev),
ranked AS (
  SELECT r_c,
         sum(r_c) OVER (ORDER BY r_c DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_c
  FROM rev
), classed AS (
  SELECT r_c,
         CASE WHEN cum_c * 10 <= (SELECT t FROM tot) * 7 THEN 'A'
              WHEN cum_c * 10 <= (SELECT t FROM tot) * 9 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(r_c) AS BIGINT) / 100.0, 2) AS revenue,
       round(CAST(sum(r_c) AS BIGINT) / CAST((SELECT t FROM tot) AS DOUBLE), 6)
         AS revenue_share
FROM classed GROUP BY abc_class
"""


@query("q_abc_classification", ABC_ORACLE)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: rank parts by discounted revenue,
    walk the cumulative share, and split at 70% / 90% — class A is the
    short head that earns 70% of revenue, C the long tail (the Pareto
    cut behind stocking policy, and the relational twin of
    [[q_vocab_coverage]]'s token-mass curve). Class boundaries are
    INTEGER-cents comparisons (cum*10 <= total*7), so the cut is exact
    in both engines.

    Scale: per-part revenue is one map-side-combinable aggregate; the
    global cumulative walk is the two-pass distributed prefix sum from
    functions/distributed.py (range-partition on (revenue, key), local
    cumsum + broadcast per-partition offsets — no data-proportional
    single-partition window, unlike the oracle's SQL form); the class
    rollup is a 3-row aggregate."""
    from ..functions.distributed import global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
        ).alias("r_c")
    )
    tot = rev.agg(F.sum("r_c").alias("t"))
    ranked = global_prefix_sum(
        rev,
        order=[F.col("r_c").desc(), F.col("l_partkey")],
        val=F.col("r_c"),
        out="cum_c",
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "r_c",
        "t",
        F.when(F.col("cum_c") * 10 <= F.col("t") * 7, "A")
        .when(F.col("cum_c") * 10 <= F.col("t") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("r_c") / 100.0, 2).alias("revenue"),
        F.round(F.sum("r_c") / F.first("t").cast("double"), 6).alias(
            "revenue_share"
        ),
    )


# ---------------------------------------------------------------------------
# Supplier revenue concentration per nation (Herfindahl-Hirschman index).
# ---------------------------------------------------------------------------

HHI_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS r_c
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
)
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(CAST(sum(r.r_c) AS BIGINT) / 100.0, 2) AS revenue,
       round(CAST(sum(CAST(r.r_c AS HUGEINT) * r.r_c) AS DOUBLE)
             / (CAST(sum(r.r_c) AS DOUBLE) * CAST(sum(r.r_c) AS DOUBLE)), 6)
         AS hhi,
       round(CAST(max(r.r_c) AS DOUBLE) / CAST(sum(r.r_c) AS BIGINT), 6)
         AS top_supplier_share
FROM rev r JOIN nation n ON n.n_nationkey = r.s_nationkey
GROUP BY n.n_name
"""


@query("q_supplier_hhi", HHI_ORACLE)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation via the
    Herfindahl-Hirschman index — HHI = sum of squared revenue shares,
    1/n for perfect competition up to 1 for a monopoly supplier — plus
    the single-biggest-supplier share: the supply-chain-risk audit (one
    nation's revenue hanging off one supplier is the fragile pattern
    this flags). Algebraically HHI = sum(r_i^2) / (sum r_i)^2, so both
    moments stay EXACT integers (cents and HUGEINT/decimal squared
    cents) with one double division at the end — no per-share doubles
    are ever summed.

    Scale: per-supplier revenue is one map-side-combinable aggregate on
    the lineitem⋈supplier broadcast join; the nation rollup runs over
    |suppliers| rows with a |nations|-row broadcast name join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("nation")
    )
    rev = (
        li.join(F.broadcast(sup), "l_suppkey")
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("r_c")
        )
    )
    return (
        rev.join(F.broadcast(nat), "s_nationkey")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("r_c") / 100.0, 2).alias("revenue"),
            F.round(
                F.sum(F.col("r_c").cast("decimal(19,0)") * F.col("r_c"))
                .cast("double")
                / (F.sum("r_c").cast("double") * F.sum("r_c").cast("double")),
                6,
            ).alias("hhi"),
            F.round(
                F.max("r_c").cast("double") / F.sum("r_c"), 6
            ).alias("top_supplier_share"),
        )
    )


# ---------------------------------------------------------------------------
# Customer reorder cadence per market segment.
# ---------------------------------------------------------------------------

REORDER_ORACLE = """
WITH seq AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         CAST(date_diff('day',
              lag(o.o_orderdate) OVER (
                PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey),
              o.o_orderdate) AS BIGINT) AS gap_days
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), cust AS (
  SELECT c.c_mktsegment AS segment, c.c_custkey,
         CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT g.segment,
       CAST(count(g.gap_days) AS BIGINT) AS n_gaps,
       round(CAST(sum(g.gap_days) AS BIGINT) / CAST(count(g.gap_days) AS DOUBLE),
             4) AS mean_gap_days,
       round(quantile_cont(g.gap_days, 0.5), 1) AS median_gap_days,
       (SELECT round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6)
        FROM cust c2 WHERE c2.segment = g.segment) AS repeat_customer_share
FROM seq g WHERE g.gap_days IS NOT NULL
GROUP BY g.segment
"""


@query("q_reorder_interval", REORDER_ORACLE)
def q_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder cadence per market segment: the day gaps between each
    customer's consecutive orders (mean + exact median) and the share
    of the segment's customers who ordered at least twice — the
    purchase-frequency half of [[q_rfm_segments]] as a standalone
    cadence profile (replenishment-cycle length is what inventory and
    CRM timing are planned against). Gap days are exact integers; the
    repeat share counts over ALL customers (LEFT join keeps the
    never-ordered in the denominator).

    Scale: one customer-keyed window for the lag (orders bucketed by
    custkey co-locate it), a broadcast segment join, and two bounded
    per-segment aggregates; exact median documents the
    percentile_approx swap at 100 TB."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        orders.withColumn(
            "gap_days",
            F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast("long"),
        )
        .filter(F.col("gap_days").isNotNull())
        .join(cust, "o_custkey")
    )
    gaps = seq.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(
            F.sum("gap_days") / F.count(F.lit(1)).cast("double"), 4
        ).alias("mean_gap_days"),
        F.round(F.percentile("gap_days", F.lit(0.5)), 1).alias("median_gap_days"),
    )
    per_cust = (
        cust.join(
            orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders")),
            "o_custkey",
            "left",
        )
        .groupBy("segment")
        .agg(
            F.round(
                F.sum((F.coalesce(F.col("n_orders"), F.lit(0)) >= 2).cast("int"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("repeat_customer_share")
        )
    )
    return gaps.join(per_cust, "segment")


# ---------------------------------------------------------------------------
# Basket profile: order-size histogram + value by basket band.
# ---------------------------------------------------------------------------

BASKET_ORACLE = """
WITH per AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS v_c
  FROM lineitem GROUP BY l_orderkey
), banded AS (
  SELECT CASE WHEN n_items <= 2 THEN '1-2'
              WHEN n_items <= 4 THEN '3-4'
              WHEN n_items <= 6 THEN '5-6'
              ELSE '7+' END AS basket_band,
         n_items, v_c
  FROM per
)
SELECT basket_band,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
         AS order_share,
       round(CAST(sum(v_c) AS BIGINT) / 100.0, 2) AS revenue,
       round(CAST(sum(v_c) AS BIGINT)
             / CAST((SELECT sum(v_c) FROM per) AS DOUBLE), 6) AS revenue_share,
       round(CAST(sum(n_items) AS BIGINT) / CAST(count(*) AS DOUBLE), 4)
         AS avg_items,
       round(CAST(sum(v_c) AS BIGINT) / count(*) / 100.0, 4) AS avg_order_value
FROM banded GROUP BY basket_band
"""


@query("q_basket_profile", BASKET_ORACLE)
def q_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size profile: orders banded by line-item count (1-2 / 3-4 /
    5-6 / 7+) with each band's order share, revenue share, and average
    order value — the merchandising dashboard that says whether revenue
    rides many small baskets or few large ones (and the order-grain
    cousin of [[q13_customer_distribution]], which profiles orders per
    CUSTOMER). Cents-exact value folds; band cuts are integer
    comparisons.

    Scale: one map-side-combinable groupBy(l_orderkey) — the natural
    pre-aggregation grain — then a 4-row band rollup; the share windows
    run on the 4-row frame."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
        ).alias("v_c"),
    )
    band = (
        F.when(F.col("n_items") <= 2, "1-2")
        .when(F.col("n_items") <= 4, "3-4")
        .when(F.col("n_items") <= 6, "5-6")
        .otherwise("7+")
    )
    banded = per.select(band.alias("basket_band"), "n_items", "v_c")
    agg = banded.groupBy("basket_band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("v_c").alias("sv"),
        F.sum("n_items").alias("si"),
    )
    wg = W.partitionBy()
    return agg.select(
        "basket_band",
        "n_orders",
        F.round(
            F.col("n_orders") / F.sum("n_orders").over(wg).cast("double"), 6
        ).alias("order_share"),
        F.round(F.col("sv") / 100.0, 2).alias("revenue"),
        F.round(F.col("sv") / F.sum("sv").over(wg).cast("double"), 6).alias(
            "revenue_share"
        ),
        F.round(F.col("si") / F.col("n_orders").cast("double"), 4).alias(
            "avg_items"
        ),
        F.round(F.col("sv") / F.col("n_orders") / 100.0, 4).alias(
            "avg_order_value"
        ),
    )


# ---------------------------------------------------------------------------
# Unit-price dispersion per brand (coefficient of variation).
# ---------------------------------------------------------------------------

DISPERSION_ORACLE = """
WITH u AS (
  SELECT p.p_brand AS brand,
         CAST(round(100 * l.l_extendedprice / l.l_quantity) AS BIGINT) AS u_c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0
), mom AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(u_c) AS HUGEINT) AS s1,
         sum(CAST(u_c AS HUGEINT) * u_c) AS s2,
         CAST(min(u_c) AS BIGINT) AS mn, CAST(max(u_c) AS BIGINT) AS mx
  FROM u GROUP BY brand
)
SELECT brand, n,
       round(CAST(s1 AS DOUBLE) / n / 100.0, 4) AS mean_unit_price,
       round(sqrt(greatest(
           CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0.0))
         / (CAST(s1 AS DOUBLE) / n), 6) AS cv,
       round(mn / 100.0, 2) AS min_unit_price,
       round(mx / 100.0, 2) AS max_unit_price
FROM mom
"""


@query("q_unit_price_dispersion", DISPERSION_ORACLE)
def q_unit_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-price dispersion per brand: coefficient of variation (and
    range) of the per-line effective unit price — the price-consistency
    audit that flags brands selling the same catalog at wildly different
    realized prices (discount leakage, data errors, or genuine price
    discrimination; the pricing cousin of [[q_outliers_mad]]'s
    robust screen). Unit prices are rounded to integer cents PER ROW
    (identical double division both engines), so the moments are exact
    HUGEINT/decimal sums and CV is scalar math after; sigma^2 clamps at
    0 before the IEEE-exact sqrt.

    Scale: broadcast part-dim join into one map-side-combinable
    |brands|-group moment aggregate — a pure scan-speed profile."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    u = li.join(F.broadcast(part), "l_partkey").select(
        "brand",
        F.round(100 * F.col("l_extendedprice") / F.col("l_quantity"))
        .cast("long")
        .alias("u_c"),
    )
    mom = u.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u_c").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("u_c").cast("decimal(19,0)") * F.col("u_c")).alias("s2"),
        F.min("u_c").alias("mn"),
        F.max("u_c").alias("mx"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        F.greatest(F.col("s2").cast("double") / F.col("n") - mu * mu, F.lit(0.0))
    )
    return mom.select(
        "brand",
        "n",
        F.round(mu / 100.0, 4).alias("mean_unit_price"),
        F.round(sd / mu, 6).alias("cv"),
        F.round(F.col("mn") / 100.0, 2).alias("min_unit_price"),
        F.round(F.col("mx") / 100.0, 2).alias("max_unit_price"),
    )


# ---------------------------------------------------------------------------
# Discount-depth mix: what each discount band sells and earns.
# ---------------------------------------------------------------------------

DISCOUNT_ORACLE = """
WITH b AS (
  SELECT CASE WHEN l_discount < 0.02 THEN '00-01'
              WHEN l_discount < 0.05 THEN '02-04'
              WHEN l_discount < 0.08 THEN '05-07'
              ELSE '08-10' END AS discount_band,
         l_quantity,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS v_c,
         CAST(round(l_extendedprice * l_discount * 100) AS BIGINT) AS d_c
  FROM lineitem
)
SELECT discount_band,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             / CAST(count(*) AS DOUBLE) / 100.0, 4) AS avg_quantity,
       round(CAST(sum(v_c) AS BIGINT) / 100.0, 2) AS revenue,
       round(CAST(sum(d_c) AS BIGINT) / 100.0, 2) AS discount_given,
       round(CAST(sum(d_c) AS DOUBLE)
             / CAST(sum(v_c) + sum(d_c) AS BIGINT), 6) AS effective_discount
FROM b GROUP BY discount_band
"""


@query("q_discount_band_mix", DISCOUNT_ORACLE)
def q_discount_band_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-depth mix: line items banded by discount depth with each
    band's volume, average quantity, realized revenue, and the absolute
    discount given away — the promo-depth dashboard that shows whether
    deeper discounts actually move quantity or just leak margin (the
    band form of TPC-H Q6's single-slice what-if). Money stays in
    per-row-rounded cents ([[functions/money.py]] discipline), quantity
    in centi-units, so every column is an exact integer fold with one
    final division.

    Scale: single scan, literal band cuts, |bands|-row
    map-side-combinable aggregate — pure scan-speed."""
    li = load_table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_discount") < 0.02, "00-01")
        .when(F.col("l_discount") < 0.05, "02-04")
        .when(F.col("l_discount") < 0.08, "05-07")
        .otherwise("08-10")
    )
    v_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    d_c = F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
    q_c = F.round(F.col("l_quantity") * 100).cast("long")
    agg = li.select(
        band.alias("discount_band"), v_c.alias("v_c"), d_c.alias("d_c"),
        q_c.alias("q_c"),
    ).groupBy("discount_band").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("q_c").alias("sq"),
        F.sum("v_c").alias("sv"),
        F.sum("d_c").alias("sd"),
    )
    return agg.select(
        "discount_band",
        "n_items",
        F.round(
            F.col("sq") / F.col("n_items").cast("double") / 100.0, 4
        ).alias("avg_quantity"),
        F.round(F.col("sv") / 100.0, 2).alias("revenue"),
        F.round(F.col("sd") / 100.0, 2).alias("discount_given"),
        F.round(
            F.col("sd").cast("double") / (F.col("sv") + F.col("sd")), 6
        ).alias("effective_discount"),
    )


# ---------------------------------------------------------------------------
# Churn flags: customers silent for the trailing 90 days of history.
# ---------------------------------------------------------------------------

_CHURN_DAYS = 90

CHURN_ORACLE = f"""
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
last_o AS (
  SELECT o_custkey, max(o_orderdate) AS last_order FROM orders GROUP BY o_custkey
)
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN l.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS never_ordered,
       CAST(sum(CASE WHEN l.o_custkey IS NOT NULL
                 AND date_diff('day', l.last_order, (SELECT m FROM mx))
                     > {_CHURN_DAYS} THEN 1 ELSE 0 END) AS BIGINT) AS churned,
       CAST(sum(CASE WHEN l.o_custkey IS NOT NULL
                 AND date_diff('day', l.last_order, (SELECT m FROM mx))
                     <= {_CHURN_DAYS} THEN 1 ELSE 0 END) AS BIGINT) AS active,
       round(CAST(sum(CASE WHEN l.o_custkey IS NOT NULL
                 AND date_diff('day', l.last_order, (SELECT m FROM mx))
                     > {_CHURN_DAYS} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS churn_rate
FROM customer c LEFT JOIN last_o l ON l.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("q_churn_flags", CHURN_ORACLE)
def q_churn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency churn census per segment: customers split into
    never-ordered / churned (last order > {_CHURN_DAYS} days before the
    corpus's own last order date) / active — the standing churn KPI and
    the population the R score of [[q_rfm_segments]] quantile-ranks
    (this fixes an absolute SLA where RFM ranks relatively). The
    horizon anchors on max(o_orderdate) IN the data, so the query is
    scale-factor- and wall-clock-independent.

    Scale: one custkey aggregate for last orders, a 1-row broadcast
    global max, a broadcast-dim left join, and a |segments|-row rollup
    — integer day comparisons only."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    last_o = orders.groupBy("o_custkey").agg(F.max("o_orderdate").alias("last_order"))
    mx = orders.agg(F.max("o_orderdate").alias("m"))
    j = (
        cust.join(last_o, "o_custkey", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "segment",
            F.col("last_order").isNull().alias("never"),
            (
                F.col("last_order").isNotNull()
                & (F.datediff("m", "last_order") > _CHURN_DAYS)
            ).alias("churned"),
            (
                F.col("last_order").isNotNull()
                & (F.datediff("m", "last_order") <= _CHURN_DAYS)
            ).alias("active"),
        )
    )
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("never").cast("int")).cast("long").alias("never_ordered"),
        F.sum(F.col("churned").cast("int")).cast("long").alias("churned"),
        F.sum(F.col("active").cast("int")).cast("long").alias("active"),
        F.round(
            F.sum(F.col("churned").cast("int")) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("churn_rate"),
    )


# ---------------------------------------------------------------------------
# Laspeyres price index: monthly price level vs the base month's basket.
# ---------------------------------------------------------------------------

LASPEYRES_ORACLE = """
WITH pm AS (
  SELECT l_partkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS v_c,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q_c
  FROM lineitem GROUP BY 1, 2
), b AS (SELECT min(m) AS m0 FROM pm),
base AS (
  SELECT l_partkey, v_c AS v0, q_c AS q0 FROM pm WHERE m = (SELECT m0 FROM b)
), terms AS (
  SELECT pm.m,
         CAST(round(1000000.0 * pm.v_c * base.q0 / pm.q_c) AS BIGINT) AS num_u,
         base.v0 AS den_c
  FROM pm JOIN base USING (l_partkey)
)
SELECT m AS month,
       CAST(count(*) AS BIGINT) AS n_common_parts,
       round(CAST(sum(num_u) AS DOUBLE) / 1000000.0
             / CAST(sum(den_c) AS BIGINT), 6) AS laspeyres_index
FROM terms GROUP BY m
"""


@query("q_laspeyres_price_index", LASPEYRES_ORACLE)
def q_laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per ship-month: what the BASE month's
    basket (first month's quantities) would cost at each month's
    realized unit prices, relative to what it actually cost — the
    fixed-basket inflation measure (a CPI), restricted per month to
    parts traded in both periods. Distinguishes price movement from mix
    shift, which raw revenue trends ([[q_mom_growth]]) conflate.

    Exactness: part-month value/quantity are exact cents/centi-unit
    integers; each part's index term is ONE identically-associated
    double expression rounded to a 1e6-scaled integer, so the month
    sums are order-free and the denominator (base-month spend over the
    same common set) is a pure integer sum.

    Scale: one (part, month) map-side-combinable aggregate, a part-keyed
    join against the base-month slice (broadcastable: one month of
    parts), then a |months|-row rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").cast("date").alias("m")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("v_c"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q_c"),
    )
    m0 = pm.agg(F.min("m").alias("m0"))
    base = (
        pm.crossJoin(F.broadcast(m0))
        .filter(F.col("m") == F.col("m0"))
        .select(
            "l_partkey", F.col("v_c").alias("v0"), F.col("q_c").alias("q0")
        )
    )
    terms = pm.join(F.broadcast(base), "l_partkey").select(
        "m",
        F.round(
            F.lit(1000000.0) * F.col("v_c") * F.col("q0") / F.col("q_c")
        ).cast("bigint").alias("num_u"),
        F.col("v0").alias("den_c"),
    )
    return terms.groupBy(F.col("m").alias("month")).agg(
        F.count(F.lit(1)).alias("n_common_parts"),
        F.round(
            F.sum("num_u").cast("double") / 1000000.0 / F.sum("den_c"), 6
        ).alias("laspeyres_index"),
    )


# ---------------------------------------------------------------------------
# Paasche and Fisher price indexes (the Laspeyres' dual and their mean).
# ---------------------------------------------------------------------------

FISHER_ORACLE = """
WITH pm AS (
  SELECT l_partkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS v_c,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q_c
  FROM lineitem GROUP BY 1, 2
), b AS (SELECT min(m) AS m0 FROM pm),
base AS (
  SELECT l_partkey, v_c AS v0, q_c AS q0 FROM pm WHERE m = (SELECT m0 FROM b)
), terms AS (
  SELECT pm.m,
         CAST(round(1000000.0 * pm.v_c * base.q0 / pm.q_c) AS BIGINT) AS l_num,
         base.v0 AS l_den,
         pm.v_c AS p_num,
         CAST(round(1000000.0 * base.v0 * pm.q_c / base.q0) AS BIGINT) AS p_den
  FROM pm JOIN base USING (l_partkey)
), agg AS (
  SELECT m, CAST(count(*) AS BIGINT) AS n_common_parts,
         CAST(sum(l_num) AS DOUBLE) / 1000000.0 / CAST(sum(l_den) AS BIGINT)
           AS lasp,
         CAST(sum(p_num) AS BIGINT)
           / (CAST(sum(p_den) AS DOUBLE) / 1000000.0) AS paas
  FROM terms GROUP BY m
)
SELECT m AS month, n_common_parts,
       round(lasp, 6) AS laspeyres,
       round(paas, 6) AS paasche,
       round(sqrt(lasp * paas), 6) AS fisher
FROM agg
"""


@query("q_fisher_price_index", FISHER_ORACLE)
def q_fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-number triple per ship-month: Laspeyres (base-month
    basket — overstates inflation as buyers substitute away), Paasche
    (CURRENT-month basket — understates it), and Fisher's ideal index,
    their geometric mean, which is what statistical agencies actually
    publish. Shares the [[q_laspeyres_price_index]] scaffolding; the
    Laspeyres/Paasche gap per month IS the substitution-bias
    measurement.

    Exactness: same discipline as Laspeyres — each cross term is one
    identically-associated double expression rounded to a 1e6-scaled
    integer, each same-period term a pure integer sum; Fisher adds one
    IEEE-correctly-rounded sqrt. L ≥ P almost surely (substitution),
    F between them by construction (pinned in tests).

    Scale: identical to the Laspeyres plan — (part, month) aggregate,
    broadcast base-month slice, |months|-row rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").cast("date").alias("m")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("v_c"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q_c"),
    )
    m0 = pm.agg(F.min("m").alias("m0"))
    base = (
        pm.crossJoin(F.broadcast(m0))
        .filter(F.col("m") == F.col("m0"))
        .select("l_partkey", F.col("v_c").alias("v0"), F.col("q_c").alias("q0"))
    )
    terms = pm.join(F.broadcast(base), "l_partkey").select(
        "m",
        F.round(F.lit(1000000.0) * F.col("v_c") * F.col("q0") / F.col("q_c"))
        .cast("bigint")
        .alias("l_num"),
        F.col("v0").alias("l_den"),
        F.col("v_c").alias("p_num"),
        F.round(F.lit(1000000.0) * F.col("v0") * F.col("q_c") / F.col("q0"))
        .cast("bigint")
        .alias("p_den"),
    )
    lasp = F.col("sl").cast("double") / 1000000.0 / F.col("sld")
    paas = F.col("sp") / (F.col("spd").cast("double") / 1000000.0)
    return (
        terms.groupBy(F.col("m").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_common_parts"),
            F.sum("l_num").alias("sl"),
            F.sum("l_den").alias("sld"),
            F.sum("p_num").alias("sp"),
            F.sum("p_den").alias("spd"),
        )
        .select(
            "month",
            "n_common_parts",
            F.round(lasp, 6).alias("laspeyres"),
            F.round(paas, 6).alias("paasche"),
            F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        )
    )


# ---------------------------------------------------------------------------
# Price/volume/mix bridge: revenue change decomposition per brand.
# ---------------------------------------------------------------------------

_PVM_SPLIT = "1998-07-01"  # 1995-2001 stream → two ~3.5y halves

PVM_ORACLE = f"""
WITH pp AS (
  SELECT p.p_brand AS brand, l.l_partkey,
         CASE WHEN l.l_shipdate < TIMESTAMP '{_PVM_SPLIT}' THEN 0 ELSE 1 END
           AS period,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS v_c,
         CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS q_c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2, 3
), wide AS (
  SELECT brand, l_partkey,
         max(CASE WHEN period = 0 THEN v_c END) AS v0,
         max(CASE WHEN period = 0 THEN q_c END) AS q0,
         max(CASE WHEN period = 1 THEN v_c END) AS v1,
         max(CASE WHEN period = 1 THEN q_c END) AS q1
  FROM pp GROUP BY brand, l_partkey
), common AS (
  SELECT brand,
         -- price effect: (p1-p0)*q0, computed as 1e6-scaled int terms
         CAST(round(1000000.0 * v1 * q0 / q1) AS BIGINT) - 1000000 * v0
           AS price_u,
         -- volume effect: p0*(q1-q0)
         CAST(round(1000000.0 * v0 * q1 / q0) AS BIGINT) - 1000000 * v0
           AS volume_u,
         v1 - v0 AS delta_c, v0, v1
  FROM wide WHERE v0 IS NOT NULL AND v1 IS NOT NULL
)
SELECT brand,
       CAST(count(*) AS BIGINT) AS n_common_parts,
       round(CAST(sum(delta_c) AS BIGINT) / 100.0, 2) AS revenue_change,
       round(CAST(sum(price_u) AS DOUBLE) / 100000000.0, 2) AS price_effect,
       round(CAST(sum(volume_u) AS DOUBLE) / 100000000.0, 2) AS volume_effect,
       round((CAST(sum(delta_c) AS BIGINT) * 1000000.0
              - CAST(sum(price_u) AS DOUBLE) - CAST(sum(volume_u) AS DOUBLE))
             / 100000000.0, 2) AS mix_effect
FROM common GROUP BY brand
"""


@query("q_price_volume_mix", PVM_ORACLE)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix bridge per brand between the stream's two
    halves (split {_PVM_SPLIT}): revenue change decomposed into the
    price effect (Δprice x base volume), volume effect (base price x
    Δvolume), and the joint/mix residual — the FP&A waterfall that says
    WHY revenue moved where [[q_mom_growth]] only says THAT it moved
    and [[q_fisher_price_index]] isolates the pure-price component
    corpus-wide. Restricted to parts traded in both halves; the three
    effects sum exactly to the revenue change by construction (pinned
    in tests).

    Exactness: the Laspeyres discipline again — per-part cross terms
    are single identically-associated double expressions rounded to
    1e6-scaled integers, same-period terms pure integer sums, the mix
    residual derived from those sums so the bridge closes to the cent.

    Scale: one (brand, part, half) map-side-combinable aggregate, a
    per-part pivot (2 rows → 1), and a |brands|-row rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    split = F.lit(_PVM_SPLIT).cast("timestamp")
    pp = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy(
            "brand",
            "l_partkey",
            (F.col("l_shipdate") >= split).cast("int").alias("period"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "v_c"
            ),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q_c"),
        )
    )
    wide = pp.groupBy("brand", "l_partkey").agg(
        F.max(F.when(F.col("period") == 0, F.col("v_c"))).alias("v0"),
        F.max(F.when(F.col("period") == 0, F.col("q_c"))).alias("q0"),
        F.max(F.when(F.col("period") == 1, F.col("v_c"))).alias("v1"),
        F.max(F.when(F.col("period") == 1, F.col("q_c"))).alias("q1"),
    )
    common = wide.filter(
        F.col("v0").isNotNull() & F.col("v1").isNotNull()
    ).select(
        "brand",
        (
            F.round(F.lit(1000000.0) * F.col("v1") * F.col("q0") / F.col("q1"))
            .cast("bigint")
            - F.lit(1000000).cast("bigint") * F.col("v0")
        ).alias("price_u"),
        (
            F.round(F.lit(1000000.0) * F.col("v0") * F.col("q1") / F.col("q0"))
            .cast("bigint")
            - F.lit(1000000).cast("bigint") * F.col("v0")
        ).alias("volume_u"),
        (F.col("v1") - F.col("v0")).alias("delta_c"),
    )
    return common.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_common_parts"),
        F.round(F.sum("delta_c") / 100.0, 2).alias("revenue_change"),
        F.round(
            F.sum(F.col("price_u").cast("decimal(28,0)")).cast("double")
            / 100000000.0,
            2,
        ).alias("price_effect"),
        F.round(
            F.sum(F.col("volume_u").cast("decimal(28,0)")).cast("double")
            / 100000000.0,
            2,
        ).alias("volume_effect"),
        F.round(
            (
                F.sum("delta_c").cast("double") * 1000000.0
                - F.sum(F.col("price_u").cast("decimal(28,0)")).cast("double")
                - F.sum(F.col("volume_u").cast("decimal(28,0)")).cast("double")
            )
            / 100000000.0,
            2,
        ).alias("mix_effect"),
    )
