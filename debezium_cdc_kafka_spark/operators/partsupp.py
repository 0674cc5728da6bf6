"""Derived ``partsupp`` table + the TPC-H query shapes that need it
(Q2, Q11, Q16, Q20 — adapted to the driver's schema).

The driver's test data has no partsupp table, but four classic TPC-H
shapes (min-cost supplier, important stock, supplier-count matrix,
excess inventory) exercise engine capabilities nothing else covers:
window-min vs correlated subquery, aggregate-vs-global-total HAVING,
count-distinct with an exclusion anti-join, and a double-aggregate
semi-join chain. So the table is *derived deterministically* from
``part`` × ``supplier`` with a TPC-H-style assignment formula
(suppkey_i = (partkey + i·(S DIV 4)) mod S + 1, i∈0..3 — the stride
S DIV 4 satisfies 3·(S DIV 4) < S, so the 4 suppliers per part are
always distinct for S ≥ 4; TPC-H's extra per-part stride term is
dropped because it degenerates when S ≡ 0 mod 5) and md5-based availqty /
supplycost, so Spark and the DuckDB oracle can both regenerate the
identical relation (see functions/hashing.py for the cross-engine md5
mapping).

Scale: the derivation is a narrow projection of ``part`` exploded ×4
with a broadcast scalar (supplier count) — no shuffle; at 100 TB it is
generated-on-scan, never materialized. Reference exercises this surface
only through DuckDB-delegated SQL (reference: app/utils/postgres.py:
136–145 single-row ops); the shapes here are the north-star widening.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import md5_long
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


def partsupp(
    spark: SparkSession, sf_dir: str, part: DataFrame | None = None
) -> DataFrame:
    """The derived partsupp relation: 4 rows per part, distinct suppliers,
    availqty ∈ [1, 9999], supplycost ∈ [1.00, 1000.00].

    ``part`` (optional): a pre-filtered projection of the part table
    carrying p_partkey. Because every partsupp column is a pure function
    of (ps_partkey, ps_suppkey, |supplier|), deriving from a filtered
    part slice yields exactly the full relation's rows for those parts —
    r9 uses this so a query's part predicate prunes BEFORE the ×4
    explode and the two md5 hashes per row, instead of generating the
    full relation and discarding 95% of it in the join (guide §2.3
    "project/filter before the expensive work")."""
    if part is None:
        part = load_table(spark, sf_dir, "part")
    part = part.select("p_partkey")
    n_supp = load_table(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("n"))
    keys = (
        part.crossJoin(F.broadcast(n_supp))
        .select("p_partkey", "n", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (((F.col("p_partkey") + F.col("i") * F.expr("n DIV 4")) % F.col("n")) + 1)
            .cast("int")
            .alias("ps_suppkey"),
        )
    )
    key_str = F.concat(
        F.col("ps_partkey").cast("string"), F.lit(":"), F.col("ps_suppkey").cast("string")
    )
    return keys.select(
        "ps_partkey",
        "ps_suppkey",
        ((md5_long(key_str) % 9999) + 1).cast("int").alias("ps_availqty"),
        F.round(
            ((md5_long(F.concat(F.lit("cost:"), key_str)) % 99901) + 100) / 100.0, 2
        ).alias("ps_supplycost"),
    )


# DuckDB rendering of the same relation — prefixed to every oracle below.
PARTSUPP_SQL = """
WITH s_cnt AS (SELECT count(*) AS n FROM supplier),
ps_keys AS (
  SELECT p_partkey AS ps_partkey,
         CAST(((p_partkey + i * (n // 4)) % n) + 1 AS INTEGER) AS ps_suppkey
  FROM part, s_cnt, range(4) t(i)
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((('0x' || substr(md5(ps_partkey || ':' || ps_suppkey), 1, 15))::BIGINT % 9999) + 1 AS INTEGER) AS ps_availqty,
         round(((('0x' || substr(md5('cost:' || ps_partkey || ':' || ps_suppkey), 1, 15))::BIGINT % 99901) + 100) / 100.0, 2) AS ps_supplycost
  FROM ps_keys
)
"""


Q2_ORACLE = (
    PARTSUPP_SQL
    + """
SELECT s_acctbal, s_name, n_name, ps_partkey, p_name, ps_supplycost
FROM (
  SELECT s_acctbal, s_name, n_name, ps_partkey, p_name, ps_supplycost,
         min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
  FROM partsupp
  JOIN part     ON p_partkey = ps_partkey
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE p_size <= 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
) WHERE ps_supplycost = min_cost
"""
)


@query("q02_min_cost_supplier", Q2_ORACLE)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: for each qualifying part, the European supplier(s) offering
    the minimum supply cost. The correlated-min subquery is expressed as a
    window min over the already-filtered join — one pass, no recompute; the
    window partitions on ps_partkey, same key the join shuffled on, so AQE
    coalesces without an extra exchange. All dimensions broadcast. r9: the
    part predicate (5% selective at sf0.1) prunes the partsupp DERIVATION
    itself — the ×4 explode and both md5 hashes run on qualifying parts
    only (partsupp(part=...)), instead of on the full relation with the
    join discarding the rest."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_name")
    )
    ps = partsupp(spark, sf_dir, part=part)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        ps.join(part, ps.ps_partkey == part.p_partkey)
        .join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    w = Window.partitionBy("ps_partkey")
    return (
        joined.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "ps_partkey", "p_name", "ps_supplycost")
    )


Q11_ORACLE = (
    PARTSUPP_SQL
    + """,
value_per_part AS (
  SELECT ps_partkey,
         CAST(sum(CAST(round(ps_supplycost * 100) AS BIGINT) * ps_availqty) AS BIGINT) AS value_cents
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY ps_partkey
)
SELECT ps_partkey, round(value_cents / 100.0, 2) AS part_value
FROM (SELECT ps_partkey, value_cents,
             CAST(sum(value_cents) OVER () AS BIGINT) AS total_cents
      FROM value_per_part)
WHERE value_cents * 1000 > total_cents
"""
)


@query("q11_important_stock", Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose European stock value exceeds 0.1% of the
    total. Inventory value is summed in exact integer cents (order-free —
    see functions/money.py), and the threshold compare is integer×1000 vs
    integer, so no double ever enters a comparison. The grand total is a
    broadcast scalar, not an unpartitioned window — at 100 TB the grouped
    relation is still wide, and a single-partition window would serialize
    it through one task."""
    ps = partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    value = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.round(F.col("ps_supplycost") * 100).cast("long") * F.col("ps_availqty")
            ).alias("value_cents")
        )
    )
    total = value.agg(F.sum("value_cents").alias("total_cents"))
    return (
        value.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("ps_partkey", F.round(F.col("value_cents") / 100.0, 2).alias("part_value"))
    )


Q16_ORACLE = (
    PARTSUPP_SQL
    + """
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'ECONOMY'
  AND p_size IN (1, 4, 9, 14, 19, 23, 26, 30)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""
)


@query("q16_supplier_counts", Q16_ORACLE)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct-supplier counts per (brand, type, size) cell,
    excluding one brand/type, a size list, and suppliers with negative
    balances (stand-in for Q16's complaint filter — the schema has no
    s_comment). The NOT IN is a broadcast anti-join; count(DISTINCT)
    expands to a two-phase aggregate (dedupe on the full key, then count)
    — Spark plans that automatically and both shuffles share the
    (brand,type,size) key. r9: the part predicate (13% selective at
    sf0.1) prunes the partsupp derivation itself (partsupp(part=...))."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 26, 30)
    )
    ps = partsupp(spark, sf_dir, part=part)
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(part, ps.ps_partkey == part.p_partkey)
        .join(bad_supp, ps.ps_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


Q20_ORACLE = (
    PARTSUPP_SQL
    + """,
shipped AS (
  SELECT l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
)
SELECT DISTINCT s_name, n_name
FROM supplier
JOIN nation   ON n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n_regionkey
JOIN partsupp ON ps_suppkey = s_suppkey
JOIN part     ON p_partkey = ps_partkey
JOIN shipped  ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
WHERE r_name = 'EUROPE' AND p_name LIKE '%bolt%' AND ps_availqty > half_qty
"""
)


@query("q20_excess_inventory", Q20_ORACLE)
def q20_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: European suppliers holding more than half a year's
    shipments of some 'bolt' part. The nested IN-subqueries become one
    qualifying-rows plan plus a LEFT SEMI join into supplier — the semi
    join both dedupes and filters, so no DISTINCT pass is needed.
    l_quantity values are integral, so 0.5·sum is exact in double
    regardless of aggregation order. r9: the 'bolt' predicate (12%
    selective at sf0.1) prunes the partsupp derivation itself
    (partsupp(part=...)), which also subsumes the former ps⋈part_bolt
    filter join outright — one fewer join, ×8 less md5 work."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        (0.5 * F.sum("l_quantity")).alias("half_qty")
    )
    part_bolt = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    ps = partsupp(spark, sf_dir, part=part_bolt)
    qualifying = (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey) & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .join(qualifying, supp.s_suppkey == qualifying.ps_suppkey, "left_semi")
        .select("s_name", "n_name")
    )
