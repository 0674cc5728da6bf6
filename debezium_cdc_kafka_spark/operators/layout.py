"""Data-layout operators: Z-order (Morton) clustering for multi-column
file skipping.

The reference has no storage-layout tuning at all (its target is a
row-store Postgres replica, reference: app/utils/postgres.py:100–107).
At 100 TB, layout IS the query optimizer's biggest lever: parquet
min/max stats can only skip files when values are clustered, and
sorting by one column destroys clustering for every other column.
Z-ordering interleaves the bits of several columns so a file's
row-group stats stay tight on ALL of them — a 2-D box predicate then
touches O(perimeter) files instead of O(n).

The z-value itself is pure integer bit math (built-in expressions, no
UDF), so computing it costs one narrow projection; the layout write is
``repartitionByRange(z)`` + per-partition sort — one shuffle that buys
every later scan its skipping. `zorder_write` is the maintenance
entry point; `q_zorder_key` oracle-gates the key computation; the
skipping payoff is measured (files touched, z vs hash layout) in
test_zorder.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


_ZBITS = 16


def z_value(a: Column, b: Column) -> Column:
    """Morton-interleave the low 16 bits of two non-negative ints:
    bit i of `a` lands at position 2i, bit i of `b` at 2i+1."""
    masked_a = a.cast("long") % (1 << _ZBITS)
    masked_b = b.cast("long") % (1 << _ZBITS)
    terms = F.transform(
        F.sequence(F.lit(0), F.lit(_ZBITS - 1)),
        lambda i: (
            F.floor(masked_a / F.pow(F.lit(2.0), i)).cast("long") % 2
        )
        * F.pow(F.lit(2.0), i * 2).cast("long")
        + (F.floor(masked_b / F.pow(F.lit(2.0), i)).cast("long") % 2)
        * F.pow(F.lit(2.0), i * 2 + 1).cast("long"),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)


def z_value_sql(a: str, b: str) -> str:
    return (
        "list_sum(list_transform(range(0, 16), i -> "
        f"((({a}) % 65536 // CAST(pow(2, i) AS BIGINT)) % 2) * CAST(pow(2, 2*i) AS BIGINT)"
        f" + ((({b}) % 65536 // CAST(pow(2, i) AS BIGINT)) % 2) * CAST(pow(2, 2*i+1) AS BIGINT)))"
    )


ZKEY_ORACLE = f"""
SELECT l_orderkey, l_linenumber, l_partkey,
       CAST(datediff('day', TIMESTAMP '1992-01-01', l_shipdate) AS BIGINT) AS ship_day,
       CAST({z_value_sql("l_partkey", "datediff('day', TIMESTAMP '1992-01-01', l_shipdate)")} AS BIGINT) AS zval
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1995-07-01'
"""


@query("q_zorder_key", ZKEY_ORACLE)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Morton key for (l_partkey, ship-day), shown on one month of
    lineitem: exact integer bit interleaving via a 16-term fold, no UDF.
    Both engines run the identical integer expression, so the oracle
    match is exact. This key is what zorder_write range-partitions on."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    ship_day = F.datediff("l_shipdate", F.lit("1992-01-01").cast("timestamp"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        ship_day.cast("long").alias("ship_day"),
        z_value(F.col("l_partkey"), ship_day).alias("zval"),
    )


def zorder_write(
    df: DataFrame, a: str, b: str, path: str, n_files: int
) -> None:
    """Cluster `df` on the Morton key of (a, b) and write `n_files`
    parquet files: repartitionByRange on z gives each file a compact
    z-range (→ tight min/max on BOTH source columns), the within-
    partition sort keeps row groups tight too."""
    keyed = df.withColumn("_z", z_value(F.col(a), F.col(b)))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Compaction planning: pack small files into target-size output groups.
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 25_000

COMPACT_ORACLE = f"""
WITH files AS (
  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS file_day,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1
),
planned AS (
  SELECT file_day, n_rows,
         coalesce(sum(n_rows) OVER (ORDER BY file_day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
  FROM files
)
SELECT file_day, n_rows,
       CAST(prior // {_COMPACT_TARGET} AS BIGINT) AS target_file,
       CAST(count(*) OVER (PARTITION BY prior // {_COMPACT_TARGET}) AS BIGINT)
         AS files_merged,
       CAST(sum(n_rows) OVER (PARTITION BY prior // {_COMPACT_TARGET}) AS BIGINT)
         AS target_rows
FROM planned
"""


@query("q_compaction_plan", COMPACT_ORACLE)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: treat each ship-day's rows as one
    input file (the classic CDC-sink pathology — [[cdc_incremental_merge]]
    writes a sliver per trigger) and assign files to target outputs by
    exclusive-prefix-sum bucketing: a file joins output floor(prior /
    target). Contiguous in sort order, so each output file covers a
    compact day range — min/max stats stay tight, unlike hash grouping.

    Scale: the manifest is one map-side-combinable aggregate (one row per
    file — calendar/file-count bounded, like [[q_cusum_changepoint]]'s
    series); the plan itself is two windows over that manifest. This is
    the planning half of the maintenance pair with [[zorder_write]]; the
    actual rewrite is a repartitionByRange on target_file."""
    li = load_table(spark, sf_dir, "lineitem")
    files = (
        li.groupBy(F.date_trunc("day", "l_shipdate").cast("date").alias("file_day"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    wprev = W.orderBy("file_day").rowsBetween(W.unboundedPreceding, -1)
    planned = files.select(
        "file_day",
        "n_rows",
        F.coalesce(F.sum("n_rows").over(wprev), F.lit(0)).alias("prior"),
    )
    tgt = F.floor(F.col("prior") / _COMPACT_TARGET)
    wt = W.partitionBy(tgt)
    return planned.select(
        "file_day",
        "n_rows",
        tgt.cast("long").alias("target_file"),
        F.count(F.lit(1)).over(wt).alias("files_merged"),
        F.sum("n_rows").over(wt).alias("target_rows"),
    )


# ---------------------------------------------------------------------------
# Partition-skew advisor for a candidate partitioning key.
# ---------------------------------------------------------------------------

_SKEW_HI = 1.25
_SKEW_LO = 0.75

SKEW_ORACLE = f"""
WITH parts AS (
  SELECT year(l_shipdate) * 100 + month(l_shipdate) AS part_key,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem GROUP BY 1
),
m AS (SELECT avg(CAST(n_rows AS DOUBLE)) AS mean_rows FROM parts)
SELECT CAST(part_key AS INTEGER) AS part_key, n_rows, n_orders,
       round(n_rows / mean_rows, 6) AS skew_ratio,
       CAST(n_rows / mean_rows > {_SKEW_HI} OR n_rows / mean_rows < {_SKEW_LO}
            AS INTEGER) AS skewed
FROM parts, m
"""


@query("q_partition_skew_advisor", SKEW_ORACLE)
def q_partition_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit for a candidate layout key (ship year-month):
    per-partition row and order counts, each partition's ratio to the mean,
    and a flag when it falls outside [{lo}, {hi}] x mean — the check run
    BEFORE committing a table layout, because one hot partition serializes
    every downstream stage (the straggler that AQE can split mid-query but
    a static layout bakes in forever; see SCALE.md on salting).

    Scale: one partial-aggregatable groupBy to |partitions| rows, one
    broadcast 1-row mean. The ratio is double division on exact integer
    counts, identical in both engines.""".format(lo=_SKEW_LO, hi=_SKEW_HI)
    li = load_table(spark, sf_dir, "lineitem")
    key = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("part_key")
    parts = li.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    mean = parts.agg(F.avg(F.col("n_rows").cast("double")).alias("mean_rows"))
    ratio = F.col("n_rows") / F.col("mean_rows")
    return parts.crossJoin(F.broadcast(mean)).select(
        F.col("part_key").cast("int").alias("part_key"),
        "n_rows",
        "n_orders",
        F.round(ratio, 6).alias("skew_ratio"),
        ((ratio > _SKEW_HI) | (ratio < _SKEW_LO)).cast("int").alias("skewed"),
    )
