"""Statistical aggregates + the vectorized-Python (Arrow) path.

Two coverage pieces:
- `q_stats_moments`: corr/covar/stddev/var — the built-in JVM statistical
  aggregates (single-pass, map-side partials).
- `q_pandas_udf_score`: a scalar Pandas UDF in the hot path, verified
  against a pure-SQL oracle — proving the Arrow batch transfer computes
  exactly what the JVM expression would (the reference has no UDF surface
  at all, SURVEY §2.6; this is the engine's sanctioned slow path, used by
  the multimodal/similarity operators when built-ins run out).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


MOMENTS_ORACLE = """
SELECT event_type,
       round(stddev_samp(value), 3)      AS sd_value,
       round(var_samp(value), 2)         AS var_value,
       round(corr(value, CAST(json_extract_string(props, '$.k') AS INT)), 4) AS corr_vk,
       round(covar_samp(value, CAST(json_extract_string(props, '$.k') AS INT)), 3) AS cov_vk
FROM events
GROUP BY event_type
"""


@query("q_stats_moments", MOMENTS_ORACLE)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per event type: stddev, variance,
    correlation and covariance between the value column and the JSON prop.
    All single-pass JVM aggregates with mergeable partial states (Welford-
    style) — the shuffle carries 5 numbers per group."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 3).alias("sd_value"),
        F.round(F.var_samp("value"), 2).alias("var_value"),
        F.round(F.corr(F.col("value"), k), 4).alias("corr_vk"),
        F.round(F.covar_samp(F.col("value"), k), 3).alias("cov_vk"),
    )


PANDAS_SCORE_ORACLE = """
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(CAST(n_chars AS DOUBLE) / 500.0 - 1.0))), 6) AS quality_sigmoid
FROM documents
"""


@query("q_pandas_udf_score", PANDAS_SCORE_ORACLE)
def q_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A scalar Pandas UDF (Arrow-batched sigmoid scorer) whose output must
    equal the pure-SQL formulation bit-for-bit — the correctness contract
    for dropping to Python. numpy's exp is the same libm double op both
    engines use, so the hash matches; anything data-dependent (randomness,
    dict order) would fail this gate by design."""
    import numpy as np

    @F.pandas_udf("double")
    def sigmoid_score(n_chars: pd.Series) -> pd.Series:
        x = n_chars.astype("float64") / 500.0 - 1.0
        return 1.0 / (1.0 + np.exp(-x))

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(sigmoid_score(F.col("n_chars")), 6).alias("quality_sigmoid")
    )


MAD_ORACLE = """
WITH med AS (
  SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
  FROM documents GROUP BY lang
),
dev AS (
  SELECT d.lang, m.med, abs(d.n_chars - m.med) AS adev
  FROM documents d JOIN med m ON d.lang = m.lang
),
mad AS (SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang)
SELECT dev.lang,
       round(max(dev.med), 4) AS med_chars,
       round(max(mad.mad), 4) AS mad_chars,
       CAST(sum(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.lang = mad.lang
GROUP BY dev.lang
"""


@query("q_outliers_mad", MAD_ORACLE)
def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per language: median absolute deviation
    (3·MAD rule) over document lengths — the outlier screen that, unlike
    z-scores, a handful of giant blobs can't poison. Two grouped exact
    medians (per-stratum, so no global sort) with the tiny per-lang
    results broadcast back; at 100 TB swap `percentile` for
    `percentile_approx` (mergeable sketch) and the plan shape is
    unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    med = docs.groupBy("lang").agg(
        F.expr("percentile(CAST(n_chars AS DOUBLE), 0.5)").alias("med")
    )
    dev = docs.join(F.broadcast(med), "lang").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = dev.groupBy("lang").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.round(F.max("med"), 4).alias("med_chars"),
            F.round(F.max("mad"), 4).alias("mad_chars"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Column profiling (data-quality summary, Deequ/Great-Expectations style).
# ---------------------------------------------------------------------------

def _profile_col_sql(name: str, num_expr: str | None) -> str:
    """One UNION ALL arm of the oracle: numeric columns report min/max on a
    shared DOUBLE axis (timestamps as epoch seconds), varchars as NULL."""
    if num_expr is None:
        mn = mx = "CAST(NULL AS DOUBLE)"
    else:
        mn = f"round(min({num_expr}), 6)"
        mx = f"round(max({num_expr}), 6)"
    return f"""
  SELECT '{name}' AS column_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct,
         {mn} AS min_num, {mx} AS max_num
  FROM orders"""


_PROFILE_COLS: list[tuple[str, str | None]] = [
    ("o_orderkey", "CAST(o_orderkey AS DOUBLE)"),
    ("o_custkey", "CAST(o_custkey AS DOUBLE)"),
    ("o_orderstatus", None),
    ("o_totalprice", "o_totalprice"),
    ("o_orderdate", "CAST(epoch(o_orderdate) AS DOUBLE)"),
    ("o_orderpriority", None),
]

PROFILE_ORACLE = "\nUNION ALL\n".join(
    _profile_col_sql(n, e) for n, e in _PROFILE_COLS
)


@query("q_profile_columns", PROFILE_ORACLE)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of `orders` (the Deequ-style
    audit every ingestion pipeline runs first): row count, null count,
    exact distinct count, and min/max on a shared numeric axis
    (timestamps as epoch seconds; varchar min/max omitted to keep the
    output monotyped). Computed as ONE aggregate pass over the table —
    the multiple exact COUNT(DISTINCT)s make Catalyst plan an Expand
    (one duplicated stream per distinct column), the standard plan for
    multi-distinct; at 100 TB swap them for approx_count_distinct and
    the Expand disappears, leaving a single partial-combinable scan.
    The profile row-set is built with inline(array(struct(...))) — no
    driver-side loop, no second scan."""
    orders = load_table(spark, sf_dir, "orders")

    num_exprs = {
        "o_orderkey": F.col("o_orderkey").cast("double"),
        "o_custkey": F.col("o_custkey").cast("double"),
        "o_totalprice": F.col("o_totalprice"),
        "o_orderdate": F.unix_timestamp("o_orderdate").cast("double"),
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, _ in _PROFILE_COLS:
        aggs.append(F.sum(F.col(name).isNull().cast("long")).alias(f"{name}__nulls"))
        aggs.append(F.countDistinct(name).alias(f"{name}__distinct"))
        if name in num_exprs:
            aggs.append(F.round(F.min(num_exprs[name]), 6).alias(f"{name}__min"))
            aggs.append(F.round(F.max(num_exprs[name]), 6).alias(f"{name}__max"))
    one = orders.agg(*aggs)

    structs = []
    for name, _ in _PROFILE_COLS:
        mn = F.col(f"{name}__min") if name in num_exprs else F.lit(None).cast("double")
        mx = F.col(f"{name}__max") if name in num_exprs else F.lit(None).cast("double")
        structs.append(
            F.struct(
                F.lit(name).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{name}__nulls").alias("n_nulls"),
                F.col(f"{name}__distinct").alias("n_distinct"),
                mn.alias("min_num"),
                mx.alias("max_num"),
            )
        )
    return one.select(F.inline(F.array(*structs)))


# ---------------------------------------------------------------------------
# Per-group linear trend (closed-form OLS aggregates).
# ---------------------------------------------------------------------------

TREND_ORACLE = """
SELECT event_type,
       CAST(regr_count(value, epoch_us(ts) / 86400000000.0) AS BIGINT) AS n,
       round(regr_slope(value, epoch_us(ts) / 86400000000.0), 4) AS slope_per_day,
       round(regr_intercept(value, epoch_us(ts) / 86400000000.0), 2) AS intercept,
       round(regr_r2(value, epoch_us(ts) / 86400000000.0), 4) AS r2
FROM events
GROUP BY event_type
"""


@query("q_regression_trend", TREND_ORACLE)
def q_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of the metric over time: OLS slope /
    intercept / R² via the closed-form regression aggregates (x = days
    since epoch). Like the moment statistics these are single-pass JVM
    aggregates with mergeable partials — the shuffle carries six numbers
    per group no matter how many rows feed them, so the plan is identical
    at 100 TB. Rounded before comparison because the partial-sum order
    differs between engines (same policy as q_stats_moments)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.unix_micros(F.col("ts")) / 86400000000.0
    y = F.col("value")
    return ev.groupBy("event_type").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope_per_day"),
        F.round(F.regr_intercept(y, x), 2).alias("intercept"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (data-quality pass over the star schema).
# ---------------------------------------------------------------------------

_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
)

REFAUDIT_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{child}.{ck}→{parent}' AS fk,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child_rows,
       CAST((SELECT count(*) FROM {child}
             WHERE {ck} NOT IN (SELECT {pk} FROM {parent})) AS BIGINT)
         AS n_orphans"""
    for child, ck, parent, pk in _FK_EDGES
)


@query("q_referential_audit", REFAUDIT_ORACLE)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every foreign key of the star
    schema: child row count + orphan count (children whose key has no
    parent) per edge. One scan per child TABLE, not per edge: all of a
    child's FK edges ride the same pass as broadcast LEFT joins against
    the parents' distinct key sets (≤1 match per row, so the row count
    is preserved), orphans fall out as conditional sums in a single
    aggregate, and the per-edge rows unpack from that 1-row aggregate
    with stack(). The earlier per-edge form (anti-join + count per edge)
    executed lineitem's count subtree three times and scanned it six —
    caught by `tools/audit.py exchange` (r6); at 100 TB this audit must
    cost exactly one pass over each fact table. This is the ingest gate
    a CDC-fed warehouse runs before publishing a snapshot — the
    reference trusts Postgres constraints for this
    (postgres.py:100–107); an object-store lakehouse has to CHECK it."""
    by_child: dict[str, list[tuple[str, str, str]]] = {}
    for child, ck, parent, pk in _FK_EDGES:
        by_child.setdefault(child, []).append((ck, parent, pk))
    out = None
    for child, edges in by_child.items():
        c = load_table(spark, sf_dir, child)
        for i, (ck, parent, pk) in enumerate(edges):
            p = (
                load_table(spark, sf_dir, parent)
                .select(F.col(pk).alias(f"__pk{i}"))
                .distinct()
            )
            c = c.join(F.broadcast(p), F.col(ck) == F.col(f"__pk{i}"), "left")
        agg = c.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            *[
                F.coalesce(
                    F.sum(F.when(F.col(f"__pk{i}").isNull(), 1).otherwise(0)),
                    F.lit(0),
                ).cast("bigint").alias(f"__orph{i}")
                for i in range(len(edges))
            ],
        )
        pairs = ", ".join(
            f"'{child}.{ck}→{parent}', __orph{i}"
            for i, (ck, parent, _pk) in enumerate(edges)
        )
        row = agg.select(
            F.expr(f"stack({len(edges)}, {pairs}) AS (fk, n_orphans)"),
            "n_child_rows",
        ).select("fk", "n_child_rows", "n_orphans")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Quantile (rank) normalization per group.
# ---------------------------------------------------------------------------

QNORM_ORACLE = """
SELECT event_id, event_type, value,
       round(percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id), 6) AS value_pctl
FROM events
"""


@query("q_quantile_normalize", QNORM_ORACLE)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalize the metric within its event type: every value maps
    to its within-group percentile in [0, 1] — the distribution-free
    feature scaling that survives outliers (compare [[q_outliers_mad]]).
    event_id breaks value ties so both engines rank identically. One
    shuffle on the group key; per-group sort is the window's — at 100 TB
    the group must fit a task's spill budget, or swap to approximate
    percentiles ([[q_approx_quantiles]]) joined back as bucket edges."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("value_pctl"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (segment x nation contingency table).
# ---------------------------------------------------------------------------

CHI2_ORACLE = """
WITH obs AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat, CAST(count(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2
),
rows_m AS (SELECT seg, sum(o) AS row_tot FROM obs GROUP BY seg),
cols_m AS (SELECT nat, sum(o) AS col_tot FROM obs GROUP BY nat),
tot AS (SELECT sum(o) AS n FROM obs),
cells AS (
  SELECT r.seg, c.nat, coalesce(obs.o, 0) AS o,
         CAST(r.row_tot AS DOUBLE) * c.col_tot / n AS e
  FROM rows_m r CROSS JOIN cols_m c CROSS JOIN tot
  LEFT JOIN obs ON obs.seg = r.seg AND obs.nat = c.nat
)
SELECT seg, nat, o,
       round(e, 6) AS expected,
       round((o - e) * (o - e) / e, 6) AS chi2_term,
       round(sum((o - e) * (o - e) / e) OVER (), 4) AS chi2_stat
FROM cells
"""


@query("q_chi_square_independence", CHI2_ORACLE)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence on the (market segment x
    nation) contingency table: per-cell expected counts from the margin
    products and the global chi2 statistic attached to every cell — the
    standard drift/association check a feature-audit pass runs over
    categorical training columns (is segment independent of geography?).

    Scale: ONE partial-aggregatable groupBy builds the contingency table
    (output bounded by |segments| x |nations|, never row count); margins
    are windows over that tiny table, so the row-count-proportional work
    is a single map-side-combined count. Extends [[q_stats_moments]];
    reference has no statistics surface at all."""
    cust = load_table(spark, sf_dir, "customer")
    obs = (
        cust.groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # DENSE grid from the margin product: a (seg, nat) combo with zero
    # observations still contributes (0-e)^2/e = e to the statistic —
    # restricting to observed cells silently understates chi2
    rows_m = obs.groupBy("seg").agg(F.sum("o").alias("row_tot"))
    cols_m = obs.groupBy("nat").agg(F.sum("o").alias("col_tot"))
    tot = obs.agg(F.sum("o").alias("n"))
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    grid = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["seg", "nat"], "left")
        .select(
            "seg", "nat", F.coalesce(F.col("o"), F.lit(0)).alias("o"), e.alias("e")
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    cells = grid.select("seg", "nat", "o", "e", term.alias("t"))
    return cells.select(
        "seg",
        "nat",
        "o",
        F.round("e", 6).alias("expected"),
        F.round("t", 6).alias("chi2_term"),
        F.round(F.sum("t").over(W.partitionBy()), 4).alias("chi2_stat"),
    )


# ---------------------------------------------------------------------------
# Pairwise correlation matrix in one pass.
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

CORRM_ORACLE = " UNION ALL ".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b, round(corr({a}, {b}), 6) AS pearson_r"
    f" FROM lineitem"
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
)


@query("q_correlation_matrix", CORRM_ORACLE)
def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Pearson correlation matrix over the numeric lineitem
    measures, computed in ONE aggregation pass: every corr(a,b) is a
    partial-aggregatable moment sketch (sum, sum of squares, co-moments),
    so 6 pairs cost one scan and one 1-row shuffle — the feature-redundancy
    screen run before training (highly correlated columns waste model
    capacity; |r|~1 pairs are drop candidates).

    Scale: single map-side-combined aggregate to ONE row regardless of
    data size; the unpivot to (col_a, col_b, r) rows is driver-free
    stack() over that row. Complements [[q_embedding_covariance]] (dense
    vector Gram) with the named-column flavor."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    agg = li.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"{a}__{b}")
            for a, b in pairs
        ]
    )
    stack_expr = ", ".join(f"'{a}', '{b}', {a}__{b}" for a, b in pairs)
    return agg.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) AS (col_a, col_b, pearson_r)"
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance between segment distributions.
# ---------------------------------------------------------------------------

KS_ORACLE = """
WITH s AS (
  SELECT c_acctbal AS v, CAST(c_mktsegment = 'BUILDING' AS INTEGER) AS in_a
  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
),
tot AS (
  SELECT sum(in_a) AS n_a, sum(1 - in_a) AS n_b FROM s
),
walk AS (
  SELECT v,
         CAST(sum(in_a) OVER (ORDER BY v, in_a) AS DOUBLE) AS ca,
         CAST(sum(1 - in_a) OVER (ORDER BY v, in_a) AS DOUBLE) AS cb
  FROM s
),
steps AS (
  SELECT v, max(ca) AS ca, max(cb) AS cb FROM walk GROUP BY v
)
SELECT round(max(abs(ca / n_a - cb / n_b)), 6) AS ks_d,
       CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
FROM steps, tot
"""


@query("q_ks_two_sample", KS_ORACLE)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the account-balance
    distributions of two customer segments: D = max over values of
    |ECDF_a - ECDF_b|, THE standard distribution-drift detector between a
    training slice and a serving slice. Computed as one ordered cumulative
    walk over the unioned sample (cumulative per-group counts at each
    value), collapsed per distinct value so ties contribute their final
    ECDF step, then a global max.

    Scale: the cumulative walk is the two-pass range-partitioned prefix
    sum of functions/distributed.py (same plan as [[q_running_total]]) —
    never a data-proportional single-partition window — with BOTH group
    counters carried through one ranged pass (one checkpoint, one offsets
    aggregate). Tie rows share (v, in_a) keys, which is safe here: prefix
    sums are tie-order-invariant once collapsed per distinct value. The
    per-value collapse and the max are partial-aggregatable. D lands on
    ratio-of-integer arithmetic, so the cross-engine hash is exact after
    one round."""
    from ..functions.distributed import _prev, _ranged

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    s = cust.select(
        F.col("c_acctbal").alias("v"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("in_a"),
    )
    part = _ranged(s, [F.col("v"), F.col("in_a")], None)
    offs = (
        part.groupBy("_pid")
        .agg(
            F.sum("in_a").alias("_ta"),
            F.sum(1 - F.col("in_a")).alias("_tb"),
        )
        .select(
            "_pid",
            F.coalesce(F.sum("_ta").over(_prev()), F.lit(0)).alias("_offa"),
            F.coalesce(F.sum("_tb").over(_prev()), F.lit(0)).alias("_offb"),
        )
    )
    wl = (
        W.partitionBy("_pid")
        .orderBy("v", "in_a")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    walk = part.join(F.broadcast(offs), "_pid").select(
        "v",
        (F.sum("in_a").over(wl) + F.col("_offa")).cast("double").alias("ca"),
        (F.sum(1 - F.col("in_a")).over(wl) + F.col("_offb"))
        .cast("double")
        .alias("cb"),
    )
    steps = walk.groupBy("v").agg(F.max("ca").alias("ca"), F.max("cb").alias("cb"))
    tot = s.agg(
        F.sum("in_a").alias("n_a"), F.sum(1 - F.col("in_a")).alias("n_b")
    )
    return steps.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.max(
                F.abs(
                    F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b")
                )
            ),
            6,
        ).alias("ks_d"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index: distribution drift between two periods.
# ---------------------------------------------------------------------------

_PSI_BINS = 10

PSI_ORACLE = f"""
WITH pop AS (
  SELECT o_totalprice AS x,
         CAST(year(o_orderdate) = 1996 AS INTEGER) AS is_base
  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
),
rng AS (SELECT min(x) AS lo, max(x) AS hi FROM pop),
binned AS (
  SELECT CAST(least({_PSI_BINS - 1},
               CAST(floor((x - lo) / (hi - lo) * {_PSI_BINS}) AS INTEGER)) AS INTEGER) AS bin,
         is_base
  FROM pop, rng
),
counts0 AS (
  SELECT bin,
         CAST(sum(is_base) AS BIGINT) AS n_base,
         CAST(sum(1 - is_base) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
-- densify to the full 0..{_PSI_BINS - 1} grid: a bin empty in BOTH periods
-- still carries a nonzero smoothed term, and the denominator below assumes
-- all {_PSI_BINS} bins are present (r4 ADVICE item 3)
counts AS (
  SELECT CAST(g.range AS INTEGER) AS bin,
         CAST(coalesce(c.n_base, 0) AS BIGINT) AS n_base,
         CAST(coalesce(c.n_cur, 0) AS BIGINT) AS n_cur
  FROM range({_PSI_BINS}) g LEFT JOIN counts0 c ON c.bin = g.range
),
tot AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM counts),
terms AS (
  SELECT bin, n_base, n_cur,
         (n_base + 0.5) / (tb + {_PSI_BINS} * 0.5) AS p,
         (n_cur + 0.5) / (tc + {_PSI_BINS} * 0.5) AS q
  FROM counts, tot
)
SELECT bin, n_base, n_cur,
       round((p - q) * round(ln(p / q), 9), 9) AS psi_term,
       round(sum((p - q) * round(ln(p / q), 9)) OVER (), 6) AS psi_total
FROM terms
"""


@query("q_psi_drift", PSI_ORACLE)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the 1996 and 1997 order-price
    distributions over {b} equal-width bins: PSI = sum (p-q) ln(p/q) with
    half-count smoothing — the banking-standard drift score (>0.25 =
    re-fit the model) complementing [[q_ks_two_sample]]'s
    distribution-free D with a binned, additive-per-bin diagnostic that
    says WHERE the mass moved.

    Scale: one pass bins both periods simultaneously (0/1 flag algebra,
    map-side combinable to {b} rows); the range and totals are broadcast
    1-row aggregates. ln parity follows the [[q_kaplan_meier]] discipline:
    round each ln to 1e-9 before the bounded window sum.""".format(
        b=_PSI_BINS
    )
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    # Range form, not year(..) IN (..): the wrapper defeated parquet
    # pushdown on all four scans of this plan (`tools/audit.py pushdown`,
    # r6); the half-open range on the raw column pushes and row-group
    # stats skip the other years at scale.
    pop = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(
        F.col("o_totalprice").alias("x"), (yr == 1996).cast("int").alias("is_base")
    )
    rng = pop.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = pop.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor(
                (F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * _PSI_BINS
            ).cast("int"),
        ).alias("bin"),
        "is_base",
    )
    counts0 = binned.groupBy("bin").agg(
        F.sum("is_base").cast("long").alias("n_base"),
        F.sum(1 - F.col("is_base")).cast("long").alias("n_cur"),
    )
    # Densify to the full 0..B-1 grid (r4 ADVICE item 3): a bin empty in
    # both periods still contributes its smoothed (p-q)ln(p/q) term, and
    # the +B*0.5 denominator assumes all B bins are present.
    grid = spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    counts = grid.join(F.broadcast(counts0), "bin", "left").select(
        "bin",
        F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
    )
    tot = counts.agg(F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc"))
    p = (F.col("n_base") + 0.5) / (F.col("tb") + _PSI_BINS * 0.5)
    q = (F.col("n_cur") + 0.5) / (F.col("tc") + _PSI_BINS * 0.5)
    term = (p - q) * F.round(F.log(p / q), 9)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bin", "n_base", "n_cur", F.round(term, 9).alias("psi_term"), term.alias("_t")
    )
    return terms.select(
        "bin",
        "n_base",
        "n_cur",
        "psi_term",
        F.round(F.sum("_t").over(W.partitionBy()), 6).alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# Classifier evaluation: exact ROC-AUC via the Mann-Whitney rank form.
# ---------------------------------------------------------------------------


def _auc_oracle() -> str:
    from .text import CLASSIFIER_ORACLE

    return f"""
WITH scored AS ({CLASSIFIER_ORACLE}),
lab AS (
  SELECT s.quality_score AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM scored s JOIN documents d USING (doc_id)
),
grp AS (
  SELECT sc, CAST(count(*) AS BIGINT) AS c, CAST(sum(pos) AS BIGINT) AS p
  FROM lab GROUP BY sc
),
cum AS (
  SELECT sc, c, p,
         CAST(coalesce(sum(c) OVER (
           ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS below
  FROM grp
),
agg AS (
  SELECT CAST(sum(p * (2 * below + c + 1)) AS BIGINT) AS r2,
         CAST(sum(p) AS BIGINT) AS npos,
         CAST(sum(c - p) AS BIGINT) AS nneg
  FROM cum
)
SELECT npos AS n_pos, nneg AS n_neg,
       round((r2 - npos * (npos + 1)) / (2.0 * npos * nneg), 6) AS auc,
       round((r2 - npos * (npos + 1)) / (1.0 * npos * nneg) - 1.0, 6) AS gini
FROM agg
"""


AUC_ORACLE = _auc_oracle()


@query("q_classifier_auc", AUC_ORACLE)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of [[text_quality_classifier]]'s score against the
    corpus ground truth (lang = 'en', the probe's anglocentric stopword
    prior makes this its de-facto target domain) — the eval gate run
    before any learned filter is trusted in a curation pipeline. Uses the
    Mann-Whitney U rank form with mid-rank tie handling, kept in doubled
    integers (2-R-plus = sum over tie groups of p*(2*below + c + 1)) so
    the statistic is exact and engine-independent; Gini = 2-AUC-1 ships
    alongside.

    Scale: one corpus-sized groupBy collapses scores to tie groups; the
    quality score is quantized to 4dp, so the grouped table is bounded at
    ~10^4 rows regardless of corpus size and the running-count window
    over it is calendar-bounded-style safe (never data-proportional).
    The doubled rank sum fits int64 up to ~10^9 rows per evaluation
    slice; beyond that, shard the eval by split and average."""
    from .text import text_quality_classifier

    scored = text_quality_classifier(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
    )
    lab = scored.join(docs, "doc_id")
    grp = lab.groupBy(F.col("quality_score").alias("sc")).agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("p")
    )
    wnd = W.orderBy("sc").rowsBetween(W.unboundedPreceding, -1)
    cum = grp.withColumn(
        "below", F.coalesce(F.sum("c").over(wnd), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum(
            F.col("p") * (2 * F.col("below") + F.col("c") + 1)
        ).alias("r2"),
        F.sum("p").alias("npos"),
        F.sum(F.col("c") - F.col("p")).alias("nneg"),
    )
    raw = F.col("r2") - F.col("npos") * (F.col("npos") + 1)
    return agg.select(
        F.col("npos").alias("n_pos"),
        F.col("nneg").alias("n_neg"),
        F.round(raw / (2.0 * F.col("npos") * F.col("nneg")), 6).alias("auc"),
        F.round(
            raw / (1.0 * F.col("npos") * F.col("nneg")) - 1.0, 6
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Decision-stump training: exact Gini split search over quality features.
# ---------------------------------------------------------------------------

_STUMP_FEATS = ("avg_token_len", "n_tokens", "punct_ratio", "stopword_ratio")


def _stump_oracle() -> str:
    from ..functions.textfns import tokens_sql
    from .text import _SW_LIST_SQL

    feats = f"""
SELECT doc_id,
       CAST(len(toks) AS DOUBLE) AS n_tokens,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS avg_token_len,
       round(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 4) AS punct_ratio,
       round(CAST(len(list_filter(toks, t -> list_contains({_SW_LIST_SQL}, t))) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS stopword_ratio,
       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
FROM (SELECT doc_id, text, lang, {tokens_sql("text")} AS toks FROM documents)
"""
    melted = "\nUNION ALL\n".join(
        f"SELECT '{f}' AS feature, {f} AS val, y FROM f" for f in _STUMP_FEATS
    )
    return f"""
WITH f AS ({feats}),
m AS ({melted}),
g AS (
  SELECT feature, val, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(y) AS BIGINT) AS p
  FROM m GROUP BY feature, val
),
cum AS (
  SELECT feature, val,
         CAST(sum(c) OVER w AS BIGINT) AS nl,
         CAST(sum(p) OVER w AS BIGINT) AS pl,
         CAST(sum(c) OVER t AS BIGINT) AS n,
         CAST(sum(p) OVER t AS BIGINT) AS pos
  FROM g
  WINDOW w AS (PARTITION BY feature ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         t AS (PARTITION BY feature)
),
cost AS (
  SELECT feature, val AS threshold, nl AS n_left, n - nl AS n_right,
         pl AS pos_left, pos - pl AS pos_right, n,
         (nl * nl - (pl * pl + (nl - pl) * (nl - pl))) * (n - nl)
         + ((n - nl) * (n - nl)
            - ((pos - pl) * (pos - pl)
               + ((n - nl) - (pos - pl)) * ((n - nl) - (pos - pl)))) * nl
           AS gini_num,
         nl * (n - nl) AS gini_den
  FROM cum WHERE n - nl > 0
),
best AS (
  SELECT *, row_number() OVER (
              PARTITION BY feature
              ORDER BY gini_num * 1.0 / gini_den, threshold) AS rk
  FROM cost
)
SELECT feature, threshold, n_left, n_right, pos_left, pos_right,
       gini_num, gini_den,
       round(gini_num * 1.0 / gini_den / n, 6) AS wgini,
       CAST(row_number() OVER (
              ORDER BY gini_num * 1.0 / gini_den, feature) = 1 AS INT)
         AS is_global_best
FROM best WHERE rk = 1
"""


STUMP_ORACLE = _stump_oracle()


@query("q_decision_stump", STUMP_ORACLE)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-1 decision tree in-engine: for each quality feature
    of [[text_quality_stats]], scan every distinct threshold and pick the
    split minimizing weighted Gini impurity for the lang='en' target —
    the white-box baseline a pipeline fits BEFORE reaching for a learned
    quality filter, and the exact building block of tree ensembles. One
    row per feature (its best split + class counts per side) with the
    global winner flagged.

    Exactness: weighted Gini for a split is the rational
    [(nl^2-pl^2-ql^2)*nr + (nr^2-pr^2-qr^2)*nl] / (nl*nr*n) — numerator
    and denominator are emitted as exact int64 columns, and the ordering
    key is their IEEE-double ratio: identical integer inputs divide to
    the identical double in both engines, so the argmin (ties: smaller
    threshold, then feature name) is engine-independent. Numerator fits
    int64 up to ~10^6-row evaluation slices; features quantize to 4dp,
    so the candidate table stays bounded (~4x10^4 rows) at any corpus
    size. A constant feature (e.g. punct_ratio on a punctuation-free
    corpus) has no valid split and emits no row.

    Scale: one corpus scan melts 4 features via stack() (no extra scans),
    one groupBy collapses to the bounded candidate table, and every
    window after that runs over it — prefix sums partitioned per feature,
    never data-proportional."""
    from .text import text_quality_stats

    feats = text_quality_stats(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    )
    stack_expr = ", ".join(
        f"'{f}', CAST({f} AS DOUBLE)" for f in _STUMP_FEATS
    )
    m = feats.join(docs, "doc_id").select(
        F.expr(
            f"stack({len(_STUMP_FEATS)}, {stack_expr}) AS (feature, val)"
        ),
        "y",
    )
    g = m.groupBy("feature", "val").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("p")
    )
    wcum = (
        W.partitionBy("feature")
        .orderBy("val")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("feature")
    cum = g.select(
        "feature",
        "val",
        F.sum("c").over(wcum).alias("nl"),
        F.sum("p").over(wcum).alias("pl"),
        F.sum("c").over(wtot).alias("n"),
        F.sum("p").over(wtot).alias("pos"),
    )
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("n") - nl
    pr = F.col("pos") - pl
    num = (
        (nl * nl - (pl * pl + (nl - pl) * (nl - pl))) * nr
        + (nr * nr - (pr * pr + (nr - pr) * (nr - pr))) * nl
    )
    scored = cum.filter(nr > 0).select(
        "feature",
        F.col("val").alias("threshold"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        pl.alias("pos_left"),
        pr.alias("pos_right"),
        num.alias("gini_num"),
        (nl * nr).alias("gini_den"),
        F.col("n"),
    )
    ratio = F.col("gini_num") * 1.0 / F.col("gini_den")
    rk = F.row_number().over(
        W.partitionBy("feature").orderBy(ratio, "threshold")
    )
    best = scored.withColumn("rk", rk).filter(F.col("rk") == 1).drop("rk")
    grk = F.row_number().over(W.orderBy(ratio, "feature"))
    return best.select(
        "feature",
        "threshold",
        "n_left",
        "n_right",
        "pos_left",
        "pos_right",
        "gini_num",
        "gini_den",
        F.round(ratio / F.col("n"), 6).alias("wgini"),
        (grk == 1).cast("int").alias("is_global_best"),
    )


# ---------------------------------------------------------------------------
# Calibration curve + Brier score for the quality classifier.
# ---------------------------------------------------------------------------

_CAL_BINS = 10


def _calibration_oracle() -> str:
    from .text import CLASSIFIER_ORACLE

    return f"""
WITH scored AS ({CLASSIFIER_ORACLE}),
lab AS (
  SELECT CAST(least(CAST(floor(s.quality_score * {_CAL_BINS}) AS INT),
                    {_CAL_BINS - 1}) AS INT) AS bin,
         s.quality_score AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       round(CAST(sum(CAST(round(sc * 10000) AS BIGINT)) AS BIGINT)
             / count(*) / 10000.0, 6) AS mean_pred,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
       round(CAST(sum(CAST(round((sc - y) * (sc - y) * 100000000) AS BIGINT))
                  AS BIGINT) / count(*) / 100000000.0, 6) AS brier
FROM lab GROUP BY bin
"""


CALIBRATION_ORACLE = _calibration_oracle()


@query("q_calibration_curve", CALIBRATION_ORACLE)
def q_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for [[text_quality_classifier]] against the
    lang='en' target: 10 equal-width score bins, each with its mean
    predicted probability, observed positive rate, and per-bin Brier
    score — the calibration audit that tells a pipeline whether a
    filter's scores can be thresholded by probability or only ranked
    (pairs with [[q_classifier_auc]], which measures ranking alone).

    Exactness: mean_pred folds 4dp scores scaled to exact 1e4 integers
    and brier folds (sc-y)^2 scaled to exact 1e8 integers before the one
    division+round each, so bin statistics are engine-independent.

    Scale: a single map + groupBy over {_CAL_BINS} fixed bins — map-side
    combinable, output size constant in the corpus."""
    from .text import text_quality_classifier

    scored = text_quality_classifier(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    )
    sc = F.col("quality_score")
    lab = scored.join(docs, "doc_id").select(
        F.least(
            F.floor(sc * _CAL_BINS).cast("int"), F.lit(_CAL_BINS - 1)
        ).alias("bin"),
        sc.alias("sc"),
        "y",
    )
    n = F.count(F.lit(1))
    return lab.groupBy("bin").agg(
        n.alias("n"),
        F.sum("y").alias("n_pos"),
        F.round(
            F.sum(F.round(F.col("sc") * 10000).cast("long")) / n / 10000.0, 6
        ).alias("mean_pred"),
        F.round(F.sum("y").cast("double") / n, 6).alias("frac_pos"),
        F.round(
            F.sum(
                F.round(
                    (F.col("sc") - F.col("y"))
                    * (F.col("sc") - F.col("y"))
                    * 100000000
                ).cast("long")
            )
            / n
            / 100000000.0,
            6,
        ).alias("brier"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test between two segments.
# ---------------------------------------------------------------------------

_TT_A, _TT_B = "BUILDING", "MACHINERY"

WELCH_ORACLE = f"""
WITH j AS (
  SELECT c_mktsegment AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{_TT_A}', '{_TT_B}')
), g AS (
  SELECT seg,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(c) AS HUGEINT) AS DOUBLE) AS s1,
         CAST(CAST(sum(c * c) AS HUGEINT) AS DOUBLE) AS s2
  FROM j GROUP BY seg
), m AS (
  SELECT seg, n, s1 / n / 100.0 AS mean,
         (s2 - s1 * s1 / n) / (n - 1) / 10000.0 AS var
  FROM g
), w AS (
  SELECT max(CASE WHEN seg = '{_TT_A}' THEN n END) AS n_a,
         max(CASE WHEN seg = '{_TT_B}' THEN n END) AS n_b,
         max(CASE WHEN seg = '{_TT_A}' THEN mean END) AS m_a,
         max(CASE WHEN seg = '{_TT_B}' THEN mean END) AS m_b,
         max(CASE WHEN seg = '{_TT_A}' THEN var END) AS v_a,
         max(CASE WHEN seg = '{_TT_B}' THEN var END) AS v_b
  FROM m
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_stat,
       round((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
             / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                + (v_b / n_b) * (v_b / n_b) / (n_b - 1)), 3) AS welch_df,
       CAST(abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) > 1.96
            AS INTEGER) AS significant_95
FROM w
"""


@query("q_welch_ttest", WELCH_ORACLE)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean order value between
    two customer segments — the A/B-comparison primitive a data pipeline
    runs before trusting that a slice difference (or an experiment arm)
    is real and not noise. Emits both group means, the t statistic, the
    Welch-Satterthwaite degrees of freedom, and a 95% significance flag.

    Exactness: sums of cents and of squared cents are exact integers
    (decimal(38,0) in Spark, HUGEINT in DuckDB — squared cents overflow
    int64 when summed), converted to double only once; from identical
    doubles both engines compute identical t/df, rounded in-query.

    Scale: ONE aggregation pass over the joined fact table collapses to a
    2-row moment table (n, sum, sum-of-squares per arm — all map-side
    combinable partials); the test statistic is O(1) scalar math over
    those 6 numbers. Adding arms or metrics widens the partial, never
    adds a pass."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(_TT_A, _TT_B)
    )
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    g = j.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n") / 100.0
    var = (
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
        / 10000.0
    )
    m = g.select("seg", "n", mean.alias("mean"), var.alias("var"))
    pick = lambda seg, c: F.max(F.when(F.col("seg") == seg, F.col(c)))  # noqa: E731
    w = m.agg(
        pick(_TT_A, "n").alias("n_a"),
        pick(_TT_B, "n").alias("n_b"),
        pick(_TT_A, "mean").alias("m_a"),
        pick(_TT_B, "mean").alias("m_b"),
        pick(_TT_A, "var").alias("v_a"),
        pick(_TT_B, "var").alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(se2)
    df = (se2 * se2) / (
        (F.col("v_a") / F.col("n_a")) * (F.col("v_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
        + (F.col("v_b") / F.col("n_b")) * (F.col("v_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
    )
    return w.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 3).alias("welch_df"),
        (F.abs(t) > 1.96).cast("int").alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns.
# ---------------------------------------------------------------------------

MI_ORACLE = """
WITH cell AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_xy
  FROM documents GROUP BY lang, source
), marg AS (
  SELECT lang, source, n_xy,
         sum(n_xy) OVER (PARTITION BY lang)   AS n_x,
         sum(n_xy) OVER (PARTITION BY source) AS n_y,
         sum(n_xy) OVER ()                    AS n
  FROM cell
), terms AS (
  SELECT lang, source, n_xy,
         round((CAST(n_xy AS DOUBLE) / n)
               * ln(CAST(n_xy AS DOUBLE) * n / (CAST(n_x AS DOUBLE) * n_y)),
               9) AS mi_term
  FROM marg
)
SELECT lang, source, n_xy, mi_term,
       round(sum(mi_term) OVER (), 6) AS mi_total
FROM terms
"""


@query("q_mutual_information", MI_ORACLE)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical document attributes
    (lang, source): per-cell contributions p(x,y)·ln(p(x,y)/(p(x)p(y)))
    and the total MI in nats — the dependence screen a pipeline runs to
    learn whether a metadata column carries signal about another (near-0:
    drop or sample freely; high: stratify by it, cf. [[q_dataset_split]]).
    Empty cells contribute nothing (the 0·ln0 = 0 convention), so only
    observed cells appear.

    Exactness: every ratio is integer/integer from one count table; the
    ln term rounds at 1e-9 before the total sums the rounded terms
    (repo-wide ulp discipline for transcendentals).

    Scale: one groupBy collapses the corpus to the contingency table
    (langs × sources — bounded by attribute cardinality, not rows); all
    three margin windows run over that bounded table only."""
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_xy"))
    marg = cell.select(
        "lang",
        "source",
        "n_xy",
        F.sum("n_xy").over(W.partitionBy("lang")).alias("n_x"),
        F.sum("n_xy").over(W.partitionBy("source")).alias("n_y"),
        F.sum("n_xy").over(W.partitionBy()).alias("n"),
    )
    term = F.round(
        (F.col("n_xy").cast("double") / F.col("n"))
        * F.log(
            F.col("n_xy").cast("double")
            * F.col("n")
            / (F.col("n_x").cast("double") * F.col("n_y"))
        ),
        9,
    )
    return marg.select(
        "lang",
        "source",
        "n_xy",
        term.alias("mi_term"),
    ).withColumn("mi_total", F.round(F.sum("mi_term").over(W.partitionBy()), 6))


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap confidence interval.
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) CDF at k = 0..3; u >= the last threshold clamps to 4.
_POIS_CDF = (0.367879441, 0.735758882, 0.919698603, 0.981011843)


def _bootstrap_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    key = "o_orderkey || ':' || b"
    u = f"(({md5_long_sql(key)}) % 1000000 + 0.5) / 1000000.0"
    case = (
        f"CASE WHEN u < {_POIS_CDF[0]} THEN 0"
        f" WHEN u < {_POIS_CDF[1]} THEN 1"
        f" WHEN u < {_POIS_CDF[2]} THEN 2"
        f" WHEN u < {_POIS_CDF[3]} THEN 3 ELSE 4 END"
    )
    return f"""
WITH draw AS (
  SELECT b, {u} AS u, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b)
), wtd AS (
  SELECT b, {case} AS w, c FROM draw
), res AS (
  SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
         round(CAST(sum(w * c) AS BIGINT) / 100.0 / sum(w), 6) AS mean_b
  FROM wtd GROUP BY b
), ranked AS (
  SELECT b, n_eff, mean_b,
         row_number() OVER (ORDER BY mean_b, b) AS rn
  FROM res
)
SELECT b, n_eff, mean_b,
       round(max(CASE WHEN rn <= 2 THEN mean_b END) OVER (), 6) AS ci_lo,
       round(min(CASE WHEN rn >= {_BOOT_B - 1} THEN mean_b END) OVER (), 6)
         AS ci_hi
FROM ranked
"""


BOOTSTRAP_ORACLE = _bootstrap_oracle()


@query("q_bootstrap_ci", BOOTSTRAP_ORACLE)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., the MapReduce-era bootstrap)
    confidence interval for mean order value: each of B=32 resamples
    weights every row by an independent Poisson(1) draw — derandomized
    through the md5 inverse-CDF trick of [[q_dp_noisy_counts]] so both
    engines (and reruns) draw identical weights — and the CI is read off
    the order statistics of the resample means (2nd and 31st of 32 ≈ a
    90% interval). THE way to put error bars on a corpus statistic at
    100 TB: no resample materializes, sampling-with-replacement becomes a
    per-row weight.

    Exactness: weights and cent-values are integers, so each resample
    mean is a ratio of exact integers; sum(w*c) stays far under int64.

    Scale: the explode inflates the scan B× but stays map-local (no
    shuffle until the B-row aggregate — partial aggs collapse each
    partition to B rows first); the rank/CI windows run over the B-row
    frame, a constant. Widening to per-segment CIs adds the segment to
    the groupBy key, nothing else."""
    from ..functions.hashing import md5_long

    # r6 added a repartition(defaultParallelism) here to spread the
    # explode off the fixture's single row group; the r7 interleaved A/B
    # (reps=10, same session, sf0.1 — SCALE.md "q_bootstrap_ci A/B")
    # measured that spread 2.0x SLOWER warm (min 0.543s vs 0.274s): the
    # extra full-table shuffle costs more than the single-task explode
    # saves at this size, and at real scale the concern vanishes on its
    # own — a 100 TB orders table scans as many thousands of row groups,
    # so the B-fold explode is already spread across tasks with zero
    # added shuffle. Map-local form restored.
    orders = load_table(spark, sf_dir, "orders")
    draw = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        md5_long(F.concat(F.col("o_orderkey").cast("string"), F.lit(":"), F.col("b")))
        % 1000000
        + 0.5
    ) / 1000000.0
    w = (
        F.when(u < _POIS_CDF[0], 0)
        .when(u < _POIS_CDF[1], 1)
        .when(u < _POIS_CDF[2], 2)
        .when(u < _POIS_CDF[3], 3)
        .otherwise(4)
    )
    res = (
        draw.select("b", w.alias("w"), "c")
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("c")) / 100.0 / F.sum("w"), 6
            ).alias("mean_b"),
        )
    )
    rn = F.row_number().over(W.orderBy("mean_b", "b"))
    ranked = res.withColumn("rn", rn)
    return ranked.select(
        F.col("b").cast("long").alias("b"),
        "n_eff",
        "mean_b",
        F.round(
            F.max(F.when(F.col("rn") <= 2, F.col("mean_b"))).over(W.partitionBy()),
            6,
        ).alias("ci_lo"),
        F.round(
            F.min(
                F.when(F.col("rn") >= _BOOT_B - 1, F.col("mean_b"))
            ).over(W.partitionBy()),
            6,
        ).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA across all market segments.
# ---------------------------------------------------------------------------

ANOVA_ORACLE = """
WITH j AS (
  SELECT c_mktsegment AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders JOIN customer ON o_custkey = c_custkey
), g AS (
  SELECT seg,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(c) AS HUGEINT) AS DOUBLE) AS s1,
         CAST(CAST(sum(c * c) AS HUGEINT) AS DOUBLE) AS s2
  FROM j GROUP BY seg
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(n) AS n_tot, sum(s1) AS s1_tot, sum(s2) AS s2_tot,
         sum(s1 * s1 / n) AS sq_grp
  FROM g
), ss AS (
  SELECT k, CAST(n_tot AS BIGINT) AS n_total,
         (sq_grp - s1_tot * s1_tot / n_tot) / 10000.0 AS ssb,
         (s2_tot - sq_grp) / 10000.0 AS ssw,
         (s2_tot - s1_tot * s1_tot / n_tot) / 10000.0 AS sst
  FROM t
)
SELECT k, n_total,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n_total - k AS BIGINT) AS df_within,
       round((ssb / (k - 1)) / (ssw / (n_total - k)), 6) AS f_stat,
       round(ssb / sst, 9) AS eta_squared
FROM ss
"""


@query("q_anova_oneway", ANOVA_ORACLE)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of mean order value across ALL market
    segments — the k-group generalization of [[q_welch_ttest]]: decompose
    total variance into between-group and within-group sums of squares
    and report F plus the effect size η² (the share of variance the
    grouping explains — near 0 means the column is noise as a stratifier,
    cf. [[q_mutual_information]] for the categorical-categorical analog).

    Exactness: the identities SSB = Σs²_g/n_g − S²/N and SSW = ΣΣx² −
    Σs²_g/n_g need only (n, Σx, Σx²) per group — summed exactly as
    integers (decimal(38,0)/HUGEINT) and converted to double once.

    Scale: ONE aggregation pass collapses the fact table to k moment rows
    (map-side combinable); the F statistic is scalar math over the k-row
    frame. This is the textbook 'statistics as partial aggregates'
    shape — it never re-scans per group."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    g = j.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s1").alias("s1_tot"),
        F.sum("s2").alias("s2_tot"),
        F.sum(F.col("s1") * F.col("s1") / F.col("n")).alias("sq_grp"),
    )
    ssb = (F.col("sq_grp") - F.col("s1_tot") * F.col("s1_tot") / F.col("n_tot")) / 10000.0
    ssw = (F.col("s2_tot") - F.col("sq_grp")) / 10000.0
    sst = (
        F.col("s2_tot") - F.col("s1_tot") * F.col("s1_tot") / F.col("n_tot")
    ) / 10000.0
    return t.select(
        "k",
        F.col("n_tot").cast("long").alias("n_total"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n_tot") - F.col("k")).cast("long").alias("df_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_tot") - F.col("k"))), 6
        ).alias("f_stat"),
        F.round(ssb / sst, 9).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie-corrected, exact).
# ---------------------------------------------------------------------------

SPEARMAN_ORACLE = """
WITH li AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS li_n
  FROM lineitem GROUP BY l_orderkey
), rows_ AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x, li_n AS y
  FROM orders JOIN li ON o_orderkey = l_orderkey
), xv AS (
  SELECT x, CAST(count(*) AS BIGINT) AS c FROM rows_ GROUP BY x
), xr AS (
  SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
            AS r2x
  FROM xv
), yv AS (
  SELECT y, CAST(count(*) AS BIGINT) AS c FROM rows_ GROUP BY y
), yr AS (
  SELECT y, 2 * coalesce(sum(c) OVER (ORDER BY y
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
            AS r2y
  FROM yv
), ranked AS (
  SELECT r2x, r2y FROM rows_ JOIN xr USING (x) JOIN yr USING (y)
), sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(r2x) AS HUGEINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(r2y) AS HUGEINT) AS DOUBLE) AS sy,
         CAST(sum(CAST(r2x AS HUGEINT) * r2x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(r2y AS HUGEINT) * r2y) AS DOUBLE) AS syy,
         CAST(sum(CAST(r2x AS HUGEINT) * r2y) AS DOUBLE) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS spearman_rho
FROM sums
"""


@query("q_spearman_corr", SPEARMAN_ORACLE)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between order value and
    order width (lineitem count) — the monotonic-dependence screen that
    Pearson ([[q_correlation_matrix]]) misses whenever the relationship
    is nonlinear or outlier-ridden; on heavy-tailed pipeline metrics the
    rank form is the trustworthy one. Computed as Pearson over mid-rank
    ties: each value's DOUBLED average rank 2·c_less + count + 1 is an
    exact integer (the [[q_classifier_auc]] trick), so every sum the
    correlation needs is exact integer arithmetic until one final double
    conversion.

    Scale: ranks come from the per-VALUE count table — the y side is
    bounded by the value domain; the x side (cents) can be data-
    proportional, so its cumulative count runs through
    functions/distributed.py's two-pass prefix sum, never a global
    window. Rank join-back is value-keyed; the moment collapse is one
    map-side-combinable aggregate."""
    from ..functions.distributed import global_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    rows = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"), "y"
    )

    def doubled_ranks(col: str) -> DataFrame:
        vt = rows.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        pre = global_prefix_sum(
            vt, [F.col(col)], F.col("c"), out="cl", inclusive=False
        )
        return pre.select(
            col, (2 * F.col("cl") + F.col("c") + 1).alias(f"r2{col}")
        )

    ranked = (
        rows.join(doubled_ranks("x"), "x")
        .join(F.broadcast(doubled_ranks("y")), "y")
        .select("r2x", "r2y")
    )
    # products of doubled ranks can pass int64 at extreme row counts:
    # widen to decimal BEFORE multiplying (HUGEINT on the oracle side)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d = lambda c: F.sum(c).cast("double")  # noqa: E731
    sums = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        d(dec("r2x")).alias("sx"),
        d(dec("r2y")).alias("sy"),
        d(dec("r2x") * F.col("r2x")).alias("sxx"),
        d(dec("r2y") * F.col("r2y")).alias("syy"),
        d(dec("r2x") * F.col("r2y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / den, 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate Pandas UDF: exact weighted median per group.
# ---------------------------------------------------------------------------

WMEDIAN_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
), walk AS (
  SELECT grp, v, wt,
         sum(wt) OVER (PARTITION BY grp ORDER BY v, wt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(wt) OVER (PARTITION BY grp) AS total
  FROM w
)
SELECT grp AS l_returnflag,
       CAST(max(total) AS BIGINT) AS total_weight,
       round(min(CASE WHEN 2 * cum >= total THEN v END), 2)
         AS weighted_median
FROM walk GROUP BY grp
"""


@query("q_weighted_median_udaf", WMEDIAN_ORACLE)
def q_weighted_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag, computed by
    a GROUPED_AGG Pandas UDF — the custom-aggregate flavor of the UDF
    surface (SURVEY §2.6) the scalar/map/cogroup/UDTF/stateful queries
    don't cover: the group's columns arrive as Arrow-backed Series, one
    scalar returns. The semantics (lower weighted median: smallest v
    with 2·cum(w) ≥ Σw) are replicated in pure SQL by the oracle, so the
    Python aggregation path itself is hash-gated — same contract as
    [[q_pandas_udf_score]] for the scalar path.

    Scale: grouped-agg pandas UDAFs receive WHOLE groups (no partial
    aggregation) — fine for bounded groups like these 3 flags; an
    unbounded-group weighted median swaps to the sort-based SQL walk the
    oracle uses, or a weighted quantile sketch. That trade IS the lesson
    this operator documents."""
    import numpy as np

    @F.pandas_udf("double")
    def wmedian(v: pd.Series, w: pd.Series) -> float:
        order = np.lexsort((w.to_numpy(), v.to_numpy()))
        vv, ww = v.to_numpy()[order], w.to_numpy()[order]
        cum = np.cumsum(ww)
        total = cum[-1]
        idx = int(np.searchsorted(2 * cum, total, side="left"))
        return float(vv[idx])

    li = load_table(spark, sf_dir, "lineitem")
    # grouped-agg pandas UDFs cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — two aggs over the same key, joined
    med = li.groupBy("l_returnflag").agg(
        F.round(
            wmedian(F.col("l_extendedprice"), F.col("l_quantity").cast("long")),
            2,
        ).alias("weighted_median")
    )
    tot = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("total_weight")
    )
    return tot.join(med, "l_returnflag").select(
        "l_returnflag", "total_weight", "weighted_median"
    )


# ---------------------------------------------------------------------------
# Winsorized and trimmed means: robust location per segment.
# ---------------------------------------------------------------------------

_WINS_P = 0.05  # clamp/trim 5% per tail

WINSOR_ORACLE = f"""
WITH j AS (
  SELECT c_mktsegment AS seg, o_totalprice AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
), cuts AS (
  SELECT seg,
         quantile_cont(v, {_WINS_P}) AS lo,
         quantile_cont(v, {1 - _WINS_P}) AS hi
  FROM j GROUP BY seg
), w AS (
  SELECT j.seg, j.v, c.lo, c.hi,
         least(greatest(j.v, c.lo), c.hi) AS clamped
  FROM j JOIN cuts c ON c.seg = j.seg
)
SELECT seg AS c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT)
             / count(*) / 100.0, 6) AS raw_mean,
       round(CAST(sum(CAST(round(clamped * 100) AS BIGINT)) AS BIGINT)
             / count(*) / 100.0, 6) AS winsorized_mean,
       round(CAST(sum(CASE WHEN v >= lo AND v <= hi
                           THEN CAST(round(v * 100) AS BIGINT) END) AS BIGINT)
             / sum(CASE WHEN v >= lo AND v <= hi THEN 1 END) / 100.0, 6)
         AS trimmed_mean
FROM w GROUP BY seg
"""


@query("q_winsorized_stats", WINSOR_ORACLE)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location per market segment: the raw mean beside the
    {int(_WINS_P * 100)}%-winsorized mean (tails CLAMPED to the
    percentile cuts) and the trimmed mean (tails DROPPED) — the
    outlier-resistant aggregates a metrics pipeline reports when a few
    whale orders would otherwise move the average ([[q_outliers_mad]]
    flags the whales; these report around them; [[q_theil_sen_trend]] is
    the same philosophy for trends).

    Exactness: the percentile cuts are exact per-group percentiles
    (interpolated identically by both engines from the same doubles);
    clamped/trimmed sums fold exact cent integers and divide once.

    Scale: one exact per-group percentile pass (swap for
    percentile_approx at extreme scale — mergeable sketch, same plan),
    broadcast cuts joined back, one aggregate. Groups process
    independently; no global anything."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("v"))
    cuts = j.groupBy("seg").agg(
        F.expr(f"percentile(v, {_WINS_P})").alias("lo"),
        F.expr(f"percentile(v, {1 - _WINS_P})").alias("hi"),
    )
    w = j.join(F.broadcast(cuts), "seg").withColumn(
        "clamped", F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    )
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    in_band = (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    return w.groupBy(F.col("seg").alias("c_mktsegment")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(cents(F.col("v"))) / F.count(F.lit(1)) / 100.0, 6).alias(
            "raw_mean"
        ),
        F.round(
            F.sum(cents(F.col("clamped"))) / F.count(F.lit(1)) / 100.0, 6
        ).alias("winsorized_mean"),
        F.round(
            F.sum(F.when(in_band, cents(F.col("v"))))
            / F.sum(F.when(in_band, 1))
            / 100.0,
            6,
        ).alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng et al. 2013): pre-period covariate
# adjustment of the experiment metric.
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"  # pre-period: Jan 1-15; post: Jan 16-30


def _cuped_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    arm = f"({md5_long_sql('CAST(user_id AS VARCHAR)')}) % 2"
    return f"""
WITH per AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre_c,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post_c
  FROM events GROUP BY user_id
), g AS (
  SELECT count(*) AS n,
         CAST(sum(pre_c) AS HUGEINT) AS sx, CAST(sum(post_c) AS HUGEINT) AS sy,
         sum(CAST(pre_c AS HUGEINT) * pre_c) AS sxx,
         sum(CAST(pre_c AS HUGEINT) * post_c) AS sxy,
         sum(CAST(post_c AS HUGEINT) * post_c) AS syy
  FROM per
), scal AS (
  SELECT CAST(sx AS DOUBLE) / n AS mx,
         (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
           AS cov,
         (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
           AS vx,
         (CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
           AS vy
  FROM g
), arms AS (
  SELECT CAST({arm} AS INT) AS arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(pre_c) AS HUGEINT) AS ax, CAST(sum(post_c) AS HUGEINT) AS ay
  FROM per GROUP BY 1
)
SELECT a.arm, a.n_users,
       round(CAST(a.ay AS DOUBLE) / a.n_users / 100.0, 4) AS mean_post,
       round((CAST(a.ay AS DOUBLE) / a.n_users
              - (s.cov / s.vx) * (CAST(a.ax AS DOUBLE) / a.n_users - s.mx))
             / 100.0, 4) AS mean_post_cuped,
       round(s.cov / s.vx, 6) AS theta,
       round(s.cov * s.cov / (s.vx * s.vy), 6) AS rho2
FROM arms a CROSS JOIN scal s
"""


CUPED_ORACLE = _cuped_oracle()


@query("q_cuped_adjustment", CUPED_ORACLE)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. 2013): adjust each md5-parity arm's post-period spend-per-user
    by the pooled regression on pre-period spend — the industry-standard
    experiment variance-reduction that shrinks the metric's variance by
    the squared pre/post correlation (rho2 emitted; the theta it uses
    beside it). Splits the 30-day stream at {_CUPED_SPLIT}: days 1-15
    are the covariate window, days 16-30 the experiment metric.

    Exactness: per-user period totals are cents integers; all five
    pooled moments are decimal/HUGEINT sums. The adjusted mean uses
    CUPED's linearity — mean(y - theta*(x - mx)) = mean(y) -
    theta*(mean(x) - mx) — so NO per-user double is ever summed: arm
    means come from the same exact integer sums, and theta/rho2/means
    are a handful of scalar double ops identical in both engines.

    Scale: one user-keyed aggregate (the RFM shuffle), then a 5-number
    global moment row and a 2-row arm aggregate — both map-side
    combinable; the adjustment itself is arithmetic on 7 scalars."""
    from ..functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("pre_c"),
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("post_c"),
    )
    g = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_c").cast("decimal(38,0)").alias("sx"),
        F.sum("post_c").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("pre_c").cast("decimal(19,0)") * F.col("pre_c")).alias("sxx"),
        F.sum(F.col("pre_c").cast("decimal(19,0)") * F.col("post_c")).alias("sxy"),
        F.sum(F.col("post_c").cast("decimal(19,0)") * F.col("post_c")).alias("syy"),
    )
    mx = F.col("sx").cast("double") / F.col("n")
    my = F.col("sy").cast("double") / F.col("n")
    scal = g.select(
        mx.alias("mx"),
        (F.col("sxy").cast("double") / F.col("n") - mx * my).alias("cov"),
        (F.col("sxx").cast("double") / F.col("n") - mx * mx).alias("vx"),
        (F.col("syy").cast("double") / F.col("n") - my * my).alias("vy"),
    )
    arm = (md5_long(F.col("user_id").cast("string")) % 2).cast("int")
    arms = per.groupBy(arm.alias("arm")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pre_c").cast("decimal(38,0)").alias("ax"),
        F.sum("post_c").cast("decimal(38,0)").alias("ay"),
    )
    may = F.col("ay").cast("double") / F.col("n_users")
    max_ = F.col("ax").cast("double") / F.col("n_users")
    return arms.crossJoin(F.broadcast(scal)).select(
        "arm",
        "n_users",
        F.round(may / 100.0, 4).alias("mean_post"),
        F.round(
            (may - (F.col("cov") / F.col("vx")) * (max_ - F.col("mx"))) / 100.0, 4
        ).alias("mean_post_cuped"),
        F.round(F.col("cov") / F.col("vx"), 6).alias("theta"),
        F.round(
            F.col("cov") * F.col("cov") / (F.col("vx") * F.col("vy")), 6
        ).alias("rho2"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences on the user panel (same split/arms as CUPED).
# ---------------------------------------------------------------------------


def _did_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    arm = f"({md5_long_sql('CAST(user_id AS VARCHAR)')}) % 2"
    return f"""
WITH per AS (
  SELECT user_id, CAST({arm} AS INT) AS arm,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre_c,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post_c
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(pre_c) AS HUGEINT) AS sp, CAST(sum(post_c) AS HUGEINT) AS so
  FROM per GROUP BY arm
), d AS (
  SELECT arm, n_users,
         CAST(sp AS DOUBLE) / n_users / 100.0 AS mean_pre,
         CAST(so AS DOUBLE) / n_users / 100.0 AS mean_post
  FROM arms
)
SELECT arm, n_users,
       round(mean_pre, 4) AS mean_pre,
       round(mean_post, 4) AS mean_post,
       round(mean_post - mean_pre, 4) AS delta,
       round(sum(CASE WHEN arm = 1 THEN mean_post - mean_pre
                      ELSE -(mean_post - mean_pre) END) OVER (), 4) AS did
FROM d
"""


DID_ORACLE = _did_oracle()


@query("q_diff_in_diff", DID_ORACLE)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the balanced user panel: arm 1's
    pre→post spend change minus arm 0's — the causal-inference
    workhorse when arms differ at baseline (it nets out both the common
    time trend and the fixed arm gap; under random md5 assignment the
    DiD should sit near zero, which makes it the A/A sanity companion
    of [[q_srm_check]] and [[q_cuped_adjustment]], same split, same
    arms). Per (arm) row: panel size, pre/post means, delta, and the
    shared DiD estimate.

    Exactness: per-user period totals are cents integers; arm moments
    are HUGEINT/decimal sums; means/deltas/DiD are a fixed handful of
    scalar double ops — the 2-row window that combines the two deltas
    runs over a bounded frame.

    Scale: identical shape to [[q_cuped_adjustment]] — one user-keyed
    aggregate, then a 2-row arm rollup."""
    from ..functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    arm = (md5_long(F.col("user_id").cast("string")) % 2).cast("int")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("pre_c"),
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("post_c"),
    ).select(arm.alias("arm"), "pre_c", "post_c")
    arms = per.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pre_c").cast("decimal(38,0)").alias("sp"),
        F.sum("post_c").cast("decimal(38,0)").alias("so"),
    )
    mean_pre = F.col("sp").cast("double") / F.col("n_users") / 100.0
    mean_post = F.col("so").cast("double") / F.col("n_users") / 100.0
    d = arms.select(
        "arm", "n_users", mean_pre.alias("mean_pre"), mean_post.alias("mean_post")
    )
    wg = W.partitionBy()
    delta = F.col("mean_post") - F.col("mean_pre")
    return d.select(
        "arm",
        "n_users",
        F.round("mean_pre", 4).alias("mean_pre"),
        F.round("mean_post", 4).alias("mean_post"),
        F.round(delta, 4).alias("delta"),
        F.round(
            F.sum(F.when(F.col("arm") == 1, delta).otherwise(-delta)).over(wg), 4
        ).alias("did"),
    )


# ---------------------------------------------------------------------------
# Quantile treatment effects: distributional arm differences.
# ---------------------------------------------------------------------------


def _qte_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    arm = f"({md5_long_sql('CAST(user_id AS VARCHAR)')}) % 2"
    return f"""
WITH per AS (
  SELECT user_id, CAST({arm} AS INT) AS arm,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post_c
  FROM events GROUP BY user_id
), q AS (
  SELECT arm,
         quantile_cont(post_c, 0.25) AS p25,
         quantile_cont(post_c, 0.50) AS p50,
         quantile_cont(post_c, 0.75) AS p75
  FROM per GROUP BY arm
), pivoted AS (
  SELECT p.pct,
         CASE p.pct WHEN 0.25 THEN t.p25 WHEN 0.50 THEN t.p50 ELSE t.p75 END
           AS qt,
         CASE p.pct WHEN 0.25 THEN c.p25 WHEN 0.50 THEN c.p50 ELSE c.p75 END
           AS qc
  FROM (SELECT unnest([0.25, 0.50, 0.75]) AS pct) p
  CROSS JOIN (SELECT * FROM q WHERE arm = 1) t
  CROSS JOIN (SELECT * FROM q WHERE arm = 0) c
)
SELECT CAST(pct AS DOUBLE) AS pct,
       round(qt / 100.0, 4) AS q_treat,
       round(qc / 100.0, 4) AS q_control,
       round((qt - qc) / 100.0, 4) AS qte
FROM pivoted
"""


QTE_ORACLE = _qte_oracle()


@query("q_quantile_treatment_effect", QTE_ORACLE)
def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the arm difference at the 25th/50th/
    75th percentile of post-period user spend — the distributional view
    an average treatment effect ([[q_diff_in_diff]], [[q_welch_ttest]])
    hides: a treatment can move the median while whales mask it in the
    mean, or only move the tail. Same md5 arms and calendar split as
    the rest of the experimentation family.

    Exactness: percentiles interpolate over exact cents integers —
    Spark `percentile` and DuckDB `quantile_cont` share the
    (n-1)*p floor/ceil interpolation on doubles below 2^53
    (the [[q_interarrival_burstiness]] parity).

    Scale: one user-keyed aggregate; the exact per-arm percentile needs
    the per-arm value multiset (2 bounded sort groups) — at 100 TB swap
    in percentile_approx, whose sketches merge map-side."""
    from ..functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    arm = (md5_long(F.col("user_id").cast("string")) % 2).cast("int")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("post_c"),
    ).select(arm.alias("arm"), "post_c")
    q = per.groupBy("arm").agg(
        F.percentile("post_c", F.lit(0.25)).alias("p25"),
        F.percentile("post_c", F.lit(0.50)).alias("p50"),
        F.percentile("post_c", F.lit(0.75)).alias("p75"),
    )
    t = q.filter(F.col("arm") == 1).select(
        F.col("p25").alias("t25"), F.col("p50").alias("t50"),
        F.col("p75").alias("t75"),
    )
    c = q.filter(F.col("arm") == 0).select(
        F.col("p25").alias("c25"), F.col("p50").alias("c50"),
        F.col("p75").alias("c75"),
    )
    grid = F.array(
        *[
            F.struct(
                F.lit(pct).alias("pct"),
                F.col(f"t{tag}").alias("qt"),
                F.col(f"c{tag}").alias("qc"),
            )
            for pct, tag in ((0.25, "25"), (0.50, "50"), (0.75, "75"))
        ]
    )
    return (
        t.crossJoin(F.broadcast(c))
        .select(F.explode(grid).alias("g"))
        .select(
            "g.pct",
            F.round(F.col("g.qt") / 100.0, 4).alias("q_treat"),
            F.round(F.col("g.qc") / 100.0, 4).alias("q_control"),
            F.round((F.col("g.qt") - F.col("g.qc")) / 100.0, 4).alias("qte"),
        )
    )


# ---------------------------------------------------------------------------
# Power analysis / minimum detectable effect from observed moments.
# ---------------------------------------------------------------------------

_PWR_Z = 2.801585  # z_{0.025} + z_{0.20} = 1.959964 + 0.841621 (80% power)
_PWR_MDE_REL = 0.05  # design target: detect a 5% lift


def _power_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    arm = f"({md5_long_sql('CAST(user_id AS VARCHAR)')}) % 2"
    return f"""
WITH per AS (
  SELECT user_id, CAST({arm} AS INT) AS arm,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY user_id
), ctl AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS HUGEINT) AS s1,
         sum(CAST(c AS HUGEINT) * c) AS s2
  FROM per WHERE arm = 0
), mom AS (
  SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS var
  FROM ctl
)
SELECT n AS n_control,
       round(mu / 100.0, 4) AS mean_spend,
       round(sqrt(var) / 100.0, 4) AS sd_spend,
       CAST({_PWR_MDE_REL} AS DOUBLE) AS mde_rel_target,
       CAST(ceil(2.0 * var * {_PWR_Z} * {_PWR_Z}
                 / ((mu * {_PWR_MDE_REL}) * (mu * {_PWR_MDE_REL}))) AS BIGINT)
         AS n_required_per_arm,
       round(sqrt(2.0 * var * {_PWR_Z} * {_PWR_Z} / n) / mu, 6)
         AS mde_rel_at_current_n
FROM mom
"""


POWER_ORACLE = _power_oracle()


@query("q_power_analysis", POWER_ORACLE)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from observed moments: using the control arm's
    per-user spend mean/variance, the per-arm sample size needed to
    detect a {_PWR_MDE_REL:.0%} lift at alpha=.05 / 80% power
    (n = 2 sigma^2 (z_a + z_b)^2 / delta^2), and dually the minimum
    detectable relative effect at the CURRENT sample size — the
    before-you-launch companion of [[q_welch_ttest]] (which tests after)
    and [[q_cuped_adjustment]] (whose rho2 says how much of this n the
    covariate buys back). z-sum is a shared literal; sqrt is IEEE
    correctly-rounded, so both engines agree bit-for-bit.

    Scale: one user-keyed cents aggregate, one 3-number moment row,
    scalar math after."""
    from ..functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events")
    arm = (md5_long(F.col("user_id").cast("string")) % 2).cast("int")
    per = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    ).select(arm.alias("arm"), "c")
    ctl = per.filter(F.col("arm") == 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mu * mu
    mom = ctl.select(F.col("n").alias("n_control"), mu.alias("mu"), var.alias("var"))
    z2 = F.lit(_PWR_Z) * F.lit(_PWR_Z)
    delta = F.col("mu") * F.lit(_PWR_MDE_REL)
    return mom.select(
        "n_control",
        F.round(F.col("mu") / 100.0, 4).alias("mean_spend"),
        F.round(F.sqrt("var") / 100.0, 4).alias("sd_spend"),
        F.lit(_PWR_MDE_REL).alias("mde_rel_target"),
        F.ceil(F.lit(2.0) * F.col("var") * z2 / (delta * delta))
        .cast("bigint")
        .alias("n_required_per_arm"),
        F.round(
            F.sqrt(F.lit(2.0) * F.col("var") * z2 / F.col("n_control"))
            / F.col("mu"),
            6,
        ).alias("mde_rel_at_current_n"),
    )
