"""Privacy / compliance / data-quality audit operators (north-star
extensions for a training-data pipeline).

The reference's only "compliance" surface is row deletion by primary key
(/root/reference/app/utils/postgres.py:193-224); these operators extend
that idea to the dataset level: plan a referential cascade for a
forget-set (GDPR erasure), audit re-identification risk (k-anonymity),
release noisy aggregates (differential-privacy shape), and screen
numeric columns for fabrication (Benford's law).

All four are pure DataFrame algebra — no UDFs — and every float that
feeds a comparison or a published value is rounded in-query on both
engines (the repo-wide oracle-exactness policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import md5_long, md5_long_sql
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers.
# ---------------------------------------------------------------------------

_K_ANON = 5

K_ANON_ORACLE = f"""
WITH qi AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS INT) AS bal_band
  FROM customer
)
SELECT c_nationkey, c_mktsegment, bal_band,
       CAST(count(*) AS BIGINT) AS group_n,
       CAST(CASE WHEN count(*) >= {_K_ANON} THEN 1 ELSE 0 END AS INT)
         AS k_anonymous
FROM qi
GROUP BY c_nationkey, c_mktsegment, bal_band
"""


@query("q_k_anonymity", K_ANON_ORACLE)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: bucket every customer by the quasi-identifier
    tuple (nation, market segment, account-balance band of 1000) and
    flag equivalence classes smaller than k=5 — the groups whose members
    a release would re-identify, i.e. the rows a suppression or
    generalization pass must handle before the table ships as training
    data.

    Scale: one partial-aggregatable groupBy on a compound low-cardinality
    key; output is bounded by the QI-space size, not the row count."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("int")
    return (
        cust.select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("group_n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "group_n",
            (F.col("group_n") >= _K_ANON).cast("int").alias("k_anonymous"),
        )
    )


# ---------------------------------------------------------------------------
# GDPR erasure cascade planning.
# ---------------------------------------------------------------------------

CASCADE_ORACLE = """
WITH forget AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
), o AS (
  SELECT o_orderkey, o_custkey
  FROM orders JOIN forget ON o_custkey = c_custkey
), li AS (
  SELECT o.o_custkey, count(*) AS n
  FROM lineitem JOIN o ON l_orderkey = o_orderkey
  GROUP BY o.o_custkey
), oc AS (
  SELECT o_custkey, count(*) AS n FROM o GROUP BY o_custkey
)
SELECT f.c_custkey,
       CAST(COALESCE(oc.n, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(li.n, 0) AS BIGINT) AS n_lineitems,
       CAST(COALESCE(oc.n, 0) + COALESCE(li.n, 0) + 1 AS BIGINT)
         AS total_rows_to_purge
FROM forget f
LEFT JOIN oc ON oc.o_custkey = f.c_custkey
LEFT JOIN li ON li.o_custkey = f.c_custkey
"""


@query("q_cascade_delete", CASCADE_ORACLE)
def q_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-cascade plan: for a deterministic forget-set of customers
    (custkey % 97 = 0), count every dependent row that referential
    integrity obliges us to purge — their orders, and those orders'
    lineitems — plus the customer row itself. This is the reference's
    delete-by-key (postgres.py:193-224) lifted to a fan-out plan across
    the schema's foreign-key graph; the counts are what an erasure job
    reports before (dry-run) and after (audit) the actual anti-join
    rewrite of each table.

    Scale: the forget-set is a tiny broadcast side against orders; the
    lineitem pass joins on l_orderkey against only the affected orders
    (again broadcast-sized unless the forget-set is a large fraction of
    customers, in which case the shuffle join is the right plan and AQE
    picks it). No full-table aggregation anywhere — cost scales with the
    purge set, not the corpus."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    forget = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o = orders.join(
        forget, orders.o_custkey == forget.c_custkey
    ).select("o_orderkey", "o_custkey")
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_o"))
    lic = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_l"))
    )
    n_o = F.coalesce(F.col("n_o"), F.lit(0)).cast("long")
    n_l = F.coalesce(F.col("n_l"), F.lit(0)).cast("long")
    return (
        forget.join(oc, forget.c_custkey == oc.o_custkey, "left")
        .drop("o_custkey")
        .join(lic, forget.c_custkey == lic.o_custkey, "left")
        .select(
            "c_custkey",
            n_o.alias("n_orders"),
            n_l.alias("n_lineitems"),
            (n_o + n_l + 1).alias("total_rows_to_purge"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit screening.
# ---------------------------------------------------------------------------

BENFORD_ORACLE = """
WITH cents AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice > 0
), digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS first_digit
  FROM cents
), obs AS (
  SELECT first_digit, CAST(count(*) AS BIGINT) AS n
  FROM digits GROUP BY first_digit
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM obs)
SELECT first_digit, n,
       round(CAST(n AS DOUBLE) / t.t, 6) AS observed_share,
       round(log10(1.0 + 1.0 / first_digit), 6) AS benford_share,
       round((CAST(n AS DOUBLE) / t.t - log10(1.0 + 1.0 / first_digit))
             * (CAST(n AS DOUBLE) / t.t - log10(1.0 + 1.0 / first_digit))
             / log10(1.0 + 1.0 / first_digit), 9) AS chi2_term
FROM obs CROSS JOIN tot t
"""


@query("q_benford_price", BENFORD_ORACLE)
def q_benford_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on l_extendedprice: distribution of first
    significant digits vs the log10(1+1/d) expectation, with a per-digit
    chi-square term. Fabricated or truncated numeric columns jump out as
    digit-share anomalies — a standard forensic pass before a numeric
    table is trusted for training.

    Exactness: the first digit comes from the DECIMAL STRING of the
    cent-integer (never floor(log10(x)), whose ulp error flips digits at
    powers of ten); shares and the Benford expectation round in-query.

    Scale: a 9-group aggregation over a projected single column —
    partial agg does all the work map-side; the digit extraction is
    whole-stage-codegen string slicing."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.filter(F.col("l_extendedprice") > 0).select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    obs = (
        cents.select(
            F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("t"))
    share = F.col("n").cast("double") / F.col("t")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("first_digit"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n",
            F.round(share, 6).alias("observed_share"),
            F.round(benford, 6).alias("benford_share"),
            F.round((share - benford) * (share - benford) / benford, 9).alias(
                "chi2_term"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Differentially-private-shaped noisy counts (deterministic Laplace).
# ---------------------------------------------------------------------------

_DP_EPS = 1.0

DP_ORACLE = f"""
WITH cnts AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS exact_n
  FROM customer GROUP BY c_nationkey
), u AS (
  SELECT c_nationkey, exact_n,
         (({md5_long_sql("CAST(c_nationkey AS VARCHAR)")}) % 1000000 + 0.5)
           / 1000000.0 - 0.5 AS uu
  FROM cnts
)
SELECT c_nationkey, exact_n,
       round(exact_n + (-1.0 / {_DP_EPS})
             * CASE WHEN uu >= 0 THEN 1.0 ELSE -1.0 END
             * ln(1.0 - 2.0 * abs(uu)), 3) AS noisy_n
FROM u
"""


@query("q_dp_noisy_counts", DP_ORACLE)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-noised per-nation customer counts — the release shape of a
    differentially private aggregate (sensitivity-1 count, scale 1/ε,
    ε=1). The noise draw is the textbook inverse-CDF transform
    noise = -(1/ε)·sign(u)·ln(1-2|u|) for u ∈ (-½,½), with u derived
    from md5 of the group key so both engines (and reruns) draw
    identically — the derandomization makes the operator oracle-testable;
    a production release would substitute a real RNG, everything else is
    the same plan.

    Scale: groupBy + per-row scalar math; the noise adds zero shuffles."""
    cust = load_table(spark, sf_dir, "customer")
    cnts = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("exact_n"))
    h = md5_long(F.col("c_nationkey").cast("string"))
    uu = (h % 1000000 + 0.5) / F.lit(1000000.0) - 0.5
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(uu >= 0, 1.0).otherwise(-1.0)
        * F.log(F.lit(1.0) - 2.0 * F.abs(uu))
    )
    return cnts.select(
        "c_nationkey",
        "exact_n",
        F.round(F.col("exact_n") + noise, 3).alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# l-diversity: the sensitive-attribute refinement of k-anonymity.
# ---------------------------------------------------------------------------

_L_DIV = 3

LDIV_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS group_n,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS INTEGER)) AS BIGINT)
         AS sensitive_distinct,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS INTEGER)) >= {_L_DIV}
            AS INTEGER) AS l_diverse
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""


@query("q_l_diversity", LDIV_ORACLE)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007): within each
    quasi-identifier equivalence class (nation x market segment), count
    DISTINCT values of the sensitive attribute (account-balance band of
    2000) and flag classes with fewer than l=3 — groups that are
    k-anonymous ([[q_k_anonymity]]) can still leak the sensitive value
    when every member shares it; this is the audit that catches that
    homogeneity attack before a table ships as training data.

    Scale: count(DISTINCT) over a low-cardinality compound key is a
    two-level partial aggregate (expand on (QI, sensitive), then count) —
    map-side combinable, output bounded by the QI space, never the row
    count. Reference has no privacy tooling; north-star audit surface."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("int")
    return (
        cust.select("c_nationkey", "c_mktsegment", band.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.countDistinct("sens").alias("sensitive_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_n",
            "sensitive_distinct",
            (F.col("sensitive_distinct") >= _L_DIV).cast("int").alias("l_diverse"),
        )
    )


# ---------------------------------------------------------------------------
# Generalization: the suppression step k-anonymity auditing implies.
# ---------------------------------------------------------------------------

GENERALIZE_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS INT) AS bal_band
  FROM customer
), sized AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         count(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band)
           AS class_n
  FROM qi
), gen AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN class_n >= {_K_ANON} THEN bal_band ELSE -1 END AS band_gen
  FROM sized
)
SELECT c_nationkey, c_mktsegment, band_gen,
       CAST(count(*) AS BIGINT) AS group_n,
       CAST(count(*) >= {_K_ANON} AS INTEGER) AS k_anonymous
FROM gen
GROUP BY c_nationkey, c_mktsegment, band_gen
"""


@query("q_qi_generalize", GENERALIZE_ORACLE)
def q_qi_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization pass over the quasi-identifier space: every
    equivalence class [[q_k_anonymity]] flags as too small (< k={_K_ANON})
    has its balance band COARSENED into the per-(nation, segment)
    catch-all (band −1), then classes are recounted — the transform that
    turns the audit into a releasable table. Catch-alls that are STILL
    below k are the residual risk the release either suppresses row-wise
    or generalizes up the next attribute; they stay flagged here rather
    than silently passing.

    Scale: one key-partitioned count window sizes classes (same shuffle
    key as the final groupBy, so AQE coalesces the exchange), one
    re-aggregation on the generalized key; output stays bounded by the
    QI space."""
    cust = load_table(spark, sf_dir, "customer")
    from pyspark.sql.window import Window as W

    band = F.floor(F.col("c_acctbal") / 1000).cast("int")
    qi = cust.select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
    sized = qi.withColumn(
        "class_n",
        F.count(F.lit(1)).over(
            W.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
        ),
    )
    gen = sized.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("class_n") >= _K_ANON, F.col("bal_band"))
        .otherwise(F.lit(-1))
        .alias("band_gen"),
    )
    return (
        gen.groupBy("c_nationkey", "c_mktsegment", "band_gen")
        .agg(F.count(F.lit(1)).alias("group_n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band_gen",
            "group_n",
            (F.col("group_n") >= _K_ANON).cast("int").alias("k_anonymous"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot diff: reconcile two table versions by key + content hash.
# ---------------------------------------------------------------------------

SNAPSHOT_DIFF_ORACLE = """
WITH snap_a AS (
  SELECT doc_id, md5(text) AS h FROM documents
), snap_b AS (
  -- deterministic next-crawl: every 13th doc dropped, every 7th doc's
  -- content mutated, new docs appended above the id space
  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                          ELSE text END) AS h
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT new_id AS doc_id, h FROM (
    SELECT doc_id + 10000000 AS new_id, md5('new page ' || doc_id) AS h
    FROM documents WHERE doc_id % 11 = 0
  )
), j AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN b.doc_id IS NULL THEN 'deleted'
              WHEN a.doc_id IS NULL THEN 'added'
              WHEN a.h <> b.h THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
)
SELECT change_type, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM j GROUP BY change_type
"""


@query("q_snapshot_diff", SNAPSHOT_DIFF_ORACLE)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of the corpus by
    (key, content hash) into added / deleted / changed / unchanged — the
    audit a lakehouse runs between crawl snapshots to KNOW what a refresh
    did before feeding the delta downstream (the batch complement of the
    CDC stream: [[cdc_final_state]] replays recorded changes, this
    RECOVERS the change set when all you have is two table states). The
    second snapshot is a deterministic fixture (every 13th doc deleted,
    every 7th mutated, every 11th spawning a new doc) so all four
    dispositions are exercised.

    Scale: one full-outer hash join on the key with md5 content digests
    computed scan-side — no row content ever shuffles, only (key, hash);
    the summary collapse is map-side combinable. Feeding the 'changed' ∪
    'added' set to [[dedup_incremental_minhash]] / [[q_incremental_distinct]]
    is exactly the O(|Δ|) maintenance entry point."""
    docs = load_table(spark, sf_dir, "documents")
    snap_a = docs.select("doc_id", F.md5("text").alias("h"))
    mutated = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    snap_b = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id", F.md5(mutated).alias("h"))
        .unionAll(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 10000000).alias("doc_id"),
                F.md5(F.concat(F.lit("new page "), F.col("doc_id").cast("string"))).alias("h"),
            )
        )
    )
    a = snap_a.select(F.col("doc_id").alias("id_a"), F.col("h").alias("h_a"))
    b = snap_b.select(F.col("doc_id").alias("id_b"), F.col("h").alias("h_b"))
    j = a.join(b, a.id_a == b.id_b, "full_outer").select(
        F.coalesce(F.col("id_a"), F.col("id_b")).alias("doc_id"),
        F.when(F.col("id_b").isNull(), "deleted")
        .when(F.col("id_a").isNull(), "added")
        .when(F.col("h_a") != F.col("h_b"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return j.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# t-closeness: the distributional refinement of l-diversity.
# ---------------------------------------------------------------------------

_T_CLOSE = 0.2

TCLOSE_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 2000) AS INT) AS band
  FROM customer
), cell AS (
  SELECT c_nationkey, c_mktsegment, band, CAST(count(*) AS BIGINT) AS n_cb
  FROM qi GROUP BY c_nationkey, c_mktsegment, band
), gdist AS (
  SELECT band, CAST(sum(n_cb) AS BIGINT) AS n_gb FROM cell GROUP BY band
), grid AS (
  -- dense class x band grid so absent bands contribute their global mass
  SELECT cls.c_nationkey, cls.c_mktsegment, g.band,
         coalesce(c.n_cb, 0) AS n_cb, g.n_gb,
         cls.n_c, t.n
  FROM (SELECT c_nationkey, c_mktsegment, CAST(sum(n_cb) AS BIGINT) AS n_c
        FROM cell GROUP BY c_nationkey, c_mktsegment) cls
  CROSS JOIN gdist g
  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM qi) t
  LEFT JOIN cell c ON c.c_nationkey = cls.c_nationkey
    AND c.c_mktsegment = cls.c_mktsegment AND c.band = g.band
), walk AS (
  SELECT c_nationkey, c_mktsegment, n_c,
         sum(CAST(n_cb AS DOUBLE) / n_c - CAST(n_gb AS DOUBLE) / n)
           OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY band) AS cdf_gap
  FROM grid
)
SELECT c_nationkey, c_mktsegment, CAST(n_c AS BIGINT) AS group_n,
       round(sum(abs(cdf_gap)) / greatest(count(*) - 1, 1), 6) AS t_distance,
       CAST(sum(abs(cdf_gap)) / greatest(count(*) - 1, 1) <= {_T_CLOSE}
            AS INTEGER) AS t_close
FROM walk
GROUP BY c_nationkey, c_mktsegment, n_c
"""


@query("q_t_closeness", TCLOSE_ORACLE)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — the distributional member of
    the privacy trio: [[q_k_anonymity]] checks class SIZE, [[q_l_diversity]]
    checks sensitive-value VARIETY, and this checks the sensitive-value
    DISTRIBUTION: per QI class, the earth-mover's distance between the
    class's balance-band distribution and the global one. For an ordered
    1-D attribute Li et al. 2007 (Def. 5) give EMD as the MEAN of the
    absolute cumulative gaps over the band walk — sum|CDF gap|/(m-1) for
    m bands — which this computes (the r4 version took max|CDF gap|, the
    Kolmogorov-Smirnov distance, a looser bound the r4 ADVICE flagged);
    flagged against t={_T_CLOSE}. A class can pass k and l yet still
    leak by skew; this is the audit that catches it.

    Scale: the corpus collapses to the class × band contingency table;
    the dense grid (classes × bands — both bounded), the CDF walk, and
    the max all run over that bounded frame. Ratios are
    integer-over-integer, so the gate is exact after one round."""
    from pyspark.sql.window import Window as W

    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("int")
    qi = cust.select("c_nationkey", "c_mktsegment", band.alias("band"))
    cell = qi.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).alias("n_cb")
    )
    glob = cell.groupBy("band").agg(F.sum("n_cb").alias("n_gb"))
    cls = cell.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_cb").alias("n_c")
    )
    tot = qi.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            F.coalesce(F.col("n_cb"), F.lit(0)).alias("n_cb"),
            "n_gb",
            "n_c",
            "n",
        )
    )
    w = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    gap = F.sum(
        F.col("n_cb").cast("double") / F.col("n_c")
        - F.col("n_gb").cast("double") / F.col("n")
    ).over(w)
    walk = grid.select(
        "c_nationkey", "c_mktsegment", "n_c", gap.alias("cdf_gap")
    )
    return (
        walk.groupBy("c_nationkey", "c_mktsegment", "n_c")
        .agg(
            (
                F.sum(F.abs(F.col("cdf_gap")))
                / F.greatest(F.count(F.lit(1)) - 1, F.lit(1))
            ).alias("t_raw")
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n_c").cast("long").alias("group_n"),
            F.round(F.col("t_raw"), 6).alias("t_distance"),
            (F.col("t_raw") <= _T_CLOSE).cast("int").alias("t_close"),
        )
    )


# ---------------------------------------------------------------------------
# Sample-ratio mismatch (SRM) check for a hash-based experiment split.
# ---------------------------------------------------------------------------

_SRM_ARMS = 2
_SRM_CRIT = 3.841  # chi-square 95% critical value, 1 dof


def _srm_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    arm = f"({md5_long_sql('CAST(user_id AS VARCHAR)')}) % {_SRM_ARMS}"
    return f"""
WITH assign AS (
  SELECT DISTINCT user_id FROM events
), armed AS (
  SELECT CAST({arm} AS INT) AS arm FROM assign
), counts AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n FROM armed GROUP BY arm
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total FROM counts
)
SELECT arm, n,
       round(CAST(t.total AS DOUBLE) / {_SRM_ARMS}, 1) AS expected,
       round((n - CAST(t.total AS DOUBLE) / {_SRM_ARMS})
             * (n - CAST(t.total AS DOUBLE) / {_SRM_ARMS})
             / (CAST(t.total AS DOUBLE) / {_SRM_ARMS}), 6) AS chi2_term,
       round(sum((n - CAST(t.total AS DOUBLE) / {_SRM_ARMS})
                 * (n - CAST(t.total AS DOUBLE) / {_SRM_ARMS})
                 / (CAST(t.total AS DOUBLE) / {_SRM_ARMS})) OVER (), 6)
         AS chi2_stat,
       CAST(sum((n - CAST(t.total AS DOUBLE) / {_SRM_ARMS})
                * (n - CAST(t.total AS DOUBLE) / {_SRM_ARMS})
                / (CAST(t.total AS DOUBLE) / {_SRM_ARMS})) OVER ()
            > {_SRM_CRIT} AS INTEGER) AS srm_detected
FROM counts CROSS JOIN tot t
"""


SRM_ORACLE = _srm_oracle()


@query("q_srm_check", SRM_ORACLE)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check: hash-split the user population into
    {_SRM_ARMS} experiment arms (md5 parity — the same deterministic
    assignment family as [[q_dataset_split]]) and chi-square the arm
    counts against the designed equal split. SRM is THE standard
    experiment-health gate: a significant χ² means the assignment or
    logging pipeline is biased and every downstream metric comparison
    ([[q_welch_ttest]]) is invalid — you check THIS first.

    Scale: distinct users (one partial-combinable distinct), a 2-row
    count table, scalar χ² over it. The flag uses the 95% critical value
    for 1 dof; the statistic is a ratio of exact integers to an exact
    total, rounded once."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select("user_id").distinct()
    arm = (md5_long(F.col("user_id").cast("string")) % _SRM_ARMS).cast("int")
    counts = assign.select(arm.alias("arm")).groupBy("arm").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    exp = F.col("total").cast("double") / _SRM_ARMS
    term = (F.col("n") - exp) * (F.col("n") - exp) / exp
    from pyspark.sql.window import Window as W

    stat = F.sum(term).over(W.partitionBy())
    return counts.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.round(exp, 1).alias("expected"),
        F.round(term, 6).alias("chi2_term"),
        F.round(stat, 6).alias("chi2_stat"),
        (stat > _SRM_CRIT).cast("int").alias("srm_detected"),
    )
