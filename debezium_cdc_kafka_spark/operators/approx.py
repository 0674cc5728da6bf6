"""Approximate aggregates — the 100 TB scale path for distinct counts and
quantiles.

These are the operators you actually run at petabyte scale in place of
their exact cousins (q_distinct_agg, q_quantiles_per_segment): HLL++
(`approx_count_distinct`) and t-digest-ish quantile sketches
(`percentile_approx`) are single-pass, bounded-memory, and mergeable
map-side, so the shuffle carries sketches instead of raw values.

Sketch internals are engine-specific, so the sketch VALUES cannot be
hash-compared against DuckDB. Instead the sketched queries emit
error-bound BOOLEANS (|sketch − exact| ≤ ε with ε from the sketch's
published guarantee, widened conservatively): Spark computes the real
comparison, the oracle emits the exact group keys/counts plus literal
TRUE — so the driver's value-hash gates the bound itself, not nothing.
tests/test_approx.py additionally bounds the raw estimates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import md5_long

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_ACD_RSD = 0.02
_ACD_TOL = 5 * _ACD_RSD  # ±10%: 5 standard errors of the rsd-2% HLL++

ACD_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
       CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS parts_within_bound,
       TRUE AS supps_within_bound
FROM lineitem GROUP BY l_returnflag
"""


@query("q_approx_distinct", ACD_ORACLE)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counts per returnflag (rsd 2%) — replaces the exact
    expand-and-count at scale; the sketch merges map-side so the shuffle
    is O(groups × sketch), independent of row count. Output carries the
    exact counts plus `*_within_bound` booleans asserting the sketch is
    inside ±5·rsd of exact; the oracle emits the same exact counts with
    literal TRUE, so the driver hash-gates the error bound (the sketch
    value itself is engine-specific and cannot be cross-hashed)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", _ACD_RSD).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", _ACD_RSD).alias("approx_supps"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )

    def within(approx, exact):
        return (
            F.abs(F.col(approx) - F.col(exact)) <= F.lit(_ACD_TOL) * F.col(exact)
        )

    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        "n_rows",
        within("approx_parts", "exact_parts").alias("parts_within_bound"),
        within("approx_supps", "exact_supps").alias("supps_within_bound"),
    )


_Q_RANK_TOL = 0.02  # rank window ±2%: 200× the 1/accuracy=1e-4 guarantee

QUANT_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       TRUE AS median_within_bound,
       TRUE AS p95_within_bound
FROM orders GROUP BY o_orderpriority
"""


@query("q_approx_quantiles", QUANT_ORACLE)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched quantiles of order totals per priority (accuracy 10000 ≈
    0.01% rank error) — single pass, no per-group sort. The bound check
    verifies each sketch value lies between the EXACT order statistics at
    rank p ± 2% (a rank window, the guarantee `percentile_approx`
    actually makes — not a value window): the returned element's rank is
    within 1/accuracy of p, so sitting inside the much wider ±2% rank
    envelope is deterministic. For a group too small for the ±2% rank
    window to span even one element (n·0.02 < 1), the interpolated
    envelope ends can land strictly between adjacent order statistics and
    exclude the actual element the sketch returns, flipping the boolean
    on a CORRECT sketch (round-3 ADVICE) — so the envelope clamps to the
    group [min, max] there, which `percentile_approx` (always an actual
    group element) satisfies deterministically. The oracle emits the
    group keys/counts and literal TRUE; the driver hash-gates the rank
    bound."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("approx_p95"),
        F.expr(
            f"percentile(o_totalprice, array({0.5 - _Q_RANK_TOL},"
            f" {0.5 + _Q_RANK_TOL}, {0.95 - _Q_RANK_TOL},"
            f" {min(0.95 + _Q_RANK_TOL, 1.0)}))"
        ).alias("ex"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    small = F.col("n_orders") * _Q_RANK_TOL < F.lit(1.0)

    def bound(approx: str, lo_i: int, hi_i: int):
        lo = F.when(small, F.col("mn")).otherwise(F.col("ex")[lo_i])
        hi = F.when(small, F.col("mx")).otherwise(F.col("ex")[hi_i])
        return F.col(approx).between(lo, hi)

    return agg.select(
        "o_orderpriority",
        "n_orders",
        bound("approx_median", 0, 1).alias("median_within_bound"),
        bound("approx_p95", 2, 3).alias("p95_within_bound"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (deterministic, oracle-exact construction).
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 1024
_CMS_TERMS = ("spark", "join", "stream", "data", "the")
_CMS_TERMS_SQL = ", ".join(f"('{t}')" for t in _CMS_TERMS)

CMS_ORACLE = f"""
WITH toks AS (
  SELECT t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
), cms AS (
  SELECT r.i AS d,
         ('0x' || substr(md5(term || '#' || r.i), 1, 15))::BIGINT % {_CMS_W}
           AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks CROSS JOIN range(0, {_CMS_D}) AS r(i)
  GROUP BY 1, 2
), qterms AS (SELECT * FROM (VALUES {_CMS_TERMS_SQL}) AS q(term)),
qbuckets AS (
  SELECT term, r.i AS d,
         ('0x' || substr(md5(term || '#' || r.i), 1, 15))::BIGINT % {_CMS_W}
           AS bucket
  FROM qterms CROSS JOIN range(0, {_CMS_D}) AS r(i)
), est AS (
  SELECT q.term, min(c.cnt) AS cms_estimate
  FROM qbuckets q JOIN cms c ON c.d = q.d AND c.bucket = q.bucket
  GROUP BY q.term
), exact AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks WHERE term IN (SELECT term FROM qterms) GROUP BY term
)
SELECT e.term, x.exact_count, e.cms_estimate
FROM est e JOIN exact x USING (term)
"""


@query("q_countmin_sketch", CMS_ORACLE)
def q_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: a {_CMS_D}×{_CMS_W} counter
    table built from md5-derived bucket hashes, queried for five terms
    with the exact counts alongside (estimate ≥ exact always; equality
    when no bucket collision). The sketch is DETERMINISTIC — same hash
    family in both engines ([[spark-duckdb-oracle-parity]] md5 rule) —
    so unlike approx_count_distinct this sketch is oracle-gated exactly.

    Scale shape: the {_CMS_D}-way explode stays in the scan stage; the
    sketch aggregation shuffles at most d·w = {_CMS_D * _CMS_W} counter
    rows regardless of corpus size (partial map-side combine does the
    heavy lifting), which is the entire point of a CMS at 100 TB: a
    fixed-size mergeable summary of an unbounded stream. The same
    construction maintains incrementally under CDC deltas (counts are a
    commutative monoid, like [[cdc-incremental-agg]])."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")

    def bucket(term_col, i: int):
        return md5_long(F.concat(term_col, F.lit(f"#{i}"))) % _CMS_W

    hashed = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"), bucket(F.col("term"), i).alias("bucket")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("s")
    ).select("s.d", "s.bucket")
    cms = hashed.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))

    qterms = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_TERMS])).alias("term")
    )
    qbuckets = qterms.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"), bucket(F.col("term"), i).alias("bucket")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("s"),
    ).select("term", "s.d", "s.bucket")
    est = (
        cms.join(F.broadcast(qbuckets), ["d", "bucket"])
        .groupBy("term")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    exact = (
        toks.filter(F.col("term").isin(*_CMS_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "term").select("term", "exact_count", "cms_estimate")


_HLL_LGK = 12
_HLL_TOL = 0.10  # ±10%: ≈6 standard errors at lgK=12 (rsd = 1.04/2^6 ≈ 1.6%)

HLL_UNION_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_bound
FROM events GROUP BY event_type
UNION ALL
SELECT '_all_types', CAST(count(DISTINCT user_id) AS BIGINT), TRUE FROM events
"""


@query("q_hll_sketch_union", HLL_UNION_ORACLE)
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-user sketches via Apache DataSketches HLL
    (built into Spark as `hll_sketch_agg`/`hll_union_agg`): one sketch
    per event type, then the GLOBAL distinct estimate obtained by
    UNIONING the per-type sketches — never re-touching the raw events.
    This is the 100 TB cardinality pattern: partial sketches are a few KB
    each, re-aggregable along any dimension hierarchy (type→all here),
    shippable across clusters, and storable next to the rollup.
    DuckDB has no DataSketches HLL, so the sketch value can't be
    cross-hashed; instead each row carries the exact distinct count and a
    `within_bound` boolean (estimate inside ±10% of exact — ≈6 standard
    errors at lgK=12), with the oracle emitting literal TRUE: the driver
    hash-gates the union's accuracy, including the merged _all_types
    sketch against the global exact count."""
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("sk"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    est = F.round(F.hll_sketch_estimate("sk")).cast("long")
    typed = per_type.select(
        "event_type",
        "exact_distinct",
        est.alias("hll_estimate"),
    )
    global_exact = events.select(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    overall = (
        per_type.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(global_exact))
        .select(
            F.lit("_all_types").alias("event_type"),
            "exact_distinct",
            est.alias("hll_estimate"),
        )
    )
    return typed.unionByName(overall).select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            <= F.lit(_HLL_TOL) * F.col("exact_distinct")
        ).alias("within_bound"),
    )


# --- KMV (k-minimum-values) sketch with set algebra -------------------------

_KMV_K = 64
_KMV_MAX = float(1 << 60)  # md5_long range is [0, 2^60)

KMV_ORACLE = f"""
WITH base AS (
  SELECT DISTINCT year(l_shipdate) AS yr, l_partkey
  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
),
hashed AS (
  SELECT yr, ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM base
),
rk AS (
  SELECT yr, h, row_number() OVER (PARTITION BY yr ORDER BY h) AS rn FROM hashed
),
sk AS (SELECT yr, h FROM rk WHERE rn <= {_KMV_K}),
stats AS (
  SELECT yr, CAST(count(*) AS BIGINT) AS m, max(h) AS kth FROM sk GROUP BY yr
),
su AS (SELECT DISTINCT h FROM sk),
sur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM su),
sku AS (SELECT h FROM sur WHERE rn <= {_KMV_K}),
ustats AS (SELECT CAST(count(*) AS BIGINT) AS m_u, max(h) AS kth_u FROM sku),
jc AS (
  SELECT CAST(count(*) AS BIGINT) AS j FROM sku
  WHERE h IN (SELECT h FROM sk WHERE yr = 1996)
    AND h IN (SELECT h FROM sk WHERE yr = 1997)
),
flags AS (
  SELECT l_partkey,
         max(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS a,
         max(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS b
  FROM base GROUP BY l_partkey
),
exact AS (
  SELECT CAST(sum(a) AS BIGINT) AS exact_a, CAST(sum(b) AS BIGINT) AS exact_b,
         CAST(count(*) AS BIGINT) AS exact_union,
         CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersect
  FROM flags
),
est AS (
  SELECT
    (SELECT m FROM stats WHERE yr = 1996) AS m_a,
    (SELECT m FROM stats WHERE yr = 1997) AS m_b,
    (SELECT m_u FROM ustats) AS m_u,
    (SELECT j FROM jc) AS j_common,
    (SELECT CASE WHEN m < {_KMV_K} THEN CAST(m AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * {_KMV_MAX!r} / kth END
     FROM stats WHERE yr = 1996) AS e_a,
    (SELECT CASE WHEN m < {_KMV_K} THEN CAST(m AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * {_KMV_MAX!r} / kth END
     FROM stats WHERE yr = 1997) AS e_b,
    (SELECT CASE WHEN m_u < {_KMV_K} THEN CAST(m_u AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * {_KMV_MAX!r} / kth_u END
     FROM ustats) AS e_u
)
SELECT m_a, m_b, m_u, j_common,
       round(e_a, 6) AS est_a,
       round(e_b, 6) AS est_b,
       round(e_u, 6) AS est_union,
       round(CAST(j_common AS DOUBLE) / m_u, 6) AS jaccard_est,
       round(CAST(j_common AS DOUBLE) / m_u * e_u, 6) AS est_intersect,
       exact_a, exact_b, exact_union, exact_intersect
FROM est, exact
"""


@query("q_kmv_sketch_ops", KMV_ORACLE)
def q_kmv_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch with UNION and INTERSECTION
    estimation (Beyer et al. 2007, "On Synopses for Distinct-Value
    Estimation Under Multiset Operations") — the sketch family HLL cannot
    replace when you need set algebra: two KMV sketches intersect/union by
    plain hash-set operations, giving audience-overlap numbers (here: parts
    shipped in 1996 vs 1997) without ever co-scanning the raw sets.

    Unlike HLL ([[q_hll_sketch_union]], engine-opaque registers), a KMV
    sketch is just the k smallest md5 hashes — fully deterministic, so the
    driver hash-gates the ESTIMATES themselves, not an error boolean: the
    DuckDB oracle replays the identical sketch construction and the
    estimator arithmetic is IEEE-identical double math in both engines.

    Scale shape: the k-smallest-per-set rank is preceded by a conservative
    hash-threshold prefilter (8k/n_est of the 2^60 hash space, n_est from a
    map-side HLL) so the window sorts O(k) survivors per set, never the
    full distinct stream; the prefilter keeps >= k rows with overwhelming
    probability (8x margin) and equality with the unfiltered oracle proves
    it cut nothing that mattered. All arithmetic is integer until the final
    three divisions. Reference has no sketches at all (its counts are
    row-at-a-time Postgres applies); this is north-star surface."""
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    yr = F.year("l_shipdate")
    # Range form, not year(..) IN (..): the expression wrapper defeats
    # parquet pushdown (the predicate showed up in DataFilters only —
    # `tools/audit.py pushdown`, r6), while the equivalent half-open range
    # on the raw column reaches PushedFilters and row-group stats skip
    # the other years' chunks at scale.
    base = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(yr.alias("yr"), "l_partkey")
        .distinct()
    )
    hashed = base.select(
        "yr", md5_long(F.col("l_partkey").cast("string")).alias("h")
    )
    n_est = hashed.groupBy("yr").agg(F.approx_count_distinct("h").alias("n"))
    thr = n_est.select(
        "yr",
        F.least(
            F.lit(int(_KMV_MAX) - 1),
            (
                F.lit(8.0 * _KMV_K * _KMV_MAX)
                / F.greatest(F.col("n"), F.lit(_KMV_K)).cast("double")
            ).cast("long"),
        ).alias("thr"),
    )
    pruned = hashed.join(F.broadcast(thr), "yr").filter(F.col("h") <= F.col("thr"))
    w = W.partitionBy("yr").orderBy("h")
    # The sketch is ≤ 2k rows and feeds six consumers (per-set stats ×2,
    # union sketch, both semi-join probes) — lazy, each consumer re-ran
    # the full scan + distinct + prefilter (r6 scan census: 13 lineitem
    # scans per run). A bounded checkpoint pins it at one sketch build
    # plus the exact-truth pass.
    sk = (
        pruned.select("yr", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    stats = sk.groupBy("yr").agg(
        F.count(F.lit(1)).alias("m"), F.max("h").alias("kth")
    )

    def _est(m, kth):
        return F.when(m < _KMV_K, m.cast("double")).otherwise(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_MAX) / kth
        )

    # union sketch: k smallest distinct hashes across both sketches —
    # bounded input (<= 2k rows), so the unpartitioned rank is O(k)
    su = sk.select("h").distinct()
    wu = W.orderBy("h")
    sku = (
        su.select("h", F.row_number().over(wu).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    ska = sk.filter(F.col("yr") == 1996).select("h")
    skb = sk.filter(F.col("yr") == 1997).select("h")
    jc = (
        sku.join(ska, "h", "left_semi")
        .join(skb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("j_common"))
    )
    ustats = sku.agg(F.count(F.lit(1)).alias("m_u"), F.max("h").alias("kth_u"))
    row_a = stats.filter(F.col("yr") == 1996).select(
        F.col("m").alias("m_a"), F.col("kth").alias("kth_a")
    )
    row_b = stats.filter(F.col("yr") == 1997).select(
        F.col("m").alias("m_b"), F.col("kth").alias("kth_b")
    )
    flags = base.groupBy("l_partkey").agg(
        F.max((F.col("yr") == 1996).cast("int")).alias("a"),
        F.max((F.col("yr") == 1997).cast("int")).alias("b"),
    )
    exact = flags.agg(
        F.sum("a").cast("long").alias("exact_a"),
        F.sum("b").cast("long").alias("exact_b"),
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("int"))
        .cast("long")
        .alias("exact_intersect"),
    )
    e_a = _est(F.col("m_a"), F.col("kth_a"))
    e_b = _est(F.col("m_b"), F.col("kth_b"))
    e_u = _est(F.col("m_u"), F.col("kth_u"))
    jac = F.col("j_common").cast("double") / F.col("m_u")
    return (
        row_a.crossJoin(F.broadcast(row_b))
        .crossJoin(F.broadcast(ustats))
        .crossJoin(F.broadcast(jc))
        .crossJoin(F.broadcast(exact))
        .select(
            "m_a",
            "m_b",
            "m_u",
            "j_common",
            F.round(e_a, 6).alias("est_a"),
            F.round(e_b, 6).alias("est_b"),
            F.round(e_u, 6).alias("est_union"),
            F.round(jac, 6).alias("jaccard_est"),
            F.round(jac * e_u, 6).alias("est_intersect"),
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersect",
        )
    )


# --- Bloom filter false-positive audit --------------------------------------

_BF_M = 16_384  # bits
_BF_K = 3       # hash functions (seeds 0..2)


def _bf_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    def pos(key_expr: str, seed: int) -> str:
        seeded = key_expr + " || ':" + str(seed) + "'"
        return f"({md5_long_sql(seeded)}) % {_BF_M}"

    member_pos = " UNION ".join(
        f"SELECT {pos('o_orderkey', s)} AS p FROM members" for s in range(_BF_K)
    )
    probe_hits = " AND ".join(
        f"({pos('o_orderkey', s)}) IN (SELECT p FROM bits)" for s in range(_BF_K)
    )
    return f"""
WITH members AS (
  SELECT o_orderkey FROM orders
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'AUTOMOBILE'
), bits AS (
  {member_pos}
), probes AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM members)
), fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_false_pos
  FROM probes WHERE {probe_hits}
), sizes AS (
  SELECT CAST((SELECT count(*) FROM members) AS BIGINT) AS n_keys,
         CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
         CAST((SELECT count(*) FROM probes) AS BIGINT) AS n_probes
)
SELECT {_BF_M} AS m, {_BF_K} AS k, n_keys, n_bits_set, n_probes, n_false_pos,
       round(CAST(n_false_pos AS DOUBLE) / n_probes, 6) AS fpr_observed,
       round(pow(CAST(n_bits_set AS DOUBLE) / {_BF_M}, {_BF_K}), 6)
         AS fpr_occupancy,
       round(pow(1.0 - exp(-{_BF_K}.0 * n_keys / {_BF_M}), {_BF_K}), 6)
         AS fpr_theory
FROM sizes CROSS JOIN fp
"""


BF_AUDIT_ORACLE = _bf_oracle()


@query("q_bloom_fpr_audit", BF_AUDIT_ORACLE)
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter quality audit: build an m={_BF_M}-bit / k={_BF_K} bloom
    over one key set (AUTOMOBILE orders), probe it with every key
    guaranteed NOT in the set, and report the OBSERVED false-positive
    rate beside the occupancy-exact prediction (bits_set/m)^k and the
    textbook (1−e^(−kn/m))^k — the calibration check a pipeline runs
    before trusting a bloom's sizing (cf. [[q_bloom_semi_join]], which
    uses a bloom for pruning and removes its false positives with an
    exact join; this measures what that exactness pass pays). md5-derived
    positions make the audit deterministic, so the driver hash-gates the
    observed FPR itself.

    Scale: the bit-position set is bounded by m (= {_BF_M} rows, always
    broadcastable — the set IS the filter); probes explode ×k and
    semi-join the bit set per seed; everything else is counting. At
    production m (hundreds of Mbits) the bit set stays a broadcast
    bitmap exactly as in [[q_bloom_semi_join]]'s build."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    members = orders.join(
        cust.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey")

    def pos(col, seed: int):
        return (
            md5_long(F.concat(col.cast("string"), F.lit(f":{seed}"))) % _BF_M
        )

    # The bit set is bounded by m and feeds every probe semi-join seed;
    # the static plan duplicates the member build per seed, but AQE
    # reuses the broadcast bit set at runtime (executed-plan audit) —
    # an eager checkpoint measured SLOWER (0.85-1.0s → 1.3-1.5s warm at
    # sf0.1), so the bit set stays lazy and reuse carries the dedup.
    bits = (
        members.select(
            F.explode(
                F.array(*[pos(F.col("o_orderkey"), s) for s in range(_BF_K)])
            ).alias("p")
        )
        .distinct()
    )
    probes = orders.join(
        members.withColumnRenamed("o_orderkey", "mk"),
        orders.o_orderkey == F.col("mk"),
        "left_anti",
    ).select("o_orderkey")
    hits = probes
    for s in range(_BF_K):
        hits = hits.join(
            F.broadcast(bits.withColumnRenamed("p", f"p{s}")),
            pos(F.col("o_orderkey"), s) == F.col(f"p{s}"),
            "left_semi",
        )
    fp = hits.agg(F.count(F.lit(1)).alias("n_false_pos"))
    sizes = (
        members.agg(F.count(F.lit(1)).alias("n_keys"))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
        .crossJoin(probes.agg(F.count(F.lit(1)).alias("n_probes")))
    )
    return sizes.crossJoin(F.broadcast(fp)).select(
        F.lit(_BF_M).cast("int").alias("m"),
        F.lit(_BF_K).cast("int").alias("k"),
        "n_keys",
        "n_bits_set",
        "n_probes",
        "n_false_pos",
        F.round(F.col("n_false_pos") / F.col("n_probes").cast("double"), 6).alias(
            "fpr_observed"
        ),
        F.round(
            F.pow(F.col("n_bits_set").cast("double") / _BF_M, _BF_K), 6
        ).alias("fpr_occupancy"),
        F.round(
            F.pow(
                F.lit(1.0)
                - F.exp(F.lit(-float(_BF_K)) * F.col("n_keys") / _BF_M),
                _BF_K,
            ),
            6,
        ).alias("fpr_theory"),
    )


# --- AMS (tug-of-war) second-moment sketch ----------------------------------

_AMS_R = 16  # independent ±1 estimators


def _ams_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    key = "l_partkey || ':' || i"
    sign = f"(1 - 2 * (({md5_long_sql(key)}) % 2))"
    return f"""
WITH freq AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS f
  FROM lineitem GROUP BY l_partkey
), exact_ AS (
  SELECT CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT) AS f2_exact FROM freq
), est AS (
  SELECT i, CAST(sum(f * {sign}) AS BIGINT) AS z
  FROM freq CROSS JOIN (SELECT unnest(range(0, {_AMS_R})) AS i)
  GROUP BY i
), x AS (
  SELECT i, CAST(z AS HUGEINT) * z AS x,
         row_number() OVER (ORDER BY CAST(z AS HUGEINT) * z, i) AS rn
  FROM est
), med AS (
  SELECT CAST(avg(CAST(x AS DOUBLE)) AS DOUBLE) AS f2_est
  FROM x WHERE rn IN ({_AMS_R // 2}, {_AMS_R // 2 + 1})
)
SELECT {_AMS_R} AS r, e.f2_exact,
       round(m.f2_est, 1) AS f2_estimate,
       round(abs(m.f2_est - e.f2_exact) / e.f2_exact, 6) AS rel_error
FROM exact_ e CROSS JOIN med m
"""


AMS_ORACLE = _ams_oracle()


@query("q_ams_f2_sketch", AMS_ORACLE)
def q_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war sketch (Alon-Matias-Szegedy 1996) for the second
    frequency moment F₂ = Σ f_k² of part keys — F₂ IS the self-join size,
    the number a join planner wants before it picks a strategy for a
    skewed key ([[q_salted_skew_join]] is the mitigation; this is the
    detector's streamable form). Each of r={_AMS_R} estimators folds the
    whole frequency vector into ONE counter Σ f_k·s_i(k) with md5-derived
    ±1 signs; squaring gives an unbiased F₂ estimate and the median
    tames the variance. Derandomized signs make the estimate itself
    hash-gateable, and the exact F₂ sits beside it for the relative
    error.

    Scale: the sketch is r counters — updatable one row at a time with
    no frequency table at all (the streaming form); here the partial
    Σ f·s per estimator is map-side combinable, the square/median run
    over the r-row frame. The exact branch exists as the audit."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    exact = freq.agg(
        F.sum((F.col("f") * F.col("f")).cast("decimal(38,0)"))
        .cast("long")
        .alias("f2_exact")
    )
    est = freq.select(
        "f",
        "l_partkey",
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_R - 1))).alias("i"),
    ).select(
        "i",
        (
            F.col("f")
            * (
                1
                - 2
                * (
                    md5_long(
                        F.concat(
                            F.col("l_partkey").cast("string"),
                            F.lit(":"),
                            F.col("i"),
                        )
                    )
                    % 2
                )
            )
        ).alias("fs"),
    ).groupBy("i").agg(F.sum("fs").alias("z"))
    from pyspark.sql.window import Window as W

    x = est.select(
        "i", (F.col("z").cast("decimal(38,0)") * F.col("z")).alias("x")
    ).withColumn("rn", F.row_number().over(W.orderBy("x", "i")))
    med = x.filter(
        F.col("rn").isin(_AMS_R // 2, _AMS_R // 2 + 1)
    ).agg(F.avg(F.col("x").cast("double")).alias("f2_est"))
    return exact.crossJoin(F.broadcast(med)).select(
        F.lit(_AMS_R).cast("int").alias("r"),
        "f2_exact",
        F.round(F.col("f2_est"), 1).alias("f2_estimate"),
        F.round(
            F.abs(F.col("f2_est") - F.col("f2_exact")) / F.col("f2_exact"), 6
        ).alias("rel_error"),
    )


# --- AMS join-size (dot-product) sketch -------------------------------------


def _joinsize_oracle() -> str:
    from ..functions.hashing import md5_long_sql

    key = "k || ':' || i"
    sign = f"(1 - 2 * (({md5_long_sql(key)}) % 2))"
    return f"""
WITH fa AS (
  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS f
  FROM orders GROUP BY k
), fb AS (
  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS f
  FROM lineitem GROUP BY k
), exact_ AS (
  SELECT CAST(sum(CAST(fa.f AS HUGEINT) * fb.f) AS BIGINT) AS join_size
  FROM fa JOIN fb USING (k)
), za AS (
  SELECT i, CAST(sum(f * {sign}) AS BIGINT) AS z
  FROM fa CROSS JOIN (SELECT unnest(range(0, {_AMS_R})) AS i) GROUP BY i
), zb AS (
  SELECT i, CAST(sum(f * {sign}) AS BIGINT) AS z
  FROM fb CROSS JOIN (SELECT unnest(range(0, {_AMS_R})) AS i) GROUP BY i
), x AS (
  SELECT za.i, CAST(za.z AS HUGEINT) * zb.z AS x,
         row_number() OVER (ORDER BY CAST(za.z AS HUGEINT) * zb.z, za.i) AS rn
  FROM za JOIN zb USING (i)
), med AS (
  SELECT CAST(avg(CAST(x AS DOUBLE)) AS DOUBLE) AS est
  FROM x WHERE rn IN ({_AMS_R // 2}, {_AMS_R // 2 + 1})
)
SELECT {_AMS_R} AS r, e.join_size AS exact_join_size,
       round(m.est, 1) AS sketch_estimate,
       round(abs(m.est - e.join_size) / e.join_size, 6) AS rel_error
FROM exact_ e CROSS JOIN med m
"""


JOINSIZE_ORACLE = _joinsize_oracle()


@query("q_join_size_sketch", JOINSIZE_ORACLE)
def q_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two independent AMS sketches: |A ⋈ B| on
    a key is the dot product Σ fA(k)·fB(k) of the two frequency vectors,
    and the product of two tug-of-war counters sharing the same ±1 hash
    is an unbiased estimate of exactly that — so each table keeps r={_AMS_R}
    counters, never sees the other, and a planner multiplies them to
    cost a join BEFORE running it ([[q_ams_f2_sketch]] is the self-join
    special case; the exact branch here is the audit). This is the
    sketch form of what Spark's CBO reads from column statistics.

    Scale: per table, r counters built in one map-side-combinable pass —
    the two tables never co-shuffle for the estimate; the median runs
    over the r-row frame. Derandomized md5 signs hash-gate the estimate
    itself."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    fa = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("f")
    )
    fb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("f")
    )
    exact = (
        fa.join(fb.withColumnRenamed("f", "fb"), "k")
        .agg(
            F.sum((F.col("f") * F.col("fb")).cast("decimal(38,0)"))
            .cast("long")
            .alias("exact_join_size")
        )
    )

    def sketch(ft: DataFrame) -> DataFrame:
        drawn = ft.select(
            "k",
            "f",
            F.explode(F.sequence(F.lit(0), F.lit(_AMS_R - 1))).alias("i"),
        )
        s = 1 - 2 * (
            md5_long(
                F.concat(F.col("k").cast("string"), F.lit(":"), F.col("i"))
            )
            % 2
        )
        return drawn.select("i", (F.col("f") * s).alias("fs")).groupBy("i").agg(
            F.sum("fs").alias("z")
        )

    from pyspark.sql.window import Window as W

    za = sketch(fa).withColumnRenamed("z", "za")
    zb = sketch(fb).withColumnRenamed("z", "zb")
    x = (
        za.join(zb, "i")
        .select("i", (F.col("za").cast("decimal(38,0)") * F.col("zb")).alias("x"))
        .withColumn("rn", F.row_number().over(W.orderBy("x", "i")))
    )
    med = x.filter(F.col("rn").isin(_AMS_R // 2, _AMS_R // 2 + 1)).agg(
        F.avg(F.col("x").cast("double")).alias("est")
    )
    return exact.crossJoin(F.broadcast(med)).select(
        F.lit(_AMS_R).cast("int").alias("r"),
        "exact_join_size",
        F.round(F.col("est"), 1).alias("sketch_estimate"),
        F.round(
            F.abs(F.col("est") - F.col("exact_join_size"))
            / F.col("exact_join_size"),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries / space-saving heavy hitters (mergeable deterministic summary).
# ---------------------------------------------------------------------------

_MG_K = 512  # counter capacity per partition summary
_MG_TOPN = 10
# Tokens come from split(text, ' ') so no real token can contain a space:
# this sentinel key carries each partition's accumulated decrement offset.
_MG_ERR_KEY = " mg decrements "


def _mg_partition(batches):
    """Per-partition Misra-Gries: fold each Arrow batch's exact
    value_counts into a ≤_MG_K-counter summary by subtracting the
    (k+1)-th largest merged count and dropping non-positives (the
    mergeable-summaries merge rule, Agarwal et al. 2012). Each
    subtraction of `cut` removes ≥ (k+1)*cut total mass, so the summed
    offsets — emitted under _MG_ERR_KEY — are ≤ n_partition/(k+1), and
    every counter is an UNDERestimate by at most that sum."""
    import pandas as pd

    counts = pd.Series(dtype="int64")
    err = 0
    for pdf in batches:
        bc = pdf["term"].value_counts()
        counts = counts.add(bc, fill_value=0).astype("int64")
        if len(counts) > _MG_K:
            cut = int(counts.nlargest(_MG_K + 1).iloc[-1])
            counts = counts - cut
            counts = counts[counts > 0]
            err += cut
    out = counts.rename_axis("term").reset_index(name="cnt")
    out["term"] = out["term"].astype(str)
    err_row = pd.DataFrame({"term": [_MG_ERR_KEY], "cnt": [err]})
    yield pd.concat([out, err_row], ignore_index=True)


MG_ORACLE = f"""
WITH toks AS (
  SELECT t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
), exact AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_count FROM toks GROUP BY term
), tot AS (SELECT CAST(sum(exact_count) AS BIGINT) AS n FROM exact)
SELECT term, exact_count,
       CAST(exact_count * {_MG_K + 1} > (SELECT n FROM tot) AS INT)
         AS guaranteed_heavy,
       1 AS present_ok,
       1 AS bound_ok
FROM exact
ORDER BY exact_count DESC, term ASC
LIMIT {_MG_TOPN}
"""


@query("q_spacesaving_heavy_hitters", MG_ORACLE)
def q_spacesaving_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic heavy hitters via per-partition Misra-Gries
    summaries (capacity k={_MG_K}) merged by counter addition — the
    sketch you run when the KEY CARDINALITY (not just the row count)
    exceeds memory, where [[q_countmin_sketch]] needs the query keys up
    front and an exact groupBy would shuffle the whole vocabulary. The
    summary is built inside the scan with `mapInPandas` (Arrow-batched,
    one pass, NO shuffle of raw tokens — each task emits ≤ k+1 rows) and
    merged with a ≤ p·(k+1)-row aggregate.

    The driver gate hashes the sketch's GUARANTEES, not its counters
    (which legitimately vary with partition boundaries): for the exact
    top-{_MG_TOPN} tokens it emits (a) `present_ok` — every token whose
    true count exceeds n/(k+1) (`guaranteed_heavy`, exact integer
    arithmetic both engines) appears in the merged summary, and (b)
    `bound_ok` — 0 ≤ exact − estimate ≤ Σ decrement offsets. Both hold
    for ANY arrival order / partitioning by the MG merge theorem; the
    Zipfian token distribution keeps the top-{_MG_TOPN} well above the
    n/(k+1) line at every scale factor (shares are scale-invariant)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")

    summary = toks.mapInPandas(_mg_partition, schema="term string, cnt long")
    merged = summary.groupBy("term").agg(F.sum("cnt").alias("est"))
    err_total = (
        merged.filter(F.col("term") == _MG_ERR_KEY)
        .select(F.sum("est").alias("err_total"))
    )
    sketch = merged.filter(F.col("term") != _MG_ERR_KEY)

    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    n_total = exact.select(F.sum("exact_count").alias("n_total"))
    top = exact.orderBy(F.desc("exact_count"), F.asc("term")).limit(_MG_TOPN)

    res = (
        top.join(sketch, "term", "left")
        .crossJoin(F.broadcast(err_total))
        .crossJoin(F.broadcast(n_total))
    )
    in_sketch = F.col("est").isNotNull() & (F.col("est") > 0)
    heavy = (F.col("exact_count") * (_MG_K + 1) > F.col("n_total")).cast("int")
    under = F.col("exact_count") - F.coalesce(F.col("est"), F.lit(0))
    return res.select(
        "term",
        "exact_count",
        heavy.alias("guaranteed_heavy"),
        (in_sketch | (heavy == 0)).cast("int").alias("present_ok"),
        ((under >= 0) & (under <= F.col("err_total"))).cast("int").alias("bound_ok"),
    )


# ---------------------------------------------------------------------------
# HLL time-hierarchy rollup: hourly sketches re-aggregated to days.
# ---------------------------------------------------------------------------

HLL_ROLLUP_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_daily,
       CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours,
       TRUE AS within_bound
FROM events GROUP BY 1
"""


@query("q_hll_time_rollup", HLL_ROLLUP_ORACLE)
def q_hll_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL rollup along the TIME hierarchy: hourly distinct-user sketches
    union-merged into daily estimates without re-touching raw events —
    the materialized-rollup pattern every streaming metrics store runs
    at 100 TB (store a few-KB sketch per hour, answer any coarser grain
    by merging; [[q_hll_sketch_union]] proves the same along the type
    dimension, [[q_multires_rollup]] is the exact-count twin whose
    distinct counts canNOT be re-aggregated, which is the whole point).
    Gate: the merged daily estimate lands within the published tolerance
    of the exact daily distinct (oracle emits literal TRUE).

    Scale: map-side-combinable sketch aggregates only — hour keys then
    day keys — and the shuffled payload is |hours|·(2^lgK bytes), not
    user ids."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("sk"))
    daily = hourly.groupBy("day").agg(
        F.hll_union_agg("sk").alias("sk"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    exact = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.countDistinct("user_id").alias("exact_daily"))
    est = F.round(F.hll_sketch_estimate("sk")).cast("long")
    return daily.join(exact, "day").select(
        "day",
        "exact_daily",
        "n_hours",
        (
            F.abs(est - F.col("exact_daily"))
            <= F.lit(_HLL_TOL) * F.col("exact_daily")
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Bitmap-index distinct: EXACT mergeable distinct counts (roaring pattern).
# ---------------------------------------------------------------------------

BITMAP_ORACLE = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY event_type
UNION ALL
SELECT '_all_types', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
"""


@query("q_bitmap_distinct_users", BITMAP_ORACLE)
def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via Spark's bitmap aggregates
    (`bitmap_bucket_number`/`bitmap_bit_position`/`bitmap_construct_agg`
    — the roaring-bitmap metric-store pattern): each (type, 32k-bucket)
    group folds its user ids into one bitmap, per-type distinct is
    sum(bitmap_count), and the GLOBAL distinct is bitmap_or_agg over the
    per-type bitmaps — set-union re-aggregation that plain
    count(DISTINCT) cannot do (a rollup of distincts double-counts) and
    [[q_hll_sketch_union]] / [[q_hll_time_rollup]] can only approximate.
    Unlike those, the bitmap answer is exact, so the driver hash-gates
    the COUNTS themselves, not an error bound.

    Scale: the shuffle carries (key, bucket)-grouped bitmaps — ≤ 4 KB
    per 32k-id bucket regardless of row count, map-side combinable, and
    storable beside the rollup like any materialized sketch; the
    per-type and global reductions run over |types| x |buckets| rows.
    The trade vs HLL: bitmap size grows with the ID SPACE (dense ids —
    fine for dictionary-encoded keys), HLL stays 2^lgK for arbitrary
    domains."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bucket"),
        F.bitmap_bit_position("user_id").alias("pos"),
    )
    bm = base.groupBy("event_type", "bucket").agg(
        F.bitmap_construct_agg("pos").alias("bm")
    )
    per_type = bm.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("distinct_users")
    )
    overall = (
        bm.groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("distinct_users"))
        .select(F.lit("_all_types").alias("event_type"), "distinct_users")
    )
    return per_type.unionByName(overall)
