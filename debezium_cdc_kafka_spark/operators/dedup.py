"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its dedup story is "Postgres PK identity",
SURVEY §2.2) — these are the north-star extensions, built Spark-first:

- exact dedup        → hash + groupBy (one shuffle on the 128-bit digest)
- n-gram Jaccard     → shingle inverted index + self-join (exhaustive)
- MinHash + LSH      → signature agg + band-bucket join (the scale path:
                       candidate generation is linear in corpus size,
                       verification only touches bucket collisions)
- SimHash            → bitwise sketch + nibble-band join + Hamming verify
- embedding near-dup → cosine pairs inside coarse blocks (label = IVF cell)

Everything is column algebra over md5-derived hashes (functions/hashing.py)
so a DuckDB oracle reproduces each pipeline bit-for-bit — no Python UDFs
anywhere.

Scale notes (100 TB): the shingle inverted index is the only quadratic
risk — stop-shingles (appearing in > X% of docs) should be dropped at
scale exactly like stopwords; MinHash bands keep candidate counts near-
linear; all joins here shuffle on content-derived keys which are uniform
by construction (hashes), so no skew.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions.hashing import (
    MERSENNE_P,
    md5_long,
    md5_long_sql,
    minhash_perm,
    minhash_perm_sql,
)
from ..functions.textfns import shingles, shingles_sql, tokens, tokens_sql

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition the raw docs by doc_id before CPU-heavy per-doc work
    (tokenize → shingle → md5). A small parquet file arrives as ONE input
    split, which would serialize the whole shingle pass on one core; the
    shuffle moves only the raw text once and buys full parallelism. On a
    cluster the same call is the defense against skewed input splits."""
    sess = docs.sparkSession
    return docs.repartition(sess.sparkContext.defaultParallelism, "doc_id")


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — distinct 3-gram shingles per document, exploded
    (the inverted-index representation for pair-generation joins)."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")))).alias("sh")
    )


def doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shs, hs, xs) — shingles kept as an array per document,
    plus their distinct 60-bit md5 hashes (`hs`, the verification
    currency: a within- or cross-doc collision is ~2^-60) and the mod-P
    reductions of those (`xs`, the MinHash permutation inputs). Sketches
    compute per-row from this shape with NO shuffle at all — at 100 TB
    the signature pass pipelines with the Parquet scan. Docs with < 3
    tokens drop out, matching the exploded representation.

    The empty-doc guard is expressed on the TOKEN count, not on
    size(shingles): predicate pushdown rewrites a filter on a projected
    alias into the alias' defining expression and pushes it below
    _spread's parallelizing exchange — a size(shingles)>0 guard made the
    single pre-shuffle scan task evaluate the whole shingle+hash pipeline
    serially (and the md5 column pruning can't remove it). The token
    form keeps only the cheap tokenizer below the exchange and is
    equivalent: size(tokens) >= 3 ⟺ at least one 3-shingle."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.filter(F.size(tokens(F.col("text"))) >= 3)
        .select("doc_id", shingles(tokens(F.col("text"))).alias("shs"))
        .withColumn("hs", F.array_distinct(F.transform("shs", md5_long)))
        .withColumn("xs", F.transform("hs", lambda h: h % MERSENNE_P))
    )


_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {tokens_sql("text")} AS t FROM documents),
sh AS (SELECT doc_id, unnest({shingles_sql("t")}) AS sh FROM toks),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy. The corpus is documents unioned with itself
# (simulating a re-crawl) so the operator provably collapses duplicates.
# ---------------------------------------------------------------------------

EXACT_ORACLE = """
WITH corpus AS (
  SELECT doc_id AS uid, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS uid, text FROM documents
)
SELECT md5(text) AS content_hash,
       min(uid)  AS canonical_id,
       count(*)  AS n_copies
FROM corpus
GROUP BY content_hash
"""


@query("dedup_exact", EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a simulated re-crawl (corpus ∪ corpus): group by
    content digest, keep the smallest id as canonical. One shuffle, on the
    digest — uniformly distributed, no skew at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.select((F.col("doc_id") + 10_000_000).alias("uid"), "text")
    corpus = docs.select(F.col("doc_id").alias("uid"), "text").unionByName(recrawl)
    return (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("uid").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Exhaustive n-gram Jaccard via shingle inverted index.
# ---------------------------------------------------------------------------

NGRAM_ORACLE = f"""
WITH {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY d1, d2
)
SELECT d1, d2, round(common * 1.0 / (c1.n + c2.n - common), 3) AS jaccard
FROM pairs JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.8
"""


@query("dedup_ngram_jaccard", NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-gram Jaccard ≥ 0.8, by self-joining the
    shingle inverted index. Exhaustive ground truth for the MinHash variant.

    Scale: join key is the shingle (uniform hash distribution); frequency-
    capping hot shingles (df > 1% of corpus) bounds the worst case — at
    this corpus size none qualify."""
    sh = doc_shingles(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    c1 = cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    c2 = cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        pairs.join(c1, "d1")
        .join(c2, "d2")
        .filter(jac >= 0.8)
        .select("d1", "d2", F.round(jac, 3).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding: the sub-quadratic scale path.
# ---------------------------------------------------------------------------

N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS


def _perm_lambda(i: int):
    # single-arg closure: a default-arg lambda would become the 2-parameter
    # (element, index) higher-order-function form
    return lambda x: minhash_perm(x, i)


def _minhash_signatures(sharr: DataFrame) -> DataFrame:
    """Per-row signatures from the array representation: min over a
    transformed array per permutation — zero shuffles, pure codegen."""
    mins = [
        F.array_min(F.transform("xs", _perm_lambda(i))).alias(f"m{i}") for i in range(N_PERMS)
    ]
    return sharr.select("doc_id", *mins)


def _band_sql_exprs() -> list[str]:
    out = []
    for b in range(N_BANDS):
        cols = ", ".join(f"m{i}" for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND))
        out.append(f"SELECT doc_id, {b} AS band_idx, concat_ws('_', {cols}) AS band_val FROM sig")
    return out


_X_SQL = f"{md5_long_sql('sh')} % {MERSENNE_P}"
# signatures/verification over the distinct 60-bit hash CTE (shx: doc_id, h)
_SHX_CTE = f"shx AS (SELECT DISTINCT doc_id, {md5_long_sql('sh')} AS h FROM sh)"
_CNTX_CTE = "cntx AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id)"
_SIG_SQL_X = ", ".join(
    f"min({minhash_perm_sql(f'(h % {MERSENNE_P})', i)}) AS m{i}" for i in range(N_PERMS)
)

MINHASH_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHX_CTE},
{_CNTX_CTE},
sig AS (SELECT doc_id, {_SIG_SQL_X} FROM shx GROUP BY doc_id),
bands AS ({" UNION ALL ".join("(" + s + ")" for s in _band_sql_exprs())}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.d1, c.d2, count(*) AS common
  FROM cand c
  JOIN shx s1 ON s1.doc_id = c.d1
  JOIN shx s2 ON s2.doc_id = c.d2 AND s2.h = s1.h
  GROUP BY c.d1, c.d2
)
SELECT v.d1, v.d2, round(v.common * 1.0 / (c1.n + c2.n - v.common), 3) AS jaccard
FROM verified v JOIN cntx c1 ON c1.doc_id = v.d1 JOIN cntx c2 ON c2.doc_id = v.d2
WHERE v.common * 1.0 / (c1.n + c2.n - v.common) >= 0.5
"""


@query("dedup_minhash_lsh", MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) + LSH banding (4 bands × 4 rows) + exact-Jaccard
    verification of candidates only.

    Scale: the corpus is shingled+hashed exactly ONCE into a compact
    (doc_id, hashed-shingle array) frame — ~8 bytes per shingle, no
    strings — which is checkpointed and serves BOTH the signature pass
    (min over the array per permutation, zero shuffle) and exact-Jaccard
    verification (array_intersect on the distinct 60-bit md5-derived
    hashes; the oracle verifies on the same hashed values, and a 60-bit
    collision is ~2^-60 per shingle pair — standard practice for
    content-defined dedup). The band join touches only
    signature rows (16 ints/doc — ~10^9 docs is still a small table);
    verification joins the checkpointed arrays twice on the few COLLIDING
    pairs — cost proportional to collisions, not all pairs. At 100 TB the
    checkpoint becomes a stored signature/shingle-hash index; nothing
    here re-reads raw text after the first pass. The band-collision
    curve (1-(1-s^4)^4) puts the LSH knee near Jaccard ≈ 0.7 here."""
    xsarr = (
        doc_shingle_arrays(spark, sf_dir)
        .select("doc_id", "hs", "xs")
        .localCheckpoint(eager=True)
    )
    sig = _minhash_signatures(xsarr)
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"m{i}") for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]
        )
        for b in range(N_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_val")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    arr1 = xsarr.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"))
    arr2 = xsarr.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"))
    paired = cand.join(arr1, "d1").join(arr2, "d2")
    common = F.size(F.array_intersect("hs1", "hs2"))
    jac = common / (F.size("hs1") + F.size("hs2") - common)
    return paired.filter(jac >= 0.5).select(
        "d1", "d2", F.round(jac, 3).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash: 60-bit sketch over shingle hashes, Hamming ≤ 3 via 15-bit bands.
# ---------------------------------------------------------------------------

N_BITS = 60          # md5_long yields 15 hex digits = 60 bits
SIM_BANDS = 4        # Hamming ≤ 3 ⇒ pigeonhole: one of 4 bands equal
BAND_BITS = N_BITS // SIM_BANDS
_BAND_MASK = (1 << BAND_BITS) - 1

# SWAR-packed bit votes: 60 per-bit counters would make the aggregate 60
# buffer fields wide, which pushes the whole stage out of codegen into the
# interpreted path (verified: 0 WholeStageCodegen blocks, ~4× slower).
# Instead each of 15 longs packs 4 × 16-bit counters (bits 4k..4k+3 of h
# at offsets 0/16/32/48); a plain SUM accumulates all four in parallel.
# Safe for up to 32767 shingles per doc (32767·2^48 < 2^63); a doc would
# need >32k distinct word 3-grams to overflow. The vote for bit b is then
# 2·cnt(b) > n  ⟺  Σ±1 > 0.
SIM_GROUPS = N_BITS // 4
_PACK_SQL = ", ".join(
    "sum(" + " + ".join(
        f"(((h >> {4 * k + j}) & 1) * {1 << (16 * j)}::BIGINT)" for j in range(4)
    ) + f") AS s{k}"
    for k in range(SIM_GROUPS)
)
_BITSUM_SQL = f"count(*) AS n, {_PACK_SQL}"
_SIMHASH_VAL_SQL = " + ".join(
    f"(CASE WHEN 2 * ((s{b // 4} >> {16 * (b % 4)}) & 65535) > n"
    f" THEN {1 << b} ELSE 0 END)"
    for b in range(N_BITS)
)
_SIMBAND_SQL = " UNION ALL ".join(
    f"(SELECT doc_id, simhash, {k} AS band_idx,"
    f" (simhash >> {BAND_BITS * k}) & {_BAND_MASK} AS band FROM sim)"
    for k in range(SIM_BANDS)
)

SIMHASH_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_SHX_CTE},
bitsums AS (SELECT doc_id, {_BITSUM_SQL} FROM shx GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({_SIMHASH_VAL_SQL} AS BIGINT) AS simhash FROM bitsums),
bands AS ({_SIMBAND_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, a.simhash AS s1, b.doc_id AS d2, b.simhash AS s2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(s1, s2)) <= 3
"""


@query("dedup_simhash", SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit sketch (per-bit vote over the
    distinct shingle hashes), candidates via 4×15-bit bands (pigeonhole:
    Hamming ≤ 3 ⇒ at least one of the 4 bands matches exactly — the
    Manku/Jain/Sarma web-dedup construction), exact Hamming verification.

    Scale: the sketch computes per-row from the hashed-shingle array (no
    shuffle); candidates join 4 small rows/doc on 15-bit band keys, so
    each band partitions the corpus into 2^15 uniformly-hashed buckets —
    expected collisions are (n/2^15)² per bucket, i.e. candidate volume
    stays near-linear until ~10^7 docs per band bucket and the band width
    is the dial (a 64-bit fingerprint with wider bands is the production
    setting at 10^10 docs). The earlier 16-bit/4-nibble variant had only
    2^4 buckets per band — effectively all-pairs/16, quadratic at any
    real corpus size. Hamming is one XOR+popcount.

    The per-bit votes use the SWAR packing documented at _PACK_SQL above
    (15 packed longs instead of 60 counters) so the sketch projection
    stays inside whole-stage codegen."""
    sharr = doc_shingle_arrays(spark, sf_dir).select("doc_id", "hs")

    def packed(k: int):
        # k is closed over via this function's scope (2-arg lambda only)
        def step(acc, h):
            spread = None
            for j in range(4):
                t = F.shiftright(h, 4 * k + j).bitwiseAND(F.lit(1)) * F.lit(
                    1 << (16 * j)
                )
                spread = t if spread is None else spread + t
            return acc + spread

        return F.aggregate(F.col("hs"), F.lit(0).cast("bigint"), step).alias(f"s{k}")

    bitsums = sharr.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n"),
        *[packed(k) for k in range(SIM_GROUPS)],
    )

    def vote(b: int):
        cnt = F.shiftright(F.col(f"s{b // 4}"), 16 * (b % 4)).bitwiseAND(F.lit(65535))
        return F.when(cnt * 2 > F.col("n"), F.lit(1 << b)).otherwise(F.lit(0))

    simhash = reduce(lambda acc, b: acc + vote(b), range(1, N_BITS), vote(0))
    # two fingerprint rows per doc flow into the self-join; checkpoint the
    # tiny (doc_id, simhash) frame so each join side reads 16 bytes/doc
    # instead of re-running the shingle+sketch pipeline per branch
    sim = bitsums.select(
        "doc_id", simhash.cast("bigint").alias("simhash")
    ).localCheckpoint(eager=True)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), BAND_BITS * k).bitwiseAND(
                        F.lit(_BAND_MASK)
                    )
                    for k in range(SIM_BANDS)
                ]
            )
        ).alias("band_idx", "band"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("a.simhash").alias("s1"),
            F.col("b.doc_id").alias("d2"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return cand.filter(hamming <= 3).select(
        "d1", "d2", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup: cosine pairs inside coarse blocks.
# ---------------------------------------------------------------------------

EMB_DOT_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
EMB_NORM_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE)))"
)

EMBDUP_ORACLE = f"""
SELECT a.vec_id AS v1, b.vec_id AS v2,
       round({EMB_DOT_SQL} / sqrt(({EMB_NORM_SQL.format(t="a")}) * ({EMB_NORM_SQL.format(t="b")})), 3) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {EMB_DOT_SQL} / sqrt(({EMB_NORM_SQL.format(t="a")}) * ({EMB_NORM_SQL.format(t="b")})) >= 0.4
"""


def dot_expr(a: str, b: str):
    """Sequential-fold double dot product — same accumulation order as
    DuckDB's list_sum, so results are bit-identical across engines."""
    prods = F.zip_with(
        F.transform(F.col(a), lambda x: x.cast("double")),
        F.transform(F.col(b), lambda x: x.cast("double")),
        lambda x, y: x * y,
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sq_norm_expr(a: str):
    return F.aggregate(
        F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pair_fanout(spark: SparkSession) -> int:
    """Explicit partition count for blocked PAIR joins (label blocks here,
    k-means cells in similarity.py). AQE coalesces post-shuffle partitions
    by shuffle BYTES, which is blind to the |block|x row expansion and the
    per-pair 64-element fold behind the join — measured at sf0.1 it fused
    q_knn_graph's whole pair scan into ONE task (4.6 s of the 5.5 s wall).
    An explicit repartition(N, key) is REPARTITION_BY_NUM, which AQE never
    coalesces, and because it hash-partitions on the join key with the
    session's shuffle-partition count, sort-merge's ENSURE_REQUIREMENTS
    adds no second exchange — at scale it is the same single shuffle the
    join needed anyway."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over the near-dup pair graph.
# ---------------------------------------------------------------------------

_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE},
raw_pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY d1, d2
),
pairs AS (
  SELECT d1, d2
  FROM raw_pairs JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
  WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.8
)
"""

CLUSTERS_ORACLE = f"""
{_PAIRS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)},
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT src AS n FROM edges),
reach AS (
  SELECT n, n AS m FROM nodes
  UNION
  SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
),
labeled AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled
"""


@query("dedup_clusters", CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the Jaccard≥0.8 pair
    graph via iterative min-label propagation — pairs alone under-merge
    (A~B, B~C but A≁C must still dedup to one canonical doc).

    This is the engine's iterative-algorithm pattern: each iteration is a
    distributed join+aggregate; only the 1-row convergence check touches
    the driver. Iterations are bounded by the graph diameter (dup clusters
    are small — here ≤ 10 hops guards pathological chains). The oracle is
    a recursive CTE computing the same transitive closure.

    Scale: label propagation is the standard big-graph CC algorithm
    (GraphX/GraphFrames use the same shape); state per round is one
    (node, label) table partitioned by node. The edge table (an expensive
    shingle self-join) persists across every round, and each round's
    label table localCheckpoints — truncating the lineage so round k's
    convergence check replays ONE join, not k chained ones (on a cluster
    with executor-loss concerns, swap for reliable checkpoint())."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    edges = (
        pairs.union(pairs.select(F.col("d2"), F.col("d1")))
        .toDF("src", "dst")
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("n"))
        .distinct()
        .withColumn("label", F.col("n"))
        .localCheckpoint()
    )
    for _ in range(10):
        neighbor_min = (
            edges.join(labels, edges.src == labels.n)
            .groupBy(F.col("dst").alias("n2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.n == F.col("n2"), "left")
            .select(
                "n",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("a")
            .join(labels.alias("b"), F.col("a.n") == F.col("b.n"))
            .filter(F.col("a.label") != F.col("b.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    w = W.partitionBy("cluster_id")
    return (
        labels.select(F.col("n").alias("doc_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


@query("dedup_embedding_cosine", EMBDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT related-vector pairs: cosine ≥ 0.4 between embeddings sharing
    a coarse block (label = IVF cell id). Like [[ann_bruteforce_topk]],
    this is the deliberately-exact labeled BASELINE, not the scale path.

    Why no LSH banding (VERDICT r5 item 6, measured r6): τ = 0.4 is a 66°
    angular radius — below any regime where SimHash banding keeps recall.
    Empirically on the fixtures (8 md5-seeded planes, the
    ann_lsh_hyperplane machinery): 4-band × 2-bit banding drops 12 of the
    86 qualifying pairs at sf0.1 (the qualifying mass sits AT the
    threshold: 5th-pctile cosine 0.4015), and the only recall-1 banding
    (8 × 1-bit) passes 255/256 of random pairs — zero selectivity. Any
    sublinear candidate generator at this τ changes the answer, so the
    operator stays exact and quadratic-within-blocks by design. The
    in-family scale path is [[dedup_embedding_cosine_banded]] —
    adaptive-width SimHash banding, same output contract, measured ×16
    wall ratio 2.0× vs 152× here (SCALE.md r7) at 94–99% recall; the
    other scale paths for actual near-dup dedup (τ ≳ 0.9) are
    [[semdedup_survivors]] (k-means cells, in-cell τ-verify) and
    [[dedup_minhash_lsh]] for text."""
    emb = load_table(spark, sf_dir, "embeddings")
    # squared norm once per vector pre-join (bit-identical: same fold
    # values inside the same sqrt(n1*n2)), so the pair scan runs one
    # 64-element fold per pair instead of three. pair_fanout pins the
    # join-key exchange so AQE's byte-based coalescing can't serialize
    # the in-label pair scan onto one task.
    fan = pair_fanout(spark)
    a = emb.repartition(fan, "label").select(
        F.col("vec_id").alias("v1"),
        F.col("label").alias("l1"),
        F.col("embedding").alias("e1"),
        sq_norm_expr("embedding").alias("n1"),
    )
    b = emb.repartition(fan, "label").select(
        F.col("vec_id").alias("v2"),
        F.col("label").alias("l2"),
        F.col("embedding").alias("e2"),
        sq_norm_expr("embedding").alias("n2"),
    )
    pairs = a.join(b, (F.col("l1") == F.col("l2")) & (F.col("v1") < F.col("v2")))
    cos = dot_expr("e1", "e2") / F.sqrt(F.col("n1") * F.col("n2"))
    return pairs.filter(cos >= 0.4).select("v1", "v2", F.round(cos, 3).alias("cosine"))


# ---------------------------------------------------------------------------
# Banded companion to the exact cosine baseline: SimHash blocking with
# data-adaptive band width, then the same t-cosine verify.
# ---------------------------------------------------------------------------

_BAND_R = 4  # bands (OR over bands recovers recall)
_BAND_TARGET = 128  # target bucket size the band width is solved for
_BAND_MAX_BITS = 16  # plane cap: 4 bands x 16 bits handles ~8.4M rows/label

# plane weight for (plane p, 1-based dim d) — the ann_lsh_hyperplane
# formula (similarity.py), regenerable in any engine
_BAND_PD = md5_long_sql("CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)")
_BAND_W_SQL = f"(({_BAND_PD} % 2001) - 1000) / 1000.0"

EMBDUP_BANDED_ORACLE = f"""
WITH mx AS (
  SELECT max(cnt) AS mx
  FROM (SELECT count(*) AS cnt FROM embeddings GROUP BY label) t
),
bw AS (
  SELECT GREATEST(1, LEAST({_BAND_MAX_BITS},
         CAST(ceil(log2(mx / {_BAND_TARGET}.0)) AS INT))) AS b
  FROM mx
),
planes AS (
  SELECT p, b, list_transform(range(1, 65), d -> {_BAND_W_SQL}) AS w
  FROM (SELECT unnest(range(0, {_BAND_R * _BAND_MAX_BITS})) AS p), bw
  WHERE p < {_BAND_R} * b
),
proj AS (
  -- sequential list fold, same accumulation order as Spark's aggregate()
  SELECT e.vec_id, e.label, CAST(pl.p AS INT) AS p, pl.b,
         list_sum(list_transform(range(1, 65),
                  i -> pl.w[i] * CAST(e.embedding[i] AS DOUBLE))) AS dot
  FROM embeddings e JOIN planes pl ON true
),
sig AS (
  SELECT vec_id, label, p // b AS band,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % b) ELSE 0 END) AS BIGINT) AS bits
  FROM proj GROUP BY vec_id, label, p // b
),
cand AS (
  SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
  FROM sig s1 JOIN sig s2
    ON s1.label = s2.label AND s1.band = s2.band AND s1.bits = s2.bits
   AND s1.vec_id < s2.vec_id
)
SELECT c.v1, c.v2,
       round({EMB_DOT_SQL} / sqrt(({EMB_NORM_SQL.format(t="a")}) * ({EMB_NORM_SQL.format(t="b")})), 3) AS cosine
FROM cand c JOIN embeddings a ON a.vec_id = c.v1
            JOIN embeddings b ON b.vec_id = c.v2
WHERE {EMB_DOT_SQL} / sqrt(({EMB_NORM_SQL.format(t="a")}) * ({EMB_NORM_SQL.format(t="b")})) >= 0.4
"""


@query("dedup_embedding_cosine_banded", EMBDUP_BANDED_ORACLE)
def dedup_embedding_cosine_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE-PATH companion to [[dedup_embedding_cosine]] (VERDICT r6
    item 6): SimHash-banded candidate generation in front of the same
    exact t = 0.4 cosine verify, same output contract (v1, v2, cosine).

    The r6 banding experiment (SCALE.md) proved FIXED banding can't work
    here: a constant band width only shrinks the pair join's constant, so
    the x16 growth ratio stays quadratic, and any width selective enough
    to matter drops threshold pairs. This operator instead solves the
    band width FROM the data — b = max(1, ceil(log2(max_label_n / 128)))
    bits per band, 4 bands — so buckets hold ~128 vectors at every scale
    and candidate volume per band is ~n*128 per label: LINEAR in n where
    the exact baseline is quadratic. Both engines derive b from the same
    counts, so the result is deterministic and hash-gated like every
    other LSH query here (the oracle mirrors the banding, as in
    dedup_minhash_lsh). At the checked-in SFs (max 218 vectors/label)
    b = 1 and recall vs the exact baseline is ~98% of qualifying pairs;
    as n grows, per-band recall at this unusually-low t (0.4 = 66 deg)
    decays like 0.633^b — the documented LSH trade the exact baseline
    exists to grade (its docstring has the measured table). Near-dup
    thresholds (t >= 0.9) keep recall high at useful widths.

    Scale: bucketing is 4*b broadcast dots per vector (one corpus pass);
    the self-join keys on (label, band, bits) with the pair_fanout pin so
    AQE byte-coalescing can't serialize the bucket scans; candidates are
    deduped across bands BEFORE the verify joins back to the vectors —
    the 64-float arrays never ride the banded explosion."""
    cand = _banded_candidates(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _cosine_verify(spark, cand, emb)


# Broadcast the vector table into the verify joins while it fits; the
# bound is the vector-table byte size a single executor comfortably
# holds twice (2M x ~260B = ~520 MB/side). Beyond it the verify falls
# back to shuffle-hash joins with a candidate-scaled fanout — still no
# sort of the pair side, but pairs ride one shuffle per join (fine on a
# cluster's distributed shuffle tier; the broadcast form is what a
# single node can survive).
_VERIFY_BROADCAST_MAX = 2_000_000


def _cosine_verify(spark: SparkSession, cand: DataFrame, emb: DataFrame) -> DataFrame:
    """τ = 0.4 cosine verify of a (v1, v2) candidate frame — WITHOUT ever
    sorting pair rows that carry embedding arrays (r8, found by the ×256
    sweep): the naive cand⋈emb⋈emb plan sort-merge-joins the SECOND hop
    on v2, which sorts |candidates| rows each dragging a 64-float array
    (~58 GB of sort input at ×256 — the spill filled local disk and
    killed the JVM in the banded companion's verify). Broadcast-hash
    joins keep the pair frame streaming: candidates flow from the
    distinct straight through both probes and the τ filter in one stage,
    and only the (v1, v2, cosine) survivors ever hit a shuffle again.
    Past _VERIFY_BROADCAST_MAX vectors, shuffle-hash joins (explicit
    hint — never sort-merge) with the pair_fanout pin take over."""
    a = emb.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("e1"),
        sq_norm_expr("embedding").alias("n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("e2"),
        sq_norm_expr("embedding").alias("n2"),
    )
    if emb.count() <= _VERIFY_BROADCAST_MAX:
        pairs = cand.join(F.broadcast(a), "v1").join(F.broadcast(b), "v2")
    else:
        fan = pair_fanout(spark)
        pairs = (
            cand.repartition(fan, "v1")
            .join(a.hint("shuffle_hash"), "v1")
            .repartition(fan, "v2")
            .join(b.hint("shuffle_hash"), "v2")
        )
    cos = dot_expr("e1", "e2") / F.sqrt(F.col("n1") * F.col("n2"))
    return pairs.filter(cos >= 0.4).select("v1", "v2", F.round(cos, 3).alias("cosine"))


def _banded_width(emb: DataFrame) -> DataFrame:
    """1-row frame with the solved band width b (shared by the banded
    dedup and its width-audit companion)."""
    return (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.greatest(
                F.lit(1),
                F.least(
                    F.lit(_BAND_MAX_BITS),
                    F.ceil(F.log2(F.max("cnt") / F.lit(float(_BAND_TARGET)))).cast("int"),
                ),
            ).alias("b")
        )
    )


def _banded_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (v1 < v2) candidate pairs from adaptive-width SimHash
    banding — the generation stage shared by
    [[dedup_embedding_cosine_banded]] and [[dedup_banded_width_audit]]."""
    emb = load_table(spark, sf_dir, "embeddings")
    bw = _banded_width(emb)
    planes = (
        spark.range(_BAND_R * _BAND_MAX_BITS)
        .select(F.col("id").cast("int").alias("p"))
        .join(F.broadcast(bw))
        .filter(F.col("p") < _BAND_R * F.col("b"))
        .select(
            "p",
            "b",
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda d: (
                    (
                        md5_long(
                            F.concat(
                                F.col("p").cast("string"), F.lit(":"), d.cast("string")
                            )
                        )
                        % 2001
                    )
                    - 1000
                )
                / 1000.0,
            ).alias("w"),
        )
    )
    proj = emb.join(F.broadcast(planes)).select(
        "vec_id", "label", "p", "b", dot_expr("w", "embedding").alias("dot")
    )
    sig = proj.groupBy("vec_id", "label", F.expr("p div b").alias("band")).agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("shiftleft(1, p % b)")).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("bits")
    )
    fan = pair_fanout(spark)
    s1 = sig.repartition(fan, "label", "band", "bits").select(
        F.col("vec_id").alias("v1"), "label", "band", "bits"
    )
    s2 = sig.repartition(fan, "label", "band", "bits").select(
        F.col("vec_id").alias("v2"),
        F.col("label").alias("l2"),
        F.col("band").alias("band2"),
        F.col("bits").alias("bits2"),
    )
    return (
        s1.join(
            s2,
            (F.col("label") == F.col("l2"))
            & (F.col("band") == F.col("band2"))
            & (F.col("bits") == F.col("bits2"))
            & (F.col("v1") < F.col("v2")),
        )
        .select("v1", "v2")
        .distinct()
    )


BANDED_AUDIT_ORACLE = f"""
WITH lc AS (SELECT count(*) AS cnt FROM embeddings GROUP BY label),
mx AS (SELECT max(cnt) AS mx, CAST(count(*) AS BIGINT) AS n_labels FROM lc),
bw AS (
  SELECT GREATEST(1, LEAST({_BAND_MAX_BITS},
         CAST(ceil(log2(mx / {_BAND_TARGET}.0)) AS INT))) AS b
  FROM mx
),
planes AS (
  SELECT p, b, list_transform(range(1, 65), d -> {_BAND_W_SQL}) AS w
  FROM (SELECT unnest(range(0, {_BAND_R * _BAND_MAX_BITS})) AS p), bw
  WHERE p < {_BAND_R} * b
),
proj AS (
  SELECT e.vec_id, e.label, CAST(pl.p AS INT) AS p, pl.b,
         list_sum(list_transform(range(1, 65),
                  i -> pl.w[i] * CAST(e.embedding[i] AS DOUBLE))) AS dot
  FROM embeddings e JOIN planes pl ON true
),
sig AS (
  SELECT vec_id, label, p // b AS band,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % b) ELSE 0 END) AS BIGINT) AS bits
  FROM proj GROUP BY vec_id, label, p // b
),
cand AS (
  SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
  FROM sig s1 JOIN sig s2
    ON s1.label = s2.label AND s1.band = s2.band AND s1.bits = s2.bits
   AND s1.vec_id < s2.vec_id
),
surv AS (
  SELECT c.v1
  FROM cand c JOIN embeddings a ON a.vec_id = c.v1
              JOIN embeddings b ON b.vec_id = c.v2
  WHERE {EMB_DOT_SQL} / sqrt(({EMB_NORM_SQL.format(t="a")}) * ({EMB_NORM_SQL.format(t="b")})) >= 0.4
)
SELECT CAST(bw.b AS INT) AS band_bits,
       {_BAND_R} AS n_bands,
       CAST(mx.mx AS BIGINT) AS max_label_n,
       mx.n_labels,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_survivors,
       round(1 - pow(1 - pow(1 - acos(0.4) / pi(), bw.b), {_BAND_R}), 4)
         AS recall_floor_tau
FROM bw, mx
"""


@query("dedup_banded_width_audit", BANDED_AUDIT_ORACLE)
def dedup_banded_width_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability companion to [[dedup_embedding_cosine_banded]]
    (ADVICE r7): the banded dedup's recall is a FUNCTION of the solved
    band width b — per-band collision probability for a pair at exactly
    τ = 0.4 is (1 − acos(0.4)/π)^b ≈ 0.633^b, OR'd over {_BAND_R} bands —
    and b grows with max-label population, so recall silently degrades
    at new scales. This query makes that observable: one row with the
    solved width, the population that drove it, candidate/survivor
    counts, and the theoretical recall floor for threshold pairs. A
    pipeline owner alerts on band_bits changing between runs (a width
    step = a recall step) instead of discovering it in downstream dup
    rates.

    Scale: everything here is the banded pipeline's own aggregates —
    the width agg is label-cardinality-sized, candidates are the linear
    banded volume, survivors the verified output; the final row is a
    crossJoin of four 1-row frames (the scalar-join idiom)."""
    emb = load_table(spark, sf_dir, "embeddings")
    bw = _banded_width(emb)
    label_stats = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.max("cnt").alias("max_label_n"),
            F.count(F.lit(1)).alias("n_labels"),
        )
    )
    n_cand = _banded_candidates(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    n_surv = dedup_embedding_cosine_banded(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_survivors")
    )
    import math

    p_tau = 1.0 - math.acos(0.4) / math.pi
    return (
        bw.crossJoin(F.broadcast(label_stats))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_surv))
        .select(
            F.col("b").cast("int").alias("band_bits"),
            F.lit(_BAND_R).alias("n_bands"),
            F.col("max_label_n").cast("bigint").alias("max_label_n"),
            F.col("n_labels").cast("bigint").alias("n_labels"),
            "n_candidates",
            "n_survivors",
            F.round(
                1
                - F.pow(
                    1 - F.pow(F.lit(p_tau), F.col("b")), F.lit(_BAND_R)
                ),
                4,
            ).alias("recall_floor_tau"),
        )
    )


# ---------------------------------------------------------------------------
# Frequency-capped shingles: the skew guard the module docstring promises.
# ---------------------------------------------------------------------------

CAPPED_ORACLE = f"""
WITH {_SHINGLES_CTE},
nd AS (SELECT count(*) AS n_docs FROM documents),
drop_sh AS (
  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1) d, nd
  WHERE df * 20 > n_docs AND df > 5
),
capped AS (SELECT doc_id, sh FROM sh WHERE sh NOT IN (SELECT sh FROM drop_sh)),
ccnt AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY d1, d2
)
SELECT d1, d2, round(common * 1.0 / (c1.n + c2.n - common), 3) AS jaccard
FROM pairs JOIN ccnt c1 ON c1.doc_id = d1 JOIN ccnt c2 ON c2.doc_id = d2
WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.8
"""


@query("dedup_ngram_jaccard_capped", CAPPED_ORACLE)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard with stop-shingle capping: shingles appearing in
    more than 5% of documents (and in > 5 documents absolute, so tiny
    corpora don't degenerate) are dropped BEFORE pair generation.

    This is the guard that makes the inverted-index join survive 100 TB:
    a boilerplate shingle shared by 10% of a web crawl would otherwise
    put 1% of all candidate pairs in one reducer (df² pair blowup). The
    5%-of-n threshold is compared as df·20 > n in exact integers, never
    a double.

    The cap rides the pair join's OWN partitioning: the shingle index is
    hash-partitioned on sh (pair_fanout — an explicit REPARTITION_BY_NUM
    the pair join reuses, so this adds no exchange), df is a window
    count over that same partitioning, and hot shingles filter inline.
    The earlier broadcast-anti-join form re-executed a separate df
    aggregate subtree per consumer of `capped` (3 consumers: counts +
    both join sides) — the r6 scan census (`tools/audit.py exchange`)
    measured 12 document scans per run, and the inline form won the
    ×16-docs A/B at 43s vs 78s (lazy) vs 52s (localCheckpoint of the
    index — materializing a shingle index costs more than re-deriving
    it, at every measured scale)."""
    fan = pair_fanout(spark)
    sh = doc_shingles(spark, sf_dir).repartition(fan, "sh")
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    hot = (F.col("df") * 20 > F.col("n_docs")) & (F.col("df") > 5)
    capped = (
        sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sh")))
        .crossJoin(F.broadcast(n_docs))
        .filter(~hot)
        .select("doc_id", "sh")
    )
    cnt = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    c1 = cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    c2 = cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        pairs.join(c1, "d1")
        .join(c2, "d2")
        .filter(jac >= 0.8)
        .select("d1", "d2", F.round(jac, 3).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Normalization-collapsing exact dedup.
# ---------------------------------------------------------------------------

NORM_RE = "[^a-z0-9]+"

NORM_EXACT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS uid, text FROM documents
  UNION ALL
  -- mutated re-crawl: case + punctuation noise that normalization must erase
  SELECT doc_id + 10000000 AS uid, upper(text) || ' !!' FROM documents
),
normed AS (
  SELECT uid,
         trim(regexp_replace(lower(text), '{NORM_RE}', ' ', 'g')) AS norm
  FROM corpus
)
SELECT md5(norm) AS content_hash, min(uid) AS canonical_id, count(*) AS n_copies
FROM normed GROUP BY content_hash
"""


@query("dedup_normalized_exact", NORM_EXACT_ORACLE)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text normalization (lowercase, non-alphanumerics
    → space, whitespace collapse): catches the re-crawl that differs only
    in case/punctuation, which raw-hash dedup misses. The corpus is
    documents ∪ a mutated copy (uppercased + trailing noise), so every
    group provably collapses to n_copies ≥ 2. Same one-shuffle hash-
    groupBy as dedup_exact — normalization is a free map on the scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 10_000_000).alias("uid"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = docs.select(F.col("doc_id").alias("uid"), "text").unionByName(mutated)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), NORM_RE, " "))
    return corpus.groupBy(F.md5(norm).alias("content_hash")).agg(
        F.min("uid").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy record linkage (edit distance within blocking keys).
# ---------------------------------------------------------------------------

FUZZY_ORACLE = """
SELECT a.c_custkey AS left_key, b.c_custkey AS right_key,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a
JOIN customer b
  ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


@query("dedup_fuzzy_levenshtein", FUZZY_ORACLE)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage near-duplicate detection: candidate pairs come from
    a BLOCKING key (here a name prefix), and only within-block pairs pay
    the edit-distance comparison. The naive formulation is an O(n²)
    cross-join; blocking turns it into an equi-join whose cost is
    Σ|block|² — the universal scale pattern for fuzzy matching (the same
    role LSH bands play for [[dedup_minhash_lsh]], with levenshtein as
    the expensive verifier instead of Jaccard). The synthetic names make
    matches dense; on real entity data the block key would be a phonetic
    or normalized form. a<b ordering halves the pair space and prevents
    self-pairs."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # pair_fanout pins the block-key exchange: AQE's byte-based coalescing
    # otherwise runs the whole levenshtein verify on one task (serial-stage
    # audit r6: 2.4 s CPU at 0.99 share of the query)
    fan = pair_fanout(spark)
    a = cust.select(
        F.col("c_custkey").alias("left_key"),
        F.col("c_name").alias("a_name"),
        F.substring("c_name", 1, 16).alias("blk"),
    ).repartition(fan, "blk")
    b = cust.select(
        F.col("c_custkey").alias("right_key"),
        F.col("c_name").alias("b_name"),
        F.substring("c_name", 1, 16).alias("blk"),
    ).repartition(fan, "blk")
    return (
        a.join(b, ["blk"])
        .filter(F.col("left_key") < F.col("right_key"))
        .withColumn("dist", F.levenshtein("a_name", "b_name").cast("int"))
        .filter(F.col("dist") <= 1)
        .select("left_key", "right_key", "dist")
    )


# ---------------------------------------------------------------------------
# Span-level duplication: repeated 8-token windows across documents.
# ---------------------------------------------------------------------------

SPAN_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
), spans AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS h
  FROM (SELECT doc_id, tk,
               unnest(range(1, greatest(len(tk) - 6, 1))) AS i
        FROM toks)
), dup AS (
  SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_span_ratio
FROM spans s JOIN dup d USING (h)
GROUP BY s.doc_id
"""


@query("dedup_span_shingles", SPAN_ORACLE)
def dedup_span_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate detection: slide an 8-token window over
    every document, hash each window, and report per document how many
    of its windows also occur verbatim in ANOTHER document — the
    span-level signal (Lee et al., "Deduplicating Training Data Makes
    Language Models Better") that catches boilerplate shared between
    otherwise-distinct pages, which whole-document dedup
    ([[dedup_exact]], [[dedup_minhash_lsh]]) cannot see. Production
    would cut the flagged spans; here we emit the per-doc dup ratio the
    cut decision thresholds on.

    The window enumeration is a per-row explode (sequence + slice, no
    shuffle); the only corpus-scale shuffle is the groupBy on the
    16-byte span hash, which is partial-aggregatable and uniformly
    distributed by construction. The rejoin spans⋈dup is hash-hash on
    the same key so AQE plans it off the just-shuffled output. At
    100 TB the dup table gets a frequency cap like
    [[dedup_ngram_jaccard_capped]] to keep hub spans (empty boilerplate)
    from skewing the rejoin."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.filter(F.split("text", " "), lambda t: t != "")
    spans = (
        docs.select("doc_id", tk.alias("tk"))
        .select(
            "doc_id",
            "tk",
            F.explode(
                F.when(
                    F.size("tk") >= 8,
                    F.sequence(F.lit(1), F.size("tk") - 7),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("tk", F.col("i"), F.lit(8)))).alias("h"),
        )
    )
    dup = spans.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    is_dup = (F.col("nd") > 1).cast("int")
    return (
        spans.join(dup, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(is_dup).cast("long").alias("n_dup_spans"),
            F.round(F.sum(is_dup) * 1.0 / F.count(F.lit(1)), 6).alias(
                "dup_span_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup: the maximal duplicated token runs themselves.
# ---------------------------------------------------------------------------

_SUB_N = 5  # gram width: a flagged position i covers tokens i .. i+4


def _pos_grams(tok, n: int = _SUB_N):
    """Positional n-gram array: g[i] = tokens i..i+n-1 joined by spaces
    (NOT distinct — position identity matters here). Built O(len) by
    zipping shifted copies, same construction as textfns.shingles."""
    grams = tok
    for k in range(1, n):
        shifted = F.slice(tok, k + 1, F.greatest(F.size(tok) - k, F.lit(1)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.slice(grams, 1, F.greatest(F.size(tok) - (n - 1), F.lit(1)))
    return F.when(F.size(tok) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


_SUB_GRAM_SQL = (
    "array_to_string(list_slice(tk, CAST(i AS INT), "
    f"CAST(i AS INT) + {_SUB_N - 1}), ' ')"
)

SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
), occ AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         {md5_long_sql(_SUB_GRAM_SQL)} AS h
  FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - {_SUB_N} + 2, 1))) AS i
        FROM toks)
), dup AS (
  SELECT h FROM occ GROUP BY h HAVING count(*) >= 2
), flagged AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN dup d USING (h)
), isl AS (
  SELECT doc_id, pos,
         pos - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS grp
  FROM flagged
)
SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) - min(pos) + {_SUB_N} AS INT) AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


@query("dedup_exact_substring", SUBSTRING_ORACLE)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, span output form (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): emit
    the MAXIMAL duplicated token runs per document — the spans a
    training pipeline would actually cut — where [[dedup_span_shingles]]
    only reports the per-doc duplication ratio.

    Pipeline (never materializes a doc pair, unlike suffix-array
    implementations): positional 5-grams per doc → hash → grams
    occurring ≥ 2 times anywhere in the corpus (cross- OR within-doc,
    matching the suffix-array semantics of "this substring repeats") →
    flag their positions → merge runs of consecutive flagged positions
    into maximal islands (pos − row_number() gaps-and-islands). A run of
    flagged positions p..q covers tokens p..q+4, so span_tokens =
    q−p+5.

    Scale shape: the gram stream is a narrow per-row map off the scan;
    the duplicated-gram filter is one hash aggregate on a uniform
    60-bit key (map-side combinable); the flag join is a shuffle
    semi-join on the same key (the duplicated-gram set is
    data-proportional, so it is NOT broadcast); the island merge is a
    per-doc window whose partition is bounded by document length. No
    pair join, no quadratic stage anywhere — this is why the
    inverted-index formulation beats porting the reference-era
    suffix-array approach onto a cluster."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    tk = F.filter(F.split("text", " "), lambda t: t != "")
    occ = (
        docs.select("doc_id", _pos_grams(tk).alias("g"))
        .select("doc_id", F.posexplode("g").alias("p0", "gram"))
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("int").alias("pos"),
            md5_long(F.col("gram")).alias("h"),
        )
    )
    dup = occ.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2)
    flagged = occ.join(dup.select("h"), "h", "left_semi")
    w = W.partitionBy("doc_id").orderBy("pos")
    isl = flagged.withColumn(
        "grp", F.col("pos") - F.row_number().over(w).cast("int")
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") - F.min("pos") + _SUB_N).cast("int").alias("span_tokens"),
    ).select("doc_id", "span_start", "span_tokens")


# ---------------------------------------------------------------------------
# Containment dedup: near-identical is not the only duplication — a doc
# wholly CONTAINED in a longer one (quote, mirror page, prefix crawl) has
# low Jaccard but containment ~1.
# ---------------------------------------------------------------------------

CONTAIN_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         substr(text, 1, CAST((n_chars + 1) // 2 AS INT)) AS text
  FROM documents
), toks AS (SELECT doc_id, {tokens_sql("text")} AS t FROM corpus),
sh AS (SELECT doc_id, unnest({shingles_sql("t")}) AS sh FROM toks),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
ndocs AS (SELECT count(*) AS n_docs FROM corpus),
hot AS (
  SELECT sh FROM sh, ndocs GROUP BY sh, n_docs
  HAVING count(*) * 20 > n_docs AND count(*) > 5
),
capped AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY d1, d2
)
SELECT d1, d2, c1.n AS n1, c2.n AS n2, common,
       round(common * 1.0 / least(c1.n, c2.n), 4) AS containment
FROM pairs
JOIN cnt c1 ON c1.doc_id = d1
JOIN cnt c2 ON c2.doc_id = d2
WHERE common * 10 >= least(c1.n, c2.n) * 8
"""


@query("q_minhash_containment", CONTAIN_ORACLE)
def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: C(A,B) = |A∩B| / min(|A|,|B|) over distinct
    3-gram shingle sets. Resemblance (Jaccard, [[dedup_ngram_jaccard]])
    misses a short doc quoted whole inside a long one — |A∩B|/|A∪B| is
    small but containment is ~1 (Broder 1997 defines both sketches).
    The corpus is documents ∪ their front halves (uid+10⁷), so true
    containment pairs exist by construction and the operator provably
    finds them (the half's shingles are a subset of the full doc's,
    minus the one shingle pair cut at the truncation boundary).

    The pair space is generated exactly like [[dedup_ngram_jaccard_capped]]:
    inverted shingle index with the hot-shingle cap (df·20 > n_docs AND
    df > 5 dropped pre-join) so boilerplate shingles can't quadratically
    blow up a reducer at 100 TB. The ≥ 0.8 threshold is compared in
    exact integers (common·10 ≥ min(n)·8), never a float."""
    docs = load_table(spark, sf_dir, "documents")
    half = docs.select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.substring(
            "text", 1, F.expr("CAST((n_chars + 1) div 2 AS INT)")
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(half)
    sess = corpus.sparkSession
    spread = corpus.repartition(sess.sparkContext.defaultParallelism, "doc_id")
    sh = spread.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")))).alias("sh")
    )
    n_docs = corpus.agg(F.count(F.lit(1)).alias("n_docs"))
    # Same inline window-df cap as [[dedup_ngram_jaccard_capped]]: df rides
    # the pair join's own sh-partitioning (pair_fanout pin, no extra
    # exchange) instead of a separate aggregate subtree that re-executed
    # per consumer — the r6 scan census measured the anti-join form at 24
    # document scans per run (2 corpus scans × {df-agg, counts, join a,
    # join b} × re-execution); this form is 3 consumers × 2 scans.
    fan = pair_fanout(spark)
    sh = sh.repartition(fan, "sh")
    hot = (F.col("df") * 20 > F.col("n_docs")) & (F.col("df") > 5)
    capped = (
        sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sh")))
        .crossJoin(F.broadcast(n_docs))
        .filter(~hot)
        .select("doc_id", "sh")
    )
    cnt = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    c1 = cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    c2 = cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    least_n = F.least(F.col("n1"), F.col("n2"))
    return (
        pairs.join(c1, "d1")
        .join(c2, "d2")
        .filter(F.col("common") * 10 >= least_n * 8)
        .select(
            "d1",
            "d2",
            "n1",
            "n2",
            "common",
            F.round(F.col("common") / least_n, 4).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# LSH recall eval: does the banded index find the exhaustive pairs?
# ---------------------------------------------------------------------------

LSH_RECALL_ORACLE = f"""
WITH exact_pairs AS (
  SELECT d1, d2 FROM ({NGRAM_ORACLE})
), lsh_pairs AS (
  SELECT d1, d2 FROM ({MINHASH_ORACLE})
), hit AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hit
  FROM exact_pairs e JOIN lsh_pairs l ON e.d1 = l.d1 AND e.d2 = l.d2
), sizes AS (
  SELECT CAST((SELECT count(*) FROM exact_pairs) AS BIGINT) AS n_exact,
         CAST((SELECT count(*) FROM lsh_pairs) AS BIGINT) AS n_lsh
)
SELECT n_exact, n_lsh, n_hit,
       round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
FROM sizes CROSS JOIN hit
"""


@query("dedup_lsh_recall_eval", LSH_RECALL_ORACLE)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality gate for text dedup: recall of the MinHash-LSH pair
    view ([[dedup_minhash_lsh]]) against the exhaustive 3-gram Jaccard
    ≥ 0.8 ground truth ([[dedup_ngram_jaccard]]) — the number that says
    whether the banding parameters (4×4 here; knee ≈ 0.7) actually catch
    the near-dups the pipeline claims to remove. The retrieval twin is
    [[ann_recall_eval]]; this is the dedup-side version, run on every
    reparametrization of the index.

    Scale: both pair views are the already-bounded operators (capped
    inverted index / band-bucket join); the comparison is an equi-join
    on pair keys over pair-sized tables. The exhaustive side exists at
    eval scale only — production samples a verification stratum instead,
    same plan."""
    # Both pair views feed two consumers (the hit join + their size
    # count) — lazy, the full exhaustive-jaccard and LSH pipelines each
    # executed twice (r6 scan census: 8 document scans per run, 4 after
    # checkpointing the two pair-sized results).
    exact = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("d1", "d2")
        .localCheckpoint(eager=True)
    )
    lsh = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("d1").alias("l1"), F.col("d2").alias("l2"))
        .localCheckpoint(eager=True)
    )
    hit = exact.join(
        lsh, (exact.d1 == F.col("l1")) & (exact.d2 == F.col("l2"))
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    sizes = exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    )
    return sizes.crossJoin(F.broadcast(hit)).select(
        "n_exact",
        "n_lsh",
        "n_hit",
        F.round(F.col("n_hit").cast("double") / F.col("n_exact"), 6).alias(
            "recall"
        ),
    )


# ---------------------------------------------------------------------------
# Dup-cluster size histogram: the dedup savings report.
# ---------------------------------------------------------------------------

DUP_HIST_ORACLE = f"""
WITH clustered AS ({CLUSTERS_ORACLE}),
per_cluster AS (
  SELECT cluster_id, CAST(max(cluster_size) AS BIGINT) AS sz
  FROM clustered GROUP BY cluster_id
), banded AS (
  SELECT CASE WHEN sz = 2 THEN '2'
              WHEN sz <= 5 THEN '3-5'
              ELSE '6+' END AS size_band,
         sz
  FROM per_cluster
)
SELECT size_band,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(sz - 1) AS BIGINT) AS removable_docs
FROM banded GROUP BY size_band
"""


@query("dedup_cluster_histogram", DUP_HIST_ORACLE)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup savings report: duplicate clusters ([[dedup_clusters]])
    bucketed by size, with docs touched and docs REMOVABLE (size−1 per
    cluster, keeping one canonical doc each) per band — the number a
    storage/training-budget decision actually consumes, and the shape
    that distinguishes pairwise near-dups (band '2') from boilerplate
    families (band '6+', which [[dedup_ngram_jaccard_capped]]'s
    stop-shingle cap exists to keep join-safe).

    Scale: everything after the clusters view is a groupBy over
    cluster-count-sized tables; output is 3 rows."""
    clustered = dedup_clusters(spark, sf_dir)
    per_cluster = clustered.groupBy("cluster_id").agg(
        F.max("cluster_size").cast("long").alias("sz")
    )
    band = (
        F.when(F.col("sz") == 2, "2")
        .when(F.col("sz") <= 5, "3-5")
        .otherwise("6+")
    )
    return (
        per_cluster.select(band.alias("size_band"), "sz")
        .groupBy("size_band")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.sum(F.col("sz") - 1).alias("removable_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source overlap matrix: which sources mirror which.
# ---------------------------------------------------------------------------

_OVL_MAX_SRC = 10  # spans present in more sources than this are boilerplate
_OVL_MIN_SHARED = 5

SOURCE_OVERLAP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
), spans AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS h
  FROM (SELECT doc_id, source, tk,
               unnest(range(1, greatest(len(tk) - 6, 1))) AS i
        FROM toks)
), kept AS (
  SELECT source, h FROM (
    SELECT source, h, count(*) OVER (PARTITION BY h) AS ns FROM spans
  ) WHERE ns <= {_OVL_MAX_SRC}
), per_source AS (
  SELECT source, count(*) AS n_spans FROM kept GROUP BY source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS shared_spans
  FROM kept a JOIN kept b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.shared_spans,
       round(CAST(p.shared_spans AS DOUBLE) / least(pa.n_spans, pb.n_spans), 6)
         AS containment
FROM pairs p
JOIN per_source pa ON pa.source = p.source_a
JOIN per_source pb ON pb.source = p.source_b
WHERE p.shared_spans >= {_OVL_MIN_SHARED}
"""


@query("dedup_source_overlap", SOURCE_OVERLAP_ORACLE)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    distinct 8-token spans they share and the containment ratio
    (shared / smaller side) — the crawl-provenance audit that answers
    "which sources mirror which" BEFORE you pick dedup keep-priorities
    ([[q_dedup_canonical]]) or mix weights ([[q_temperature_mix]]): a
    0.9-containment pair means one feed is a re-host and its tokens are
    double-counted. Span machinery shared with [[dedup_span_shingles]].

    Scale: the span table collapses to DISTINCT (span-hash, source) —
    bounded by |vocabulary of spans|·|sources|, one shuffle; spans in
    > {_OVL_MAX_SRC} sources are dropped as boilerplate BEFORE the
    self-join (the same hot-key cap as [[dedup_ngram_jaccard_capped]]),
    so per-span fanout is ≤ cap²; output is bounded by |sources|²."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tk = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    with_tk = docs.select("source", tk.alias("tk"))
    idx = F.explode(
        F.when(F.size("tk") >= 8, F.sequence(F.lit(1), F.size("tk") - 7)).otherwise(
            F.array().cast("array<int>")
        )
    ).alias("i")
    spans = (
        with_tk.select("source", "tk", idx)
        .select(
            "source",
            F.md5(F.concat_ws(" ", F.slice("tk", F.col("i"), F.lit(8)))).alias("h"),
        )
        .distinct()
    )
    # Same inline window-df cap as [[dedup_ngram_jaccard_capped]] (r6):
    # the span-frequency count rides the self-join's own h-partitioning
    # (pair_fanout pin) instead of a separate aggregate + semi-join whose
    # subtree re-executed per consumer of `kept` (scan census: 8 document
    # scans per run; 3 with the inline form).
    spans = spans.repartition(pair_fanout(spark), "h")
    kept = (
        spans.withColumn("ns", F.count(F.lit(1)).over(W.partitionBy("h")))
        .filter(F.col("ns") <= _OVL_MAX_SRC)
        .select("source", "h")
    )
    per_source = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_spans"))
    a = kept.select(F.col("h"), F.col("source").alias("source_a"))
    b = kept.select(F.col("h"), F.col("source").alias("source_b"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_spans"))
    )
    pa = per_source.select(
        F.col("source").alias("source_a"), F.col("n_spans").alias("na")
    )
    pb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_spans").alias("nb")
    )
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .filter(F.col("shared_spans") >= _OVL_MIN_SHARED)
        .select(
            "source_a",
            "source_b",
            "shared_spans",
            F.round(
                F.col("shared_spans").cast("double") / F.least("na", "nb"), 6
            ).alias("containment"),
        )
    )
