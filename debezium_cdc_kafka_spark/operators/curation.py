"""Training-data curation operators: the steps between "deduped corpus"
and "training set" — stratified sampling, deterministic splits, canonical
selection within duplicate clusters, and benchmark decontamination.
North-star extensions (the reference has no corpus tooling at all); all
deterministic column algebra so every query is oracle-gated.

Scale notes: sampling and splitting are hash-ranked windows / projections
— no global sort, no RNG state. Decontamination reuses the shingle
inverted index (see operators/dedup.py scale notes: stop-shingle capping
applies the same way). The eval side of the contamination join is tiny
(the benchmark), so it broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions.hashing import md5_long, md5_long_sql
from ..functions.textfns import tokens, tokens_sql
from ..registry import registrar
from .dedup import _SHINGLES_CTE, CLUSTERS_ORACLE, dedup_clusters, doc_shingles

QUERIES, ORACLES, query = registrar()


STRATIFIED_ORACLE = """
SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
"""


@query("q_stratified_sample", STRATIFIED_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 documents per language, chosen by md5-rank — a deterministic,
    reproducible stand-in for per-stratum random sampling (same idea as
    the reference's ORDER BY random() LIMIT 1 row picks, reference:
    app/utils/postgres.py:165–170, made replayable). Per-partition top-k:
    bounded by k per stratum, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
    )


SPLIT_ORACLE = """
SELECT lang, split, count(*) AS n_docs FROM (
  SELECT lang,
         CASE WHEN h < 98 THEN 'train' WHEN h = 98 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h
        FROM documents)
) GROUP BY lang, split
"""


@query("q_dataset_split", SPLIT_ORACLE)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """98/1/1 train/val/test split by content-stable hash of doc_id —
    membership is a pure projection (reassignable, shardable, no state),
    the property a 100 TB split must have. Output: per-(lang, split)
    counts to expose stratification balance."""
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 98, "train").when(h == 98, "val").otherwise("test").alias("split")
    )
    return docs.select("lang", split).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


CANONICAL_ORACLE = f"""
SELECT cluster_id, doc_id AS canonical_doc, cluster_size AS n_members,
       n_chars AS kept_chars
FROM (
  SELECT c.cluster_id, c.doc_id, c.cluster_size, d.n_chars,
         row_number() OVER (
           PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id
         ) AS rk
  FROM ({CLUSTERS_ORACLE}) c JOIN documents d ON d.doc_id = c.doc_id
) WHERE rk = 1
"""


@query("q_dedup_canonical", CANONICAL_ORACLE)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: inside each near-dup cluster (from
    dedup_clusters' connected components) keep the longest document,
    tiebreak on smallest doc_id. This is the final step of the dedup
    pipeline — pairs → clusters → one survivor per cluster. Per-cluster
    top-1 window; clusters are tiny, so no skew."""
    clusters = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        clusters.join(docs, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("cluster_size").alias("n_members"),
            F.col("n_chars").alias("kept_chars"),
        )
    )


CONTAMINATION_ORACLE = f"""
WITH {_SHINGLES_CTE},
ev AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
overlap AS (
  SELECT e.doc_id AS eval_id, t.doc_id AS train_id, count(*) AS common
  FROM ev e JOIN tr t ON e.sh = t.sh
  GROUP BY 1, 2
)
SELECT eval_id,
       CAST(sum(CASE WHEN common * 2 >= n THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminating,
       round(max(common * 1.0 / n), 3) AS max_overlap
FROM overlap JOIN cnt ON cnt.doc_id = eval_id
GROUP BY eval_id
"""


@query("q_contamination_ngram", CONTAMINATION_ORACLE)
def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for each eval document (doc_id % 97 = 0
    stands in for the benchmark set), the share of its 3-gram shingles
    found in each training document; reports how many training docs
    exceed 50% overlap (exact integer compare: common·2 ≥ n) and the max
    overlap seen. The eval shingle set is benchmark-sized — broadcast —
    so the scan over training shingles never shuffles; at 100 TB this is
    one pass over the corpus index."""
    sh = doc_shingles(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ev = sh.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_id"), "sh"
    )
    tr = sh.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_id"), "sh"
    )
    overlap = (
        F.broadcast(ev)
        .join(tr, "sh")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        overlap.join(
            F.broadcast(cnt.select(F.col("doc_id").alias("eval_id"), "n")), "eval_id"
        )
        .groupBy("eval_id")
        .agg(
            F.sum(F.when(F.col("common") * 2 >= F.col("n"), 1).otherwise(0)).alias(
                "n_contaminating"
            ),
            F.round(F.max(F.col("common") / F.col("n")), 3).alias("max_overlap"),
        )
    )


PCT_BAND_ORACLE = """
SELECT lang, count(*) AS n_kept, min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM (
  SELECT lang, n_chars,
         percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
  FROM documents
)
WHERE pr >= 0.05 AND pr <= 0.95
GROUP BY lang
"""


@query("q_quality_percentile_band", PCT_BAND_ORACLE)
def q_quality_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorizing curation filter: within each language, keep documents
    between the 5th and 95th length percentiles (drop truncated fragments
    and concatenation blobs). percent_rank partitions by the stratum, so
    the sort is per-language — no global window; at 100 TB strata are
    sub-bucketed or the thresholds come from approx_percentile (see
    operators/approx.py) and the filter becomes a broadcast compare.
    doc_id tiebreak makes ranks unique so both engines cut identically."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select("lang", "n_chars", F.percent_rank().over(w).alias("pr"))
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


WEIGHTED_ORACLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
                  / 1152921504606846976.0) / n_chars, 9) AS wkey
  FROM documents
)
SELECT doc_id, n_chars, wkey, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (ORDER BY wkey DESC, doc_id) AS rk FROM keyed
) WHERE rk <= 20
"""


@query("q_weighted_sample", WEIGHTED_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each document draws u ∈ (0,1] from its md5 hash and ranks by
    ln(u)/weight (≡ u^(1/w)); the top-k ranks ARE a weighted sample, here
    weighted by document length. This is THE distributed weighted-sample
    algorithm: keys compute per-row with no coordination and top-k is a
    `TakeOrdered` per-partition heap — one pass, no global sort, no RNG
    state to synchronize across 1000 executors. Keys are rounded to 9
    decimals before ranking so both engines cut identically; u comes from
    60 md5 bits (/ 2^60), so ties are impossible."""
    docs = load_table(spark, sf_dir, "documents")
    u = (md5_long(F.col("doc_id").cast("string")) + 1) / F.lit(float(1 << 60))
    keyed = docs.select(
        "doc_id", "n_chars", F.round(F.log(u) / F.col("n_chars"), 9).alias("wkey")
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition k-heaps,
    # driver merges 32·k rows) — NOT a global-window shuffle of every row.
    # The row_number window then ranks only the k survivors.
    top = keyed.orderBy(F.col("wkey").desc(), "doc_id").limit(20)
    w = W.orderBy(F.col("wkey").desc(), "doc_id")
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("doc_id", "n_chars", "wkey", "rk")
    )


# ---------------------------------------------------------------------------
# Token-budget source mixing.
# ---------------------------------------------------------------------------

_MIX_BUDGET = 20_000        # target training tokens
_MIX_CAP_PCT = 30           # no source may exceed 30% of the budget

MIX_ORACLE = f"""
WITH per_source AS (
  SELECT source,
         CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(est_tokens) AS total FROM per_source)
SELECT source, est_tokens,
       CAST(least(
         est_tokens,
         {_MIX_BUDGET} * {_MIX_CAP_PCT} // 100,
         CAST(round({_MIX_BUDGET} * est_tokens / (SELECT total FROM tot)) AS BIGINT)
       ) AS BIGINT) AS alloc_tokens,
       round(CAST(least(
         est_tokens,
         {_MIX_BUDGET} * {_MIX_CAP_PCT} // 100,
         CAST(round({_MIX_BUDGET} * est_tokens / (SELECT total FROM tot)) AS BIGINT)
       ) AS BIGINT) / est_tokens, 6) AS sample_frac
FROM per_source
"""


@query("q_token_budget_mix", MIX_ORACLE)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing allocation for a fixed training-token budget:
    each source gets its proportional share of the budget, clipped by a
    per-source cap (30%, the anti-domination rule) and by what the
    source actually has. The emitted sample_frac is the per-source
    retention rate a downstream weighted sampler ([[q_weighted_sample]]
    / q_stratified_sample) applies. Pure integer arithmetic over a
    source-level aggregate (|sources| rows) — the corpus is scanned
    once, partial-combinable, and the mixing math itself costs nothing
    at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.ceil(F.col("n_chars") / 4.0)).alias("est_tokens")
    )
    tot = per_source.agg(F.sum("est_tokens").alias("total"))
    cap = F.lit(_MIX_BUDGET * _MIX_CAP_PCT // 100).cast("long")
    share = F.round(F.lit(_MIX_BUDGET) * F.col("est_tokens") / F.col("total")).cast("long")
    alloc = F.least(F.col("est_tokens"), cap, share)
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "est_tokens",
            alloc.alias("alloc_tokens"),
            F.round(alloc / F.col("est_tokens"), 6).alias("sample_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-then-chunk offsets).
# ---------------------------------------------------------------------------

_SEQ_LEN = 2048

PACKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens
  FROM documents
), packed AS (
  SELECT doc_id, tokens,
         sum(tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tokens AS start_off
  FROM t
)
SELECT doc_id, tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {_SEQ_LEN} AS BIGINT) AS start_bin,
       CAST((start_off + tokens - 1) // {_SEQ_LEN} AS BIGINT) AS end_bin,
       CAST((start_off + tokens - 1) // {_SEQ_LEN} - start_off // {_SEQ_LEN} + 1 AS INT)
         AS n_bins
FROM packed
"""


@query("q_sequence_packing", PACKING_ORACLE)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus in a
    deterministic shuffled order (md5 of doc_id) and chunk the token
    stream into fixed {_SEQ_LEN}-token training sequences. Each document
    gets its token offset in the stream, the first and last
    sequence it lands in, and how many sequences it spans — exactly the
    index a packed-dataset loader needs.

    The token-offset assignment runs as the textbook two-pass
    distributed prefix sum (functions/distributed.py): per-partition
    token totals (one tiny row per partition) → exclusive prefix over
    those → per-partition base offsets + the same local cumsum per
    partition. Same outputs as a global window, no single-partition
    WindowExec; the md5 sort key doubles as the range partitioner so the
    order is stable under repartitioning."""
    from ..functions.distributed import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.ceil(F.col("n_chars") / 4.0).cast("long").alias("tokens")
    )
    packed = global_prefix_sum(
        t,
        [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")],
        F.col("tokens"),
        out="start_off",
        inclusive=False,
    ).select("doc_id", "tokens", "start_off")
    last_tok = F.col("start_off") + F.col("tokens") - 1
    return packed.select(
        "doc_id",
        "tokens",
        "start_off",
        F.expr(f"start_off DIV {_SEQ_LEN}").alias("start_bin"),
        (last_tok - last_tok % _SEQ_LEN).cast("long").alias("_tmp"),
    ).select(
        "doc_id",
        "tokens",
        "start_off",
        "start_bin",
        (F.col("_tmp") / _SEQ_LEN).cast("long").alias("end_bin"),
        ((F.col("_tmp") / _SEQ_LEN).cast("long") - F.col("start_bin") + 1)
        .cast("int")
        .alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# Composed curation pipeline (quality gate → dedup → stratified cap).
# ---------------------------------------------------------------------------

_PIPE_MIN_WORDS = 20
_PIPE_MIN_CHARS = 100
_PIPE_MAX_CHARS = 5000
_PIPE_MIN_ALPHA = 0.55
_PIPE_CAP = 100

PIPELINE_ORACLE = f"""
WITH gated AS (
  SELECT doc_id, text, lang, source, n_chars
  FROM documents
  WHERE n_chars BETWEEN {_PIPE_MIN_CHARS} AND {_PIPE_MAX_CHARS}
    AND len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                        t -> t <> '')) >= {_PIPE_MIN_WORDS}
    AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 1.0 / n_chars
        > {_PIPE_MIN_ALPHA}
), hashed AS (
  SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h,
         row_number() OVER (PARTITION BY
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           ORDER BY doc_id) AS dup_rk
  FROM gated
), deduped AS (
  SELECT doc_id, lang, source, n_chars FROM hashed WHERE dup_rk = 1
)
SELECT doc_id, lang, source, n_chars,
       CAST(row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
FROM deduped
QUALIFY rk <= {_PIPE_CAP}
"""


@query("q_curation_pipeline", PIPELINE_ORACLE)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pre-training curation chain as ONE declarative
    plan: quality gate (length band, ≥{_PIPE_MIN_WORDS} words, alpha
    ratio > {_PIPE_MIN_ALPHA}) → normalized exact dedup (first doc_id
    per content hash survives) → per-language md5-ranked cap of
    {_PIPE_CAP}. Composing the stages in one DataFrame lets Catalyst
    pipeline them: the quality predicates evaluate inside the scan
    stage, the dedup and the cap share nothing but narrow columns (text
    is dropped after hashing), and the whole pipeline costs two
    shuffles — content hash, then language. At 100 TB you run exactly
    this plan; the per-stage operators it composes
    ([[q_quality_percentile_band]], [[q_dedup_canonical]],
    [[q_stratified_sample]]) exist for when stages are materialized
    between runs."""
    docs = load_table(spark, sf_dir, "documents")
    tok = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    alpha = F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
    gated = docs.filter(
        F.col("n_chars").between(_PIPE_MIN_CHARS, _PIPE_MAX_CHARS)
        & (F.size(tok) >= _PIPE_MIN_WORDS)
        & (alpha * 1.0 / F.col("n_chars") > _PIPE_MIN_ALPHA)
    )
    norm_hash = F.md5(
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
    )
    dup_w = W.partitionBy(norm_hash).orderBy("doc_id")
    deduped = (
        gated.withColumn("dup_rk", F.row_number().over(dup_w))
        .filter(F.col("dup_rk") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )
    cap_w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        deduped.withColumn("rk", F.row_number().over(cap_w).cast("int"))
        .filter(F.col("rk") <= _PIPE_CAP)
    )


# ---------------------------------------------------------------------------
# C4-style rule gate: the classic boolean filter battery, composed.
# ---------------------------------------------------------------------------

C4_ORACLE = """
WITH t AS (
  SELECT doc_id, text, lang,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks
  FROM documents
), rules AS (
  SELECT doc_id, lang,
         CAST(len(toks) >= 5 AS INT)                         AS r_min_words,
         CAST(len(toks) <= 100000 AS INT)                    AS r_max_words,
         CAST(NOT contains(lower(text), 'lorem ipsum') AS INT) AS r_lorem,
         CAST(NOT contains(text, '{') AS INT)                AS r_brace,
         CAST(len(list_filter(toks, w -> length(w) > 25)) = 0 AS INT)
                                                             AS r_word_len,
         CAST((length(text) - length(replace(text, '.', ''))) * 1.0
              / greatest(len(toks), 1) <= 0.5 AS INT)        AS r_dot_ratio
  FROM t
)
SELECT doc_id, lang,
       r_min_words, r_max_words, r_lorem, r_brace, r_word_len, r_dot_ratio,
       CAST(r_min_words + r_max_words + r_lorem + r_brace + r_word_len
            + r_dot_ratio = 6 AS INT) AS keep
FROM rules
"""


@query("q_c4_rule_gate", C4_ORACLE)
def q_c4_rule_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning rule battery (Raffel et al., appendix) as one
    boolean gate per document, with each rule's verdict kept as its own
    column so the pipeline can report WHY a doc was dropped (the
    rejection-reason histogram every curation run ships): minimum/
    maximum word count, no 'lorem ipsum', no code braces, no >25-char
    junk token, bounded dot-per-word ratio. `keep` is the conjunction.

    Pure per-row column algebra over one scan — no shuffle, no UDF;
    the rule columns are one codegen stage wide, so adding a rule costs
    nothing at any scale. Downstream composes `keep = 1` into the
    [[q_curation_pipeline]] gate; the per-rule columns aggregate into
    drop-reason counts with one partial-aggregatable groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    n = F.size(toks)
    r_min_words = (n >= 5).cast("int")
    r_max_words = (n <= 100000).cast("int")
    r_lorem = (~F.lower("text").contains("lorem ipsum")).cast("int")
    r_brace = (~F.col("text").contains("{")).cast("int")
    r_word_len = (
        F.size(F.filter(toks, lambda w: F.length(w) > 25)) == 0
    ).cast("int")
    r_dot = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("."), F.lit(""))))
        * 1.0
        / F.greatest(n, F.lit(1))
        <= 0.5
    ).cast("int")
    out = docs.select(
        "doc_id",
        "lang",
        r_min_words.alias("r_min_words"),
        r_max_words.alias("r_max_words"),
        r_lorem.alias("r_lorem"),
        r_brace.alias("r_brace"),
        r_word_len.alias("r_word_len"),
        r_dot.alias("r_dot_ratio"),
    )
    total = (
        F.col("r_min_words") + F.col("r_max_words") + F.col("r_lorem")
        + F.col("r_brace") + F.col("r_word_len") + F.col("r_dot_ratio")
    )
    return out.withColumn("keep", (total == 6).cast("int"))


# ---------------------------------------------------------------------------
# Deterministic negative sampling for contrastive pairs.
# ---------------------------------------------------------------------------

_NEG_K = 4

NEGSAMPLE_ORACLE = f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, label FROM embeddings WHERE vec_id % 50 = 0
), ranked AS (
  SELECT a.anchor_id, e.vec_id AS negative_id, e.label AS neg_label,
         row_number() OVER (
           PARTITION BY a.anchor_id
           ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || ':' ||
                        CAST(e.vec_id AS VARCHAR)), e.vec_id
         ) AS rk
  FROM anchors a JOIN embeddings e
    ON e.label <> a.label AND e.vec_id <> a.anchor_id
)
SELECT anchor_id, negative_id, neg_label, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_NEG_K}
"""


@query("q_negative_samples", NEGSAMPLE_ORACLE)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor (every 50th vector), draw {_NEG_K} negatives from
    OTHER label classes, "randomly" but reproducibly — candidates are
    ranked by md5(anchor:candidate), a salted hash, so each anchor gets
    an independent pseudo-random draw and the same draw on every engine
    and every rerun (the property a training pipeline needs for
    resumable epoch shuffling; same policy as [[q_deterministic_sample]]).

    Scale shape: anchors broadcast against the corpus scan (label
    filter pushed into the join), and the per-anchor top-{_NEG_K} window
    is bounded. At real scale the full cross product is pruned first —
    hash-bucket candidates per anchor so each anchor scans ~{_NEG_K}x10
    candidates instead of the corpus — the plan gains one clustered
    shuffle, nothing else changes."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")
    )
    cands = emb.select(
        F.col("vec_id").alias("negative_id"), F.col("label").alias("neg_label")
    )
    joined = F.broadcast(anchors).join(
        cands,
        (F.col("neg_label") != F.col("a_label"))
        & (F.col("negative_id") != F.col("anchor_id")),
    )
    salt = F.md5(
        F.concat_ws(
            ":",
            F.col("anchor_id").cast("string"),
            F.col("negative_id").cast("string"),
        )
    )
    w = W.partitionBy("anchor_id").orderBy(salt, "negative_id")
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _NEG_K)
        .select("anchor_id", "negative_id", "neg_label", "rk")
    )


# ---------------------------------------------------------------------------
# Balanced class resampling: downsample every label to the minority count.
# ---------------------------------------------------------------------------

BALANCED_ORACLE = """
WITH cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
m AS (SELECT min(n) AS m FROM cnt),
ranked AS (
  SELECT vec_id, label,
         row_number() OVER (
           PARTITION BY label ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         ) AS rn
  FROM embeddings
)
SELECT vec_id, label, CAST(rn AS INT) AS rn
FROM ranked, m WHERE rn <= m.m
"""


@query("q_balanced_classes", BALANCED_ORACLE)
def q_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing for training: downsample every label to the
    minority class's size, drawing each label's survivors by md5 rank
    (deterministic, uniform, reproducible — the same draw every run and
    in the oracle). The output is exactly balanced, which is what a
    contrastive/classification fine-tune wants when label skew would
    otherwise dominate the loss.

    Scale: one count aggregate (broadcast single-row min) + one
    label-partitioned rank window — the same shape as
    [[q_stratified_sample]] but with the cap derived from the data
    instead of fixed."""
    emb = load_table(spark, sf_dir, "embeddings")
    cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    m = cnt.agg(F.min("n").alias("m"))
    w = W.partitionBy("label").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    ranked = emb.select("vec_id", "label", F.row_number().over(w).cast("int").alias("rn"))
    return ranked.crossJoin(F.broadcast(m)).filter(F.col("rn") <= F.col("m")).select(
        "vec_id", "label", "rn"
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram features).
# ---------------------------------------------------------------------------

_DSIR_B = 128  # feature buckets

DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({tokens_sql("text")}) AS term FROM documents
),
tb AS (
  SELECT doc_id, lang, {md5_long_sql("term")} % {_DSIR_B} AS b FROM toks
),
docb AS (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY 1, 2),
raw AS (SELECT b, count(*) AS rc FROM tb GROUP BY 1),
tgt AS (SELECT b, count(*) AS tc FROM tb WHERE lang = 'en' GROUP BY 1),
tot AS (
  SELECT count(*) AS rn, count(*) FILTER (lang = 'en') AS tn FROM tb
),
wts AS (
  SELECT raw.b,
         CAST(round((ln((coalesce(tgt.tc, 0) + 1.0) / (tot.tn + {_DSIR_B}))
                     - ln((raw.rc + 1.0) / (tot.rn + {_DSIR_B}))) * 1000000)
              AS BIGINT) AS lr6
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot
),
agg AS (
  SELECT d.doc_id, CAST(sum(d.c * w.lr6) AS BIGINT) AS s6,
         CAST(sum(d.c) AS BIGINT) AS n
  FROM docb d JOIN wts w ON d.b = w.b GROUP BY 1
)
SELECT doc_id, CAST(n AS INT) AS n_tok,
       round(s6 / (1000000.0 * n), 6) AS dsir_score,
       CAST(row_number() OVER (ORDER BY s6 / (1000000.0 * n) DESC, doc_id)
            AS INT) AS rk
FROM agg
"""


@query("q_dsir_weights", DSIR_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the average log importance ratio of its hashed unigram features
    between a target distribution (here: the English slice, standing in
    for "high-quality target domain") and the raw corpus, with add-1
    smoothing over {_DSIR_B} buckets. High-rank documents look like the
    target; resampling by this weight shifts the corpus mixture toward
    it without hand-written rules — the model-free complement of
    [[q_c4_rule_gate]] and the lexical analogue of [[semdedup_survivors]].

    Exactness: the bucket weight table rounds each log-ratio to 1e-6
    once ({_DSIR_B} rows, so any ulp disagreement between engines' ln()
    would surface as a hash mismatch loudly, not silently); per-document
    scores are then integer dot products (token-count x lr6), divided
    and rounded once at the end.

    Scale shape: the corpus is tokenized ONCE and immediately collapsed
    by a map-side-combining (doc, term)→count aggregate, so md5 runs
    per DISTINCT doc-term, not per token occurrence (measured ~5×
    cheaper at sf0.1: occurrences outnumber distinct doc-terms, and a
    natural-language corpus is Zipfian so the ratio only grows with
    scale). The checkpointed (doc, bucket, count) frame feeds both
    consumers. The bucket histogram is a count-weighted aggregate to
    {_DSIR_B} rows, collected driver-side (fixed-size O(B) reduction,
    same class as the d×d Gram collect) and folded back in as a LITERAL
    weight array — scoring is then one hash aggregate keyed on doc_id
    (element_at per bucket row, count-weighted sum), no join. The only
    global operation is the final rank — at 100 TB replace it with a
    quantile threshold from approx_quantile (selection, not ranking, is
    what resampling needs), and swap the checkpoint for recomputing the
    aggregate twice (storage-free).
    Reference has no corpus tooling; this extends SURVEY SS2 north-star."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    tb = (
        docs.select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "doc_id",
            "lang",
            (md5_long(F.col("term")) % _DSIR_B).alias("b"),
            "c",
        )
        .localCheckpoint(eager=True)
    )
    bkt = (
        tb.groupBy("b")
        .agg(
            F.sum("c").alias("rc"),
            F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias("tc"),
        )
        .collect()
    )
    rn = sum(r["rc"] for r in bkt)
    tn = sum(r["tc"] for r in bkt)

    def _lr6(rc: int, tc: int) -> int:
        v = (
            math.log((tc + 1.0) / (tn + _DSIR_B))
            - math.log((rc + 1.0) / (rn + _DSIR_B))
        ) * 1000000
        # HALF_UP away from zero, matching Spark round()/DuckDB round()
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    wts = {r["b"]: _lr6(r["rc"], r["tc"]) for r in bkt}
    lr6_arr = F.array(*[F.lit(wts.get(i, 0)) for i in range(_DSIR_B)])
    agg = tb.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.col("c") * F.element_at(lr6_arr, (F.col("b") + 1).cast("int"))
        ).alias("s6"),
    )
    score = F.col("s6") / (1000000.0 * F.col("n"))
    from ..functions.distributed import global_row_number

    scored = agg.select(
        "doc_id",
        F.col("n").cast("int").alias("n_tok"),
        score.alias("_score"),  # UNROUNDED: ranking must see full precision
    )
    # exact global rank without a single-partition WindowExec — the
    # two-pass range-partitioned row_number (functions/distributed.py)
    return global_row_number(
        scored, [F.col("_score").desc(), F.col("doc_id")], out="rk"
    ).select(
        "doc_id",
        "n_tok",
        F.round("_score", 6).alias("dsir_score"),
        F.col("rk").cast("int").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Length-grouped batching (padding-minimizing batch assignment).
# ---------------------------------------------------------------------------

_LGB_BUCKET = 32  # token-length bucket width
_LGB_BATCH = 8    # docs per batch

LGB_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tokens FROM documents
),
b AS (
  SELECT doc_id, tokens, tokens // {_LGB_BUCKET} AS bucket,
         CAST(row_number() OVER (PARTITION BY tokens // {_LGB_BUCKET}
                                 ORDER BY doc_id) - 1 AS BIGINT) AS rn
  FROM t
),
batches AS (
  SELECT bucket, rn // {_LGB_BATCH} AS batch_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(max(tokens) AS BIGINT) AS max_len,
         CAST(sum(tokens) AS BIGINT) AS sum_len
  FROM b GROUP BY 1, 2
)
SELECT bucket, batch_id, n_docs, max_len,
       CAST(max_len * n_docs - sum_len AS BIGINT) AS pad_waste
FROM batches
"""


@query("q_length_grouped_batches", LGB_ORACLE)
def q_length_grouped_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch assignment for training dataloaders: docs are
    bucketed by token length (width {_LGB_BUCKET}), numbered
    deterministically within their bucket, and cut into batches of
    {_LGB_BATCH}; each batch reports its padding waste
    (max_len·n_docs − Σlen — the tokens a per-batch-padded collator
    burns). Grouping by length first is what keeps that waste ≤
    bucket_width·(batch−1) instead of max_corpus_len·(batch−1) under
    random batching.

    Scale: one shuffle on the length bucket; the within-bucket
    row_number is a per-bucket window (buckets are numerous and
    length-distribution-bounded — no whole-corpus window). The
    deterministic doc_id order makes shard re-generation reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.ceil(F.col("n_chars") / 4.0).cast("long").alias("tokens")
    )
    b = t.select(
        "doc_id",
        "tokens",
        F.expr(f"tokens DIV {_LGB_BUCKET}").alias("bucket"),
    ).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("bucket").orderBy("doc_id")).cast("long")
        - 1,
    )
    return (
        b.groupBy("bucket", F.expr(f"rn DIV {_LGB_BATCH}").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("tokens").alias("max_len"),
            F.sum("tokens").alias("sum_len"),
        )
        .select(
            "bucket",
            "batch_id",
            "n_docs",
            "max_len",
            (F.col("max_len") * F.col("n_docs") - F.col("sum_len")).alias("pad_waste"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (multilingual/multi-domain upsampling).
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7  # the mT5/XLM-R default

TEMP_MIX_ORACLE = f"""
WITH per_source AS (
  SELECT source,
         CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(est_tokens) AS total FROM per_source),
powed AS (
  SELECT source, est_tokens,
         round(pow(est_tokens * 1.0 / (SELECT total FROM tot), {_TEMP_ALPHA}), 9)
           AS p_alpha
  FROM per_source
), z AS (SELECT sum(p_alpha) AS z FROM powed)
SELECT source, est_tokens,
       round(est_tokens * 1.0 / (SELECT total FROM tot), 6) AS raw_share,
       round(p_alpha / (SELECT z FROM z), 6) AS temp_share,
       round((p_alpha / (SELECT z FROM z))
             / (est_tokens * 1.0 / (SELECT total FROM tot)), 4) AS upsample_factor
FROM powed
"""


@query("q_temperature_mix", TEMP_MIX_ORACLE)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (p_i ∝ share_i^α, α={_TEMP_ALPHA}
    — the mT5/XLM-R upsampling rule): flattens the source distribution so
    low-resource domains are seen more than their raw token share while
    head domains still dominate. Emits each source's raw share, its
    temperature share, and the implied up/down-sampling factor the
    sampler applies. The α-power lands on an intermediate rounded to 9
    decimals BEFORE normalization so both engines' libm pow() noise
    (≈1 ulp) cannot reach the 6-dp outputs. Same scale shape as
    [[q_token_budget_mix]]: one partial-combinable corpus aggregate,
    then |sources|-row math."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.ceil(F.col("n_chars") / 4.0)).alias("est_tokens")
    )
    tot = per_source.agg(F.sum("est_tokens").alias("total"))
    powed = (
        per_source.crossJoin(F.broadcast(tot))
        .withColumn(
            "p_alpha",
            F.round(
                F.pow(F.col("est_tokens") / F.col("total"), F.lit(_TEMP_ALPHA)), 9
            ),
        )
    )
    z = powed.agg(F.sum("p_alpha").alias("z"))
    raw = F.col("est_tokens") / F.col("total")
    temp = F.col("p_alpha") / F.col("z")
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "source",
            "est_tokens",
            F.round(raw, 6).alias("raw_share"),
            F.round(temp, 6).alias("temp_share"),
            F.round(temp / raw, 4).alias("upsample_factor"),
        )
    )


# ---------------------------------------------------------------------------
# Train/test split-leakage report (cross-split near-duplicate audit).
# ---------------------------------------------------------------------------

LEAK_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS uid, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS uid, upper(text) || ' !!' AS text FROM documents
),
keyed AS (
  SELECT uid,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS k,
         CASE WHEN {md5_long_sql("CAST(uid AS VARCHAR)")} % 100 < 98 THEN 'train'
              WHEN {md5_long_sql("CAST(uid AS VARCHAR)")} % 100 = 98 THEN 'val'
              ELSE 'test' END AS split
  FROM corpus
),
by_key AS (
  SELECT k,
         max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
         max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
         max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test,
         CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS val_docs,
         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS test_docs
  FROM keyed GROUP BY k
)
SELECT CAST(count(*) AS BIGINT) AS n_content_keys,
       CAST(sum(in_train * in_val) AS BIGINT) AS keys_train_val,
       CAST(sum(in_train * in_test) AS BIGINT) AS keys_train_test,
       CAST(sum(in_train * in_val * val_docs) AS BIGINT) AS leaked_val_docs,
       CAST(sum(in_train * in_test * test_docs) AS BIGINT) AS leaked_test_docs
FROM by_key
"""


@query("q_split_leakage_report", LEAK_ORACLE)
def q_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: after the hash split of
    [[q_dataset_split]], how many NORMALIZED content keys (the
    [[dedup_normalized_exact]] key — case/punct-insensitive) appear in
    train AND in val/test? Eval rows whose content also sits in train
    inflate benchmark scores without measuring generalization — the
    within-corpus complement of [[q_contamination_ngram]]'s external
    benchmark decontamination. The corpus is documents plus a mutated
    re-crawl copy (id-shifted, case/noise-mutated), so leakage provably
    exists: the two copies of a text hash to different ids, land in
    independent splits, but share one content key.

    Scale: one normalize+hash map on the scan, one groupBy on content key
    carrying 0/1 membership flags (map-side combinable), one 1-row fold.
    No joins — the split-pair co-membership is flag algebra, not a
    self-join of splits."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 10_000_000).alias("uid"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = docs.select(F.col("doc_id").alias("uid"), "text").unionByName(mutated)
    h = md5_long(F.col("uid").cast("string")) % 100
    split = F.when(h < 98, "train").when(h == 98, "val").otherwise("test")
    norm_key = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    )
    keyed = corpus.select(norm_key.alias("k"), split.alias("split"))
    by_key = keyed.groupBy("k").agg(
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        F.max((F.col("split") == "val").cast("int")).alias("in_val"),
        F.max((F.col("split") == "test").cast("int")).alias("in_test"),
        F.sum((F.col("split") == "val").cast("int")).alias("val_docs"),
        F.sum((F.col("split") == "test").cast("int")).alias("test_docs"),
    )
    return by_key.agg(
        F.count(F.lit(1)).alias("n_content_keys"),
        F.sum(F.col("in_train") * F.col("in_val")).cast("long").alias("keys_train_val"),
        F.sum(F.col("in_train") * F.col("in_test")).cast("long").alias("keys_train_test"),
        F.sum(F.col("in_train") * F.col("in_val") * F.col("val_docs"))
        .cast("long")
        .alias("leaked_val_docs"),
        F.sum(F.col("in_train") * F.col("in_test") * F.col("test_docs"))
        .cast("long")
        .alias("leaked_test_docs"),
    )


# ---------------------------------------------------------------------------
# Soft dedup: downweight duplicates instead of dropping them.
# ---------------------------------------------------------------------------

_SOFT_NORM_RE = "[^a-z0-9]+"

SOFT_DEDUP_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS uid, text, source FROM documents
  UNION ALL
  -- mutated re-crawl (same construction as dedup_normalized_exact):
  -- case/punctuation noise that normalization must collapse
  SELECT doc_id + 10000000 AS uid, upper(text) || ' !!', source
  FROM documents
), normed AS (
  SELECT uid, source,
         md5(trim(regexp_replace(lower(text), '{_SOFT_NORM_RE}', ' ', 'g')))
           AS h,
         CAST(len(list_filter(
           regexp_split_to_array(lower(text), '{_SOFT_NORM_RE}'),
           t -> t <> '')) AS BIGINT) AS n_tokens
  FROM corpus
), sized AS (
  SELECT uid, source, n_tokens,
         count(*) OVER (PARTITION BY h) AS n_copies
  FROM normed
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(n_copies > 1 AS INT)) AS BIGINT) AS n_duplicated,
       CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
       CAST(sum(n_tokens * 1000000 // n_copies) AS BIGINT) AS eff_utokens,
       round(CAST(sum(n_tokens) AS BIGINT) * 1000000.0
             / sum(n_tokens * 1000000 // n_copies), 6) AS dup_inflation
FROM sized GROUP BY source
"""


@query("q_soft_dedup_weights", SOFT_DEDUP_ORACLE)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (SoftDeDup, Xie et al. 2024): instead of DROPPING
    duplicates, weight every document by 1/n_copies of its normalized
    content — repeated text still trains, but its gradient mass matches
    a deduplicated corpus. Emits the per-source ledger a mixture planner
    consumes: raw token mass vs effective (weighted) token mass and the
    inflation ratio — sources whose ratio is high are boilerplate farms
    ([[dedup_normalized_exact]] finds the copies; this prices them). The
    corpus includes the same mutated re-crawl fixture so cluster sizes
    are exercised.

    Exactness: per-doc effective mass is the integer µtoken quotient
    n_tokens·1e6 DIV n_copies (truncating division agrees across engines,
    test_divsafety.py), summed exactly; the single ratio rounds at 6dp.

    Scale: one groupBy(content-hash) sized via a hash-partitioned count
    window (key-partitioned, never global), then one groupBy(source) —
    two shuffles on the corpus, output bounded by the source count. The
    per-DOC weight table (uid, 1/n) is the same plan minus the final
    collapse, feeding the training sampler directly."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        F.col("doc_id").alias("uid"), "text", "source"
    ).unionAll(
        docs.select(
            (F.col("doc_id") + 10000000).alias("uid"),
            F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
            "source",
        )
    )
    norm = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), _SOFT_NORM_RE, " "))
    )
    normed = corpus.select(
        "uid",
        "source",
        norm.alias("h"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    sized = normed.withColumn(
        "n_copies", F.count(F.lit(1)).over(W.partitionBy("h"))
    )
    eff = F.expr("n_tokens * 1000000 DIV n_copies")
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_copies") > 1).cast("int")).cast("long").alias("n_duplicated"),
        F.sum("n_tokens").alias("raw_tokens"),
        F.sum(eff).alias("eff_utokens"),
        F.round(
            F.sum("n_tokens") * 1000000.0 / F.sum(eff), 6
        ).alias("dup_inflation"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-epoch global shuffle + fixed-size batch plan.
# ---------------------------------------------------------------------------

_SHUF_EPOCHS = 2
_SHUF_BATCH = 32

EPOCH_SHUFFLE_ORACLE = f"""
WITH e AS (
  SELECT doc_id, epoch,
         {md5_long_sql("epoch || ':' || doc_id")} AS h
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, {_SHUF_EPOCHS})) AS epoch)
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), ranked AS (
  SELECT doc_id, epoch, h,
         row_number() OVER (ORDER BY epoch, h, doc_id) AS rk
  FROM e
)
SELECT doc_id, CAST(epoch AS INT) AS epoch,
       CAST((rk - 1 - epoch * n_docs) // {_SHUF_BATCH} AS BIGINT) AS batch_id,
       CAST((rk - 1 - epoch * n_docs) % {_SHUF_BATCH} AS INT) AS pos
FROM ranked CROSS JOIN n
"""


@query("q_epoch_shuffle_plan", EPOCH_SHUFFLE_ORACLE)
def q_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order plan: a deterministic, independently re-derivable
    global permutation of the corpus per epoch, chopped into fixed-size
    batches — what a data loader needs from a 100 TB corpus (shuffling
    must happen HERE, in the engine, because no trainer can shuffle what
    it streams). Order = md5(epoch:doc_id), so epochs are decorrelated,
    any worker can recompute its own slice, and resuming epoch 3 batch
    41,000 is a filter, not a replay.

    Exactness: the rank is over the unique key (epoch, hash, doc_id);
    batch/pos are integer DIV/% of the per-epoch index (rank minus
    epoch·N, N in-plan via a broadcast 1-row count).

    Scale: the permutation is [[functions/distributed.py]]'s two-pass
    global_row_number — range-partition on (epoch, hash), rank locally,
    shift by broadcast offsets — never a single-partition window. This is
    also the scale answer for the batch boundary: batches never
    materialize; they are arithmetic on the rank."""
    from ..functions.distributed import global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_SHUF_EPOCHS - 1))).alias("epoch"),
    ).select(
        "doc_id",
        "epoch",
        md5_long(
            F.concat(F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id"))
        ).alias("h"),
    )
    ranked = global_row_number(
        e, [F.col("epoch"), F.col("h"), F.col("doc_id")], "rk"
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idx = (F.col("rk") - 1 - F.col("epoch") * F.col("n_docs")).cast("long")
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("epoch").cast("int").alias("epoch"),
            idx.alias("_idx"),
        )
        .select(
            "doc_id",
            "epoch",
            F.expr(f"_idx DIV {_SHUF_BATCH}").alias("batch_id"),
            (F.col("_idx") % _SHUF_BATCH).cast("int").alias("pos"),
        )
    )
