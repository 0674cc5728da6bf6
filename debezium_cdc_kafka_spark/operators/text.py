"""Text analysis operators over the documents table (north-star extension).

Language-ID, quality scoring, token counting, and fingerprinting — the
per-document passes a training-data pipeline runs before dedup/filtering.
All pure `pyspark.sql.functions` column algebra (split/regexp/array ops),
whole-stage-codegen'd; nothing leaves the JVM.

Scale: every operator here is a narrow map over documents — no shuffle at
all except the final aggregates — so they pipeline with the Parquet scan
and with each other at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions.hashing import md5_long, md5_long_sql
from ..functions.textfns import tokens, tokens_sql
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

_SW_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

STATS_ORACLE = f"""
WITH t AS (SELECT doc_id, text, n_chars, {tokens_sql("text")} AS toks FROM documents)
SELECT
  doc_id,
  CAST(len(toks) AS INT) AS n_tokens,
  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / greatest(len(toks), 1), 4)
                         AS avg_token_len,
  round(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS punct_ratio,
  round(CAST(len(list_filter(toks, t -> list_contains({_SW_LIST_SQL}, t))) AS DOUBLE)
        / greatest(len(toks), 1), 4) AS stopword_ratio,
  CAST(length(text) = n_chars AS INT) AS len_consistent
FROM t
"""


@query("text_quality_stats", STATS_ORACLE)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    punctuation ratio, stopword ratio — the standard heuristic filters
    (C4/Gopher-style) a data pipeline thresholds on."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_toks = F.size(toks)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.greatest(n_toks, F.lit(1)),
            4,
        ).alias("avg_token_len"),
        F.round(
            F.length(F.regexp_replace(F.lower("text"), "[a-z0-9 ]", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1)),
            4,
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
            / F.greatest(n_toks, F.lit(1)),
            4,
        ).alias("stopword_ratio"),
        (F.length("text") == F.col("n_chars")).cast("int").alias("len_consistent"),
    )


# ---------------------------------------------------------------------------
# Language ID: marker-token voting (n-gram heuristic classifier).
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "und", "die", "nicht", "ist"),
    "es": ("el", "los", "que", "una", "para"),
    "fr": ("le", "les", "des", "est", "une"),
}

_LANG_ORDER = tuple(LANG_MARKERS)  # deterministic tiebreak order


def _lang_score_sql(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
    return f"len(list_filter(toks, t -> list_contains({lst}, t)))"


_BEST_SQL = "greatest(" + ", ".join(f"s_{lg}" for lg in _LANG_ORDER) + ")"
_PRED_SQL = (
    "CASE WHEN " + _BEST_SQL + " = 0 THEN 'unknown' "
    + " ".join(f"WHEN s_{lg} = {_BEST_SQL} THEN '{lg}'" for lg in _LANG_ORDER)
    + " END"
)

LANGID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {tokens_sql("text")} AS toks FROM documents),
scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANG_ORDER)}
  FROM t
)
SELECT doc_id, lang AS labeled_lang, {_PRED_SQL} AS pred_lang,
       CAST({_BEST_SQL} AS INT) AS score
FROM scored
"""


@query("text_langid", LANGID_ORACLE)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: count hits from per-language stopword
    sets, argmax with a fixed tiebreak order (first language in declaration
    order wins; zero hits → 'unknown'). The synthetic corpus is English-
    flavored so this mostly predicts 'en' — the operator under test is the
    classifier plumbing, not the lexicons."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def score(lg: str):
        # bind the marker array outside the lambda: a 2-arg lambda would be
        # treated as the (element, index) higher-order-function form
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lg]])
        return F.size(F.filter(toks, lambda t: F.array_contains(markers, t))).alias(f"s_{lg}")

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[score(lg) for lg in _LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in _LANG_ORDER])
    pred = F.when(best == 0, "unknown")
    for lg in _LANG_ORDER:
        pred = pred.when(F.col(f"s_{lg}") == best, lg)
    return scored.select(
        "doc_id", "labeled_lang", pred.alias("pred_lang"), best.cast("int").alias("score")
    )


# ---------------------------------------------------------------------------
# Token counting: whitespace words vs BPE-ish subword segments.
# ---------------------------------------------------------------------------

TOKCOUNT_ORACLE = f"""
WITH t AS (
  SELECT source,
         {tokens_sql("text")} AS words,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS bpeish,
         length(text) AS n_chars
  FROM documents
)
SELECT source,
       count(*)                                  AS n_docs,
       CAST(sum(len(words)) AS BIGINT)           AS total_words,
       CAST(sum(len(bpeish)) AS BIGINT)          AS total_bpeish_tokens,
       CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS est_llm_tokens
FROM t
GROUP BY source
"""


@query("text_token_counts", TOKCOUNT_ORACLE)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace words, a BPE-ish
    regex segmentation (letters / digits / single punctuation — the GPT-2
    pre-tokenizer shape), and the chars/4 rule-of-thumb LLM estimate."""
    docs = load_table(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    bpeish = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    return (
        docs.select("source", words.alias("w"), bpeish.alias("b"), F.length("text").alias("nc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("w")).alias("total_words"),
            F.sum(F.size("b")).alias("total_bpeish_tokens"),
            F.sum(F.ceil(F.col("nc") / 4.0)).alias("est_llm_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Document fingerprinting.
# ---------------------------------------------------------------------------

FNGR_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_fp,
         md5(array_to_string(list_sort(list_distinct({tokens_sql("text")})), ' ')) AS bag_fp
  FROM documents
)
SELECT doc_id, norm_fp, bag_fp,
       count(*) OVER (PARTITION BY bag_fp) AS bag_group_size
FROM t
"""


@query("text_fingerprint", FNGR_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two canonical fingerprints per document: normalized-text md5
    (whitespace/punctuation-insensitive exact dup) and sorted-bag-of-words
    md5 (word-order-insensitive dup, OpenRefine-style clustering key),
    plus the bag-collision group size — docs sharing a bag_fp are
    reorderings of the same vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col("text")))))
    t = docs.select("doc_id", F.md5(norm).alias("norm_fp"), F.md5(bag).alias("bag_fp"))
    return t.withColumn("bag_group_size", F.count(F.lit(1)).over(W.partitionBy("bag_fp")))


# Dialect-portable regexes: character classes only — no \d, \b, or
# lookaround, which differ between Java regex (Spark) and RE2-ish engines.
_EMAIL_RE = "[a-z0-9]+@[a-z][a-z.]*[a-z]"
_PHONE_RE = "[+]1-555-[0-9]{4}"

REDACT_ORACLE = f"""
WITH augmented AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example or +1-555-' ||
           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
FROM augmented
"""


@query("text_redact_pii", REDACT_ORACLE)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: match emails/phones, count them, and replace
    with placeholder tags. The corpus is synthetic (no real PII), so the
    query first injects a deterministic email + phone per document — both
    engines inject identically, and the md5 of the redacted text proves
    byte-identical redaction output. Pure regexp column algebra: one
    narrow map over documents, no shuffle, codegen'd in the JVM — the
    shape of every scrubbing pass in a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql("text")}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term, n
)
SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rk
  FROM scored
) WHERE rk <= 3
"""


@query("text_tfidf_top_terms", TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword-extraction pass of a
    corpus pipeline. tf is a (doc, term) groupBy; df a term groupBy whose
    result is vocabulary-sized (tiny relative to the corpus — broadcast);
    ranking is a per-document top-k window, bounded by k. The score is
    rounded to 6 decimals BEFORE ranking so a 1-ulp ln() difference
    between engines can't flip an ordering. At 100 TB both aggregates are
    partial-combinable and the only large shuffle keys on (doc, term) —
    uniform by construction."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


# ---------------------------------------------------------------------------
# Repetition-based quality filtering (Gopher-style rules).
# ---------------------------------------------------------------------------

_BIGRAMS_SQL = f"""
  CASE WHEN len(tok) >= 2
       THEN list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])
       ELSE [] END
"""

REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql("text")} AS tok
  FROM documents
), b AS (
  SELECT doc_id, tok, {_BIGRAMS_SQL} AS bg FROM t
), m AS (
  SELECT doc_id,
         round(1.0 - len(list_distinct(tok))::DOUBLE / len(tok), 6) AS dup_word_frac,
         CASE WHEN len(bg) > 0 THEN
           round(list_max(list_transform(list_distinct(bg),
                   x -> len(list_filter(bg, y -> y = x))))::DOUBLE / len(bg), 6)
         ELSE 0.0 END AS top_bigram_frac
  FROM b
)
SELECT doc_id, dup_word_frac, top_bigram_frac,
       (dup_word_frac <= 0.6 AND top_bigram_frac <= 0.08) AS keep
FROM m
"""


@query("text_repetition_filter", REPETITION_ORACLE)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter in the style of the Gopher rules
    (Rae et al. 2021 §A1.1): docs dominated by repeated words or by one
    repeated bigram are boilerplate/spam and get keep=false. Two metrics:
    duplicate-word fraction (1 − distinct/total) and the fraction of all
    bigram occurrences claimed by the single most frequent bigram.

    All per-row array algebra — bigrams are built O(n) by indexing, the
    mode count is O(distinct·n) on ≤few-hundred-word docs — so the whole
    filter is a narrow map that pipelines with the Parquet scan; at
    100 TB it runs shuffle-free and the keep flag can gate downstream
    passes via ordinary predicate pushdown."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("tok"))
    tok = F.col("tok")
    bigrams = F.when(
        F.size(tok) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - 1),
            lambda i: F.concat_ws(" ", F.element_at(tok, i), F.element_at(tok, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    b = t.select("doc_id", "tok", bigrams.alias("bg"))
    bg = F.col("bg")
    top_count = F.array_max(
        F.transform(F.array_distinct(bg), lambda x: F.size(F.filter(bg, lambda y: y == x)))
    )
    m = b.select(
        "doc_id",
        F.round(1.0 - F.size(F.array_distinct(tok)) / F.size(tok), 6).alias("dup_word_frac"),
        F.when(F.size(bg) > 0, F.round(top_count / F.size(bg), 6))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )
    return m.select(
        "doc_id",
        "dup_word_frac",
        "top_bigram_frac",
        ((F.col("dup_word_frac") <= 0.6) & (F.col("top_bigram_frac") <= 0.08)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Shannon entropy scoring (char- and word-level).
# ---------------------------------------------------------------------------

def _entropy_sql(arr: str) -> str:
    """DuckDB: -Σ p·log2(p) over the sorted distinct elements of arr.
    Sequential list_sum fold in sorted order = bit-identical to Spark's
    F.aggregate fold over the same sorted order."""
    return (
        f"round(-list_sum(list_transform(list_sort(list_distinct({arr})), "
        f"x -> (len(list_filter({arr}, y -> y = x))::DOUBLE / len({arr})) "
        f"* log2(len(list_filter({arr}, y -> y = x))::DOUBLE / len({arr})))), 6)"
    )


ENTROPY_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), ''), c -> c <> '') AS cs,
         {tokens_sql("text")} AS tok
  FROM documents
)
SELECT doc_id,
       CAST(len(list_distinct(cs)) AS INT)  AS n_unique_chars,
       CAST(len(list_distinct(tok)) AS INT) AS n_unique_words,
       {_entropy_sql("cs")}  AS char_entropy_bits,
       {_entropy_sql("tok")} AS word_entropy_bits
FROM t
"""


def _entropy(arr) -> "F.Column":
    n = F.size(arr)
    terms = F.transform(
        F.array_sort(F.array_distinct(arr)),
        lambda x: (F.size(F.filter(arr, lambda y: y == x)) / n)
        * F.log2(F.size(F.filter(arr, lambda y: y == x)) / n),
    )
    return F.round(-F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v), 6)


@query("text_entropy", ENTROPY_ORACLE)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy at character and word level — the
    classic cheap perplexity proxy for corpus filtering: near-zero
    entropy means degenerate repetition, unusually high char entropy
    means binary junk / encoded blobs. Both entropies fold −Σ p·log2(p)
    over the SORTED distinct elements so Spark's sequential F.aggregate
    and DuckDB's list_sum add terms in the same order (float addition
    isn't associative; sorting makes the fold deterministic across
    engines). Narrow per-row map, shuffle-free at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    cs = F.filter(F.split(F.lower("text"), ""), lambda c: c != "")
    t = docs.select("doc_id", cs.alias("cs"), tokens(F.col("text")).alias("tok"))
    return t.select(
        "doc_id",
        F.size(F.array_distinct("cs")).alias("n_unique_chars"),
        F.size(F.array_distinct("tok")).alias("n_unique_words"),
        _entropy(F.col("cs")).alias("char_entropy_bits"),
        _entropy(F.col("tok")).alias("word_entropy_bits"),
    )


# ---------------------------------------------------------------------------
# Inverted index build (term → posting list).
# ---------------------------------------------------------------------------

INVERTED_ORACLE = """
SELECT t.term,
       CAST(count(DISTINCT d.doc_id) AS BIGINT) AS doc_freq,
       CAST(count(*) AS BIGINT) AS term_freq,
       array_to_string(
         list_transform(list_sort(list(DISTINCT d.doc_id)),
                        x -> CAST(x AS VARCHAR)), ',') AS postings
FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
WHERE t.term <> ''
GROUP BY t.term
"""


@query("q_inverted_index", INVERTED_ORACLE)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text inverted index: one row per term with document
    frequency, collection frequency, and the sorted posting list of
    doc_ids — the core retrieval/BM25 data structure. Shape: explode the
    token stream (narrow, stays in the scan stage), one shuffle on term.
    Posting lists are sorted so the output is deterministic
    ([[spark-duckdb-oracle-parity]]: never emit unsorted collected
    arrays), and emitted as a ','-joined string because the driver's
    pandas canonicalizer cannot hash list cells (r3 red row); the
    sorted-int string is a lossless encoding of the posting list.
    At 100 TB postings for stopword-grade terms exceed a single
    task's memory — the production layout shards the posting list by
    (term, doc_id DIV B) into fixed-size blocks, which this same plan
    produces by adding the block id to the groupBy; the tiny vocabulary
    here doesn't need it."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    return toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("term_freq"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval over the inverted-index statistics.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20

_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)

BM25_ORACLE = f"""
WITH toks AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) / CAST(count(*) AS BIGINT) * 1.0 AS avgdl
  FROM dl
), qterms AS (SELECT * FROM (VALUES {_BM25_TERMS_SQL}) AS q(term)),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN (SELECT term FROM qterms)
  GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * tf.tf * ({_BM25_K1} + 1.0)
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * dl.dl / stats.avgdl)) * 1000000
         ) AS BIGINT) AS c6
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id,
       round(CAST(sum(c6) AS BIGINT) / 1000000.0, 6) AS bm25,
       CAST(row_number() OVER (
         ORDER BY CAST(sum(c6) AS BIGINT) DESC, doc_id) AS INT) AS rk
FROM contrib
GROUP BY doc_id
QUALIFY rk <= {_BM25_TOPK}
"""


@query("q_bm25_search", BM25_ORACLE)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query ({', '.join(_BM25_TERMS)}):
    Lucene-style idf, k1/b length normalization, top-{_BM25_TOPK} docs.
    Per-term contributions are rounded to µ-units and summed as exact
    integers so the 3-term per-doc sum is order-independent (the same
    policy as every money sum — [[spark-duckdb-oracle-parity]]).

    Scale shape: the token explode stays in the scan stage; tf is
    filtered to the query's terms BEFORE its shuffle (the whole corpus
    never shuffles — only matching postings); df and the corpus stats are
    tiny broadcast aggregates; the final ranking is a top-k over
    |matching docs|. This is retrieval over the materialized
    [[q_inverted_index]] in the production layout — here recomputed
    inline so the query is self-contained."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1)) * 1.0).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    c6 = F.round(idf * F.col("tf") * (_BM25_K1 + 1.0) / denom * 1000000).cast("long")
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", c6.alias("c6"))
    )
    scored = contrib.groupBy("doc_id").agg(F.sum("c6").alias("s6"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # k-heaps) instead of ranking every scored doc through one global
    # window; the row_number then ranks only the k survivors
    top = scored.orderBy(F.col("s6").desc(), "doc_id").limit(_BM25_TOPK)
    w = W.orderBy(F.col("s6").desc(), "doc_id")
    return top.select(
        "doc_id",
        F.round(F.col("s6") / 1000000.0, 6).alias("bm25"),
        F.row_number().over(w).cast("int").alias("rk"),
    )


# ---------------------------------------------------------------------------
# RAG-style document chunking (fixed window + overlap).
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 500
_CHUNK_STRIDE = 400          # size 500, overlap 100


CHUNK_ORACLE = f"""
WITH spans AS (
  SELECT doc_id, text, n_chars,
         greatest(1, CAST(ceil((n_chars - {_CHUNK_SIZE - _CHUNK_STRIDE})
                               / {_CHUNK_STRIDE}.0) AS BIGINT)) AS n_chunks
  FROM documents
), exploded AS (
  SELECT doc_id, text, n_chars, unnest(range(0, n_chunks)) AS i FROM spans
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(i * {_CHUNK_STRIDE} AS BIGINT) AS start_off,
       CAST(least(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n_chars)
            - i * {_CHUNK_STRIDE} AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(i * {_CHUNK_STRIDE} + 1 AS INT),
                  CAST(least(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n_chars)
                       - i * {_CHUNK_STRIDE} AS INT))) AS chunk_md5
FROM exploded
"""


@query("q_doc_chunking", CHUNK_ORACLE)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of every document ({_CHUNK_SIZE}-char
    windows, {_CHUNK_SIZE - _CHUNK_STRIDE}-char overlap) — the RAG
    ingestion step that turns documents into embeddable passages. Each
    chunk carries its offset, length, and content hash (the hash stands
    in for the text to keep the result narrow). Pure per-row explode:
    chunk counts derive from n_chars, windows from substr — no shuffle,
    no UDF, runs at scan speed at any scale. Token-aware chunking swaps
    the char arithmetic for the token-offset column of
    [[q_sequence_packing]]; the plan shape is identical."""
    docs = load_table(spark, sf_dir, "documents")
    overlap = _CHUNK_SIZE - _CHUNK_STRIDE
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("n_chars") - overlap) / float(_CHUNK_STRIDE)).cast("long"),
    )
    spans = docs.select(
        "doc_id", "text", "n_chars", n_chunks.alias("n_chunks")
    ).select(
        "doc_id",
        "text",
        "n_chars",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)).alias("i"),
    )
    start = F.col("i") * _CHUNK_STRIDE
    end = F.least(start + _CHUNK_SIZE, F.col("n_chars"))
    return spans.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        start.cast("long").alias("start_off"),
        (end - start).cast("long").alias("chunk_len"),
        F.md5(
            F.expr(
                f"substr(text, CAST(i * {_CHUNK_STRIDE} + 1 AS INT), "
                f"CAST(least(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n_chars) "
                f"- i * {_CHUNK_STRIDE} AS INT))"
            )
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Unigram language-model scoring (the CCNet-style perplexity proxy).
# ---------------------------------------------------------------------------

UNIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
), counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term
), total AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM counts
), contrib AS (
  SELECT t.doc_id,
         CAST(round((ln(c.cnt) - ln(tt.tot)) * 1000000) AS BIGINT) AS lp6
  FROM toks t JOIN counts c USING (term) CROSS JOIN total tt
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(lp6) AS BIGINT) AS s6
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(CAST(s6 AS DOUBLE) / n_tokens / 1000000.0, 6) AS avg_logprob,
       CAST(ntile(10) OVER (
         ORDER BY CAST(s6 AS DOUBLE) / n_tokens DESC, doc_id) AS INT)
         AS quality_decile
FROM per_doc
"""


@query("text_unigram_logprob", UNIGRAM_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under a language model
    fit on the corpus itself, plus a quality decile — the CCNet recipe
    (score each doc under a reference LM, keep the best tail) with the
    KenLM model swapped for a self-trained unigram table so the whole
    pass stays in SQL. High-probability (common-word) docs land in
    decile 1, rare/garbled text in decile 10.

    Cross-engine exactness: each token's log-prob is rounded to µ-units
    and the per-doc mean is an exact integer sum divided once at the
    end, the same policy as [[q_bm25_search]]. The decile split orders
    by the exact ratio with doc_id as tiebreak, so ntile cuts
    identically on both engines.

    Scale shape: the term-count table is one partial-aggregatable
    groupBy over the token explode; it is then REJOINED to the token
    stream on term — a broadcast join for any real vocabulary (Zipf:
    vocab grows ~ sqrt(corpus)), so the corpus itself never shuffles.
    The only corpus-keyed shuffle is the per-doc sum, keyed by doc_id.
    The decile runs as the exact two-pass ntile over (score, doc_id)
    (functions/distributed.py) — one row per doc, range-partitioned, no
    single-partition WindowExec even at ~1e9 docs; an approx-quantile
    threshold lookup remains the one-pass alternative."""
    from ..functions.distributed import global_ntile

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    lp6 = F.round((F.log("cnt") - F.log("tot")) * 1000000).cast("long")
    contrib = (
        toks.join(F.broadcast(counts), "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp6.alias("lp6"))
    )
    per_doc = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("lp6").alias("s6")
    )
    ratio = F.col("s6").cast("double") / F.col("n_tokens")
    tiled = global_ntile(
        per_doc.withColumn("_r", ratio),
        [F.col("_r").desc(), F.col("doc_id")],
        10,
        out="quality_decile",
    )
    return tiled.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_r") / 1000000.0, 6).alias("avg_logprob"),
        "quality_decile",
    )


# ---------------------------------------------------------------------------
# Bigram LM scoring: interpolated with the unigram model.
# ---------------------------------------------------------------------------

BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), uni AS (
  SELECT doc_id, unnest(t) AS term FROM toks
), ucnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY term
), utot AS (SELECT CAST(sum(cu) AS BIGINT) AS tot FROM ucnt),
big AS (
  SELECT doc_id,
         t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
), c2 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2 FROM big GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS n1 FROM big GROUP BY w1
), contrib AS (
  SELECT b.doc_id,
         CAST(round(ln(0.7 * (CAST(c2.n2 AS DOUBLE) / c1.n1)
                       + 0.3 * (CAST(u.cu AS DOUBLE) / tt.tot)) * 1000000)
              AS BIGINT) AS lp6
  FROM big b
  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
  JOIN c1 ON c1.w1 = b.w1
  JOIN ucnt u ON u.term = b.w2
  CROSS JOIN utot tt
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lp6) AS BIGINT) AS s6
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(CAST(s6 AS DOUBLE) / n_bigrams / 1000000.0, 6) AS avg_logprob,
       CAST(ntile(10) OVER (
         ORDER BY CAST(s6 AS DOUBLE) / n_bigrams DESC, doc_id) AS INT)
         AS quality_decile
FROM per_doc
"""


@query("text_bigram_logprob", BIGRAM_ORACLE)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean BIGRAM log-probability under a self-trained
    2-gram model interpolated with the unigram model
    (p = 0.7·c(w1w2)/c(w1·) + 0.3·p_uni(w2)) — one rung up the
    perplexity-filter ladder from [[text_unigram_logprob]]: word-salad
    documents whose individual words are common now score badly because
    their TRANSITIONS are rare. Docs with fewer than 2 tokens drop out.

    Cross-engine exactness: the unigram policy — per-bigram log-probs in
    µ-units, exact integer sums per doc, one division at the end, ntile
    ordered by the exact ratio with doc_id tiebreak. The interpolation
    expression is written with identical operation order in both
    engines so the doubles agree before rounding.

    Scale shape: bigram extraction is per-row array zipping (no
    shuffle); the three model tables (bigram counts, left-context
    counts, unigram counts) are Zipf-small and broadcast back onto the
    bigram stream; the only corpus-keyed shuffle is the per-doc sum.
    The same plan at 100 TB materializes the count tables once and
    reuses them (they ARE the trained LM)."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda t: t != "")
    toks = docs.select("doc_id", arr.alias("t"))
    uni = toks.select("doc_id", F.explode("t").alias("term"))
    ucnt = uni.groupBy("term").agg(F.count(F.lit(1)).alias("cu"))
    utot = ucnt.agg(F.sum("cu").alias("tot"))
    n1arr = F.greatest(F.size("t") - 1, F.lit(1))
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, n1arr),
                    F.slice("t", 2, n1arr),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    p = F.lit(0.7) * (F.col("n2").cast("double") / F.col("n1")) + F.lit(0.3) * (
        F.col("cu").cast("double") / F.col("tot")
    )
    contrib = (
        big.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(ucnt.withColumnRenamed("term", "w2")), "w2")
        .crossJoin(F.broadcast(utot))
        .select(
            "doc_id", F.round(F.log(p) * 1000000).cast("long").alias("lp6")
        )
    )
    per_doc = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("lp6").alias("s6")
    )
    ratio = F.col("s6").cast("double") / F.col("n_bigrams")
    from ..functions.distributed import global_ntile

    tiled = global_ntile(
        per_doc.withColumn("_r", ratio),
        [F.col("_r").desc(), F.col("doc_id")],
        10,
        out="quality_decile",
    )
    return tiled.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("_r") / 1000000.0, 6).alias("avg_logprob"),
        "quality_decile",
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF document similarity via the inverted index.
# ---------------------------------------------------------------------------

_DOCSIM_TAU = 0.3

# Absolute posting-list bound on the stop-term cap. The fractional n/5 cap
# alone leaves the term self-join's fanout at Σ df² ≤ V·(n/5)² = O(n²) —
# measured r6 on a ×16 fixture: 1.2s → 288s (236×), the quadratic hiding
# under the ×4 sweep's noise floor. min(n/5, 1000) keeps every checked-in
# fixture's kept-term set IDENTICAL (the min engages only beyond n = 5,000
# docs, the largest fixture) and bounds per-term fanout at C(1000,2) at any
# corpus size — the sklearn max_df=int convention; at 100 TB the dropped
# head terms are exactly the ones a banded path (dedup_minhash_lsh) or a
# BM25 impact-ordered index would prune anyway.
_DOCSIM_MAX_DF = 1000

DOCSIM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql("text")}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
wts AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS w
  FROM tf JOIN df ON tf.term = df.term, n
  WHERE df.df <= least(greatest(n.n_docs // 5, 2), {_DOCSIM_MAX_DF})
),
nrm AS (
  SELECT doc_id, CAST(sum(CAST(round(w * w * 1000000) AS BIGINT)) AS BIGINT) AS n6
  FROM wts GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(sum(CAST(round(a.w * b.w * 1000000) AS BIGINT)) AS BIGINT) AS dot6
  FROM wts a JOIN wts b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY d1, d2
)
SELECT d1, d2,
       round((dot6 / 1000000.0)
             / sqrt((n1.n6 / 1000000.0) * (n2.n6 / 1000000.0)), 3) AS cosine
FROM dots JOIN nrm n1 ON n1.doc_id = d1 JOIN nrm n2 ON n2.doc_id = d2
WHERE (dot6 / 1000000.0)
      / sqrt((n1.n6 / 1000000.0) * (n2.n6 / 1000000.0)) >= {_DOCSIM_TAU}
"""


@query("text_tfidf_doc_similarity", DOCSIM_ORACLE)
def text_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse document similarity: cosine over TF-IDF vectors computed
    through the inverted index — the term-keyed self-join touches only
    term-sharing pairs, never the all-pairs cross product. The lexical
    complement of [[dedup_embedding_cosine]]: catches near-identical
    wording that different embeddings may score apart, and vice versa.
    Terms appearing in more than min(n/5, 1000) docs are dropped (the
    fractional stop-term guard of [[dedup_ngram_jaccard_capped]] PLUS an
    absolute posting-list bound — a fractional cap alone leaves the term
    self-join at Σ df² = O(n²); see _DOCSIM_MAX_DF, measured ×16).

    Exactness: weights round to 1e-6 first; dot products and norms are
    µ-unit integer sums; the final cosine divides once and rounds.

    Scale shape: the corpus is tokenized exactly ONCE — `tf` already
    holds one row per distinct (doc, term), so document frequency is a
    plain count over `tf`, not a countDistinct over the raw token
    stream (same single-pass discipline as [[q_dsir_weights]]). df and
    the per-doc norm are WINDOW functions over tf (partitioned by term
    and by doc_id respectively) rather than separate aggregate +
    broadcast-join passes: the norm rides along into the pair join, so
    the whole query is one linear pipeline with zero broadcast builds —
    measured 25% faster than the aggregate+rejoin form at sf0.1 (the
    broadcast futures were pure orchestration overhead). A term's
    window partition is its posting list, the same unit of work the
    pair join processes — the df cap bounds both. `wts` feeds both
    join sides — a diamond Catalyst would recompute — so it is
    materialized once (localCheckpoint; at 100 TB this is the step
    you'd checkpoint to a table). The pair join keys on term with the
    hot head capped, so fanout is bounded by the df cap; per-pair
    accumulation keys on (d1, d2). This is the classic
    sparse-similarity plan (ElasticSearch's more-like-this, Spark's
    ColumnSimilarity)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # O(1)-result reduction, same discipline as the Gram/offset collects.
    n_docs = docs.count()
    # tf has one row per (doc, term): df == count(*) == countDistinct(doc_id).
    wts = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term")))
        .filter(F.col("df") <= min(max(n_docs // 5, 2), _DOCSIM_MAX_DF))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("w"),
        )
    )
    w6 = lambda c: F.round(c * 1000000).cast("long")
    wts = wts.withColumn(
        "n6", F.sum(w6(F.col("w") * F.col("w"))).over(W.partitionBy("doc_id"))
    ).localCheckpoint(eager=True)
    a = wts.select(
        F.col("doc_id").alias("d1"),
        "term",
        F.col("w").alias("w1"),
        F.col("n6").alias("n1_6"),
    )
    b = wts.select(
        F.col("doc_id").alias("d2"),
        "term",
        F.col("w").alias("w2"),
        F.col("n6").alias("n2_6"),
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.sum(w6(F.col("w1") * F.col("w2"))).alias("dot6"),
            F.first("n1_6").alias("n1_6"),
            F.first("n2_6").alias("n2_6"),
        )
    )
    cos = (F.col("dot6") / 1000000.0) / F.sqrt(
        (F.col("n1_6") / 1000000.0) * (F.col("n2_6") / 1000000.0)
    )
    return dots.filter(cos >= _DOCSIM_TAU).select(
        "d1", "d2", F.round(cos, 3).alias("cosine")
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: a linear probe over heuristic features.
# ---------------------------------------------------------------------------

CLASSIFIER_ORACLE = f"""
WITH t AS (SELECT doc_id, text, {tokens_sql("text")} AS toks FROM documents),
feats AS (
  SELECT doc_id,
    round(CAST(len(list_filter(toks, t -> list_contains({_SW_LIST_SQL}, t))) AS DOUBLE)
          / greatest(len(toks), 1), 4) AS sw,
    round(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS punct,
    least(len(toks), 300) AS nt,
    round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / greatest(len(toks), 1), 4) AS al
  FROM t
),
z AS (
  SELECT doc_id, sw, punct,
         ((((-2.0 + 6.0 * sw) - 8.0 * punct) + 0.01 * nt) + 0.2 * al) AS z
  FROM feats
)
SELECT doc_id, sw AS stopword_ratio, punct AS punct_ratio,
       round(1.0 / (1.0 + exp(-round(z, 6))), 4) AS quality_score,
       CAST(1.0 / (1.0 + exp(-round(z, 6))) >= 0.5 AS INT) AS keep
FROM z
"""


@query("text_quality_classifier", CLASSIFIER_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the FineWeb-Edu / CCNet pattern): a
    logistic probe over the heuristic features of [[text_quality_stats]]
    — stopword ratio up-weighted, punctuation ratio down-weighted, token
    count and token length as mild priors — squashed through a sigmoid
    into a calibrated-looking [0,1] score with a 0.5 keep cut. Weights
    are fixed literals baked into the plan: in production they come from
    a probe trained offline on labeled pages, and scoring stays exactly
    this — a narrow, shuffle-free map over the corpus, whole-stage
    codegen'd, no model server in the loop.

    Exactness: features round to 4dp first; the logit is one fixed
    parenthesized chain (identical association order in both engines),
    rounded to 6dp before exp() so the sigmoid sees the same double."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_toks = F.size(toks)
    sw_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    sw = F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t))).cast("double")
        / F.greatest(n_toks, F.lit(1)),
        4,
    )
    punct = F.round(
        F.length(F.regexp_replace(F.lower("text"), "[a-z0-9 ]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1)),
        4,
    )
    nt = F.least(n_toks, F.lit(300))
    al = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / F.greatest(n_toks, F.lit(1)),
        4,
    )
    feats = docs.select(
        "doc_id", sw.alias("sw"), punct.alias("punct"), nt.alias("nt"), al.alias("al")
    )
    z = F.round(
        (
            (
                (F.lit(-2.0) + F.lit(6.0) * F.col("sw"))
                - F.lit(8.0) * F.col("punct")
            )
            + F.lit(0.01) * F.col("nt")
        )
        + F.lit(0.2) * F.col("al"),
        6,
    )
    score = 1.0 / (1.0 + F.exp(-z))
    return feats.select(
        "doc_id",
        F.col("sw").alias("stopword_ratio"),
        F.col("punct").alias("punct_ratio"),
        F.round(score, 4).alias("quality_score"),
        (score >= 0.5).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick") — fixed-width bag-of-words.
# ---------------------------------------------------------------------------

_FH_DIMS = 32

FEATHASH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({tokens_sql("text")}) AS term FROM documents
)
SELECT doc_id,
       CAST({md5_long_sql("term")} % {_FH_DIMS} AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS tf
FROM t GROUP BY 1, 2
"""


@query("q_feature_hashing", FEATHASH_ORACLE)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger et al. 2009): project every document's
    bag-of-words into a FIXED 32-dimensional count vector by hashing each
    token to dim = md5(term) mod 32 — the vocabulary-free featurizer
    that needs no fitted dictionary, no broadcast vocab, and no schema
    change when new tokens appear: exactly the property a 100 TB streaming
    featurization pipeline needs. Output is the sparse COO form
    (doc_id, dim, tf) — canonicalizer-safe rows, and the form a
    downstream trainer consumes directly.

    Scale: tokenize → hash → ONE map-side-combinable groupBy on
    (doc_id, dim); no joins, no vocab state, bounded output width per
    doc. The dense-vector twin is one array_sort(collect_list) away but
    deliberately NOT the gated shape ([[q_inverted_index]] precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .select(
            "doc_id",
            (md5_long(F.col("term")) % _FH_DIMS).cast("int").alias("dim"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: evaluating the classifier in-engine.
# ---------------------------------------------------------------------------

LANGID_CONF_ORACLE = f"""
WITH preds AS ({LANGID_ORACLE}),
cm AS (
  SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
  FROM preds GROUP BY labeled_lang, pred_lang
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(sum(CASE WHEN labeled_lang = pred_lang THEN n ELSE 0 END)
              AS BIGINT) AS correct
  FROM cm
)
SELECT cm.labeled_lang, cm.pred_lang, cm.n,
       round(CAST(cm.n AS DOUBLE)
             / sum(cm.n) OVER (PARTITION BY cm.labeled_lang), 6) AS row_share,
       round(CAST(t.correct AS DOUBLE) / t.total, 6) AS overall_accuracy
FROM cm CROSS JOIN tot t
"""


@query("q_langid_confusion", LANGID_CONF_ORACLE)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for [[text_langid]] against the labeled lang
    column: per (true, predicted) cell counts, per-true-language recall
    shares, and overall accuracy — the eval that belongs NEXT TO any
    heuristic classifier in the pipeline (same role [[q_classifier_auc]]
    and [[q_calibration_curve]] play for the quality probe; confusion
    cells are where you see WHICH languages bleed into which).

    Scale: the prediction pass is the scan-speed langid map; the matrix
    is one groupBy bounded by |langs|²; shares and accuracy are windows
    over that bounded frame."""
    preds = text_langid(spark, sf_dir).select("labeled_lang", "pred_lang")
    cm = preds.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cm.agg(
        F.sum("n").alias("total"),
        F.sum(
            F.when(F.col("labeled_lang") == F.col("pred_lang"), F.col("n")).otherwise(0)
        ).alias("correct"),
    )
    return cm.crossJoin(F.broadcast(tot)).select(
        "labeled_lang",
        "pred_lang",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("labeled_lang")),
            6,
        ).alias("row_share"),
        F.round(F.col("correct").cast("double") / F.col("total"), 6).alias(
            "overall_accuracy"
        ),
    )


# ---------------------------------------------------------------------------
# Lexical diversity: TTR family per document.
# ---------------------------------------------------------------------------

TTR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql("text")} AS toks FROM documents
), c AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         CAST(len(list_filter(list_distinct(toks),
               w -> len(list_filter(toks, x -> x = w)) = 1)) AS BIGINT)
           AS n_hapax
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, n_tokens, n_types,
       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
       round(CAST(n_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE)), 6)
         AS root_ttr,
       round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_share
FROM c
"""


@query("text_lexical_diversity", TTR_ORACLE)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio, Guiraud's root
    TTR (length-robust — raw TTR mechanically falls with length), and
    hapax share (fraction of types used exactly once) — the vocabulary-
    richness features that separate template spam (low diversity, no
    hapax) from natural prose, feeding the quality-filter feature set
    beside [[text_repetition_filter]] (which looks for the OPPOSITE
    signal, heavy repetition).

    Scale: a stateless per-document map over the token array — scan
    speed, zero shuffle; the hapax count is an in-array fold, never a
    corpus-level join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    distinct = F.array_distinct(F.col("toks"))
    hapax = F.size(
        F.filter(
            distinct,
            lambda w: F.size(F.filter(F.col("toks"), lambda x: x == w)) == 1,
        )
    )
    c = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(distinct).cast("long").alias("n_types"),
        hapax.cast("long").alias("n_hapax"),
    )
    return c.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(
            F.col("n_types").cast("double") / F.sqrt(F.col("n_tokens").cast("double")),
            6,
        ).alias("root_ttr"),
        F.round(F.col("n_hapax").cast("double") / F.col("n_types"), 6).alias(
            "hapax_share"
        ),
    )


# ---------------------------------------------------------------------------
# Readability: Flesch reading ease + Flesch-Kincaid grade.
# ---------------------------------------------------------------------------

_SENT_SPLIT_RE = "[.!?]+"
_VOWEL_RE = "[aeiouy]+"

READABILITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         {tokens_sql("text")} AS toks,
         list_filter(regexp_split_to_array(text, '{_SENT_SPLIT_RE}'),
                     s -> trim(s) <> '') AS sents
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(greatest(len(sents), 1) AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform(toks,
              w -> greatest(len(regexp_extract_all(w, '{_VOWEL_RE}')), 1)))
           AS BIGINT) AS n_syllables
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
         AS flesch_ease,
       round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 4)
         AS fk_grade
FROM c
"""


@query("text_readability", READABILITY_ORACLE)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease and Flesch-Kincaid grade per document, from
    word / sentence / syllable counts with a deterministic vowel-group
    syllable heuristic (runs of [aeiouy], min 1 per word — the standard
    dictionary-free approximation). Readability is a staple quality
    feature in pretraining curation (too-easy = boilerplate/listicles,
    unreadably-dense = OCR garbage), complementing the surface ratios of
    [[text_quality_stats]] and the richness signals of
    [[text_lexical_diversity]].

    Scale: a stateless per-document map — tokenize, sentence-split, one
    in-array integer fold for syllables; scan speed, zero shuffle. All
    counts are exact integers; the two formula divisions are the only
    doubles, written in the same operation order in both engines so the
    4dp rounding is bit-stable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sents = F.filter(
        F.split(F.col("text"), _SENT_SPLIT_RE), lambda s: F.trim(s) != ""
    )
    syll = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit(_VOWEL_RE), F.lit(0))), F.lit(1)
        ).cast("long"),
    )
    c = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.greatest(F.size(sents), F.lit(1)).cast("long").alias("n_sentences"),
        syll.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return c.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4).alias(
            "flesch_ease"
        ),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4).alias(
            "fk_grade"
        ),
    )
