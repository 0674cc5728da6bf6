"""Corpus-level composition analysis (north-star extensions): the
reports a training-data pipeline runs over the WHOLE corpus rather than
per document — tokenizer-training statistics (BPE merge candidates),
vocabulary scaling (Heaps' law), and source-mix diversity.

Per-document scoring lives in operators/text.py; these aggregate across
documents. Everything is exact integer or µ-unit arithmetic so the
DuckDB oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions.textfns import tokens, tokens_sql
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


# ---------------------------------------------------------------------------
# BPE first-merge candidates: weighted adjacent-character-pair counts.
# ---------------------------------------------------------------------------

_BPE_TOPK = 20

BPE_ORACLE = f"""
WITH toks AS (
  SELECT unnest({tokens_sql("text")}) AS word FROM documents
), wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY word
), chars AS (
  SELECT word, f, string_split(word, '') AS cs FROM wf
), pairs AS (
  SELECT cs[CAST(i AS INT)] AS c1, cs[CAST(i + 1 AS INT)] AS c2, f
  FROM chars, UNNEST(range(1, greatest(len(cs) - 1, 0) + 1)) AS u(i)
), agg AS (
  SELECT c1, c2, CAST(sum(f) AS BIGINT) AS pair_count
  FROM pairs GROUP BY c1, c2
)
SELECT c1, c2, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, c1, c2) AS INT) AS rk
FROM agg QUALIFY rk <= {_BPE_TOPK}
"""


@query("text_bpe_pair_counts", BPE_ORACLE)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics pass of one BPE training step (Sennrich et al.):
    corpus-weighted counts of adjacent symbol pairs inside words, top-20
    merge candidates. Iterating (merge the winner, recount) yields the
    full tokenizer vocabulary; each iteration is this same plan over the
    progressively merged symbol sequences.

    Exactness: pure integer counting; rank tiebreaks on (count desc,
    c1, c2).

    Scale shape: counting pairs over the WORD-FREQUENCY table instead of
    the raw token stream is the classic trick — vocab is Zipf-small, so
    the char-pair explode touches |vocab| rows, not |corpus| rows; the
    corpus is only scanned once for the word counts (one
    partial-aggregatable groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("word"))
    wf = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    cs = F.split(F.col("word"), "")
    n1 = F.greatest(F.size(cs) - 1, F.lit(1))
    pairs = (
        wf.filter(F.length("word") >= 2)
        .select(
            "f",
            F.explode(
                F.zip_with(
                    F.slice(cs, 1, n1),
                    F.slice(cs, 2, n1),
                    lambda a, b: F.struct(a.alias("c1"), b.alias("c2")),
                )
            ).alias("p"),
        )
        .select("p.c1", "p.c2", "f")
    )
    agg = pairs.groupBy("c1", "c2").agg(F.sum("f").alias("pair_count"))
    w = W.orderBy(F.col("pair_count").desc(), "c1", "c2")
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _BPE_TOPK)
        .select("c1", "c2", "pair_count", "rk")
    )


# ---------------------------------------------------------------------------
# Iterative BPE training: N merge rounds, canonical greedy-leftmost apply.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 5


def _bpe_train_oracle(rounds: int, segmentation: bool = False) -> str:
    """Unrolled-CTE oracle: each round = pair-count → argmax winner →
    greedy-leftmost merge apply, exactly mirroring the Spark loop. The
    merge rewrite is expressed positionally (gaps-islands run parity), not
    via string replace(), so it does not depend on any engine's substring
    scan semantics. With ``segmentation`` the final state is also built
    and the select re-tokenizes every document against it (the APPLY
    step) instead of emitting the merge table."""
    parts = [
        f"""
WITH toks AS (
  SELECT unnest({tokens_sql("text")}) AS word FROM documents
), wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY word
), st0 AS (
  SELECT word, f, string_split(word, '') AS syms FROM wf
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", ex{r} AS (
  SELECT word, f, CAST(u.i AS INT) AS pos,
         syms[CAST(u.i AS INT)] AS s, syms[CAST(u.i AS INT) + 1] AS nxt
  FROM st{p}, UNNEST(range(1, len(syms) + 1)) AS u(i)
), win{r} AS (
  SELECT s AS c1, nxt AS c2, CAST(sum(f) AS BIGINT) AS pair_count
  FROM ex{r} WHERE nxt IS NOT NULL
  GROUP BY s, nxt ORDER BY pair_count DESC, c1, c2 LIMIT 1
)"""
        )
        if r < rounds or segmentation:
            parts.append(
                f""", mk{r} AS (
  SELECT e.word, e.f, e.pos, e.s, e.nxt,
         coalesce(e.s = w.c1 AND e.nxt = w.c2, FALSE) AS mt,
         sum(CASE WHEN coalesce(e.s = w.c1 AND e.nxt = w.c2, FALSE)
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY e.word ORDER BY e.pos) AS cm
  FROM ex{r} e CROSS JOIN win{r} w
), rk{r} AS (
  SELECT *, row_number() OVER (
              PARTITION BY word, CASE WHEN mt THEN pos - cm END
              ORDER BY pos) AS rnk
  FROM mk{r}
), mg{r} AS (
  SELECT *, (mt AND rnk % 2 = 1) AS mg,
         coalesce(lag(mt AND rnk % 2 = 1)
                    OVER (PARTITION BY word ORDER BY pos), FALSE) AS consumed
  FROM rk{r}
), st{r} AS (
  SELECT word, f,
         list(CASE WHEN mg THEN s || nxt ELSE s END ORDER BY pos) AS syms
  FROM mg{r} WHERE NOT consumed GROUP BY word, f
)"""
            )
    if segmentation:
        sel = f""", docw AS (
  SELECT doc_id, unnest({tokens_sql("text")}) AS word FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(st.syms)) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       round(CAST(sum(length(d.word)) AS DOUBLE) / sum(len(st.syms)), 4)
         AS chars_per_token
FROM docw d JOIN st{rounds} st ON d.word = st.word
GROUP BY d.doc_id"""
        return "".join(parts) + sel
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS merge_round, c1, c2, c1 || c2 AS merged,"
        f" pair_count FROM win{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + sel


BPE_TRAIN_ORACLE = _bpe_train_oracle(_BPE_ROUNDS)


@query("text_bpe_train", BPE_TRAIN_ORACLE)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016): [[text_bpe_pair_counts]]
    is one statistics pass; this runs the full loop — 5 rounds of
    (count adjacent symbol pairs weighted by word frequency → pick the
    most frequent pair, ties broken lexicographically → merge every
    greedy-leftmost non-overlapping occurrence) — and emits the learned
    merge table, the artifact a tokenizer ships. Pair counts include
    overlapping occurrences (get_stats semantics); the APPLY step is
    canonical greedy-leftmost, expressed positionally: islands of
    consecutive matches (only possible when c1 = c2, e.g. 'aaaa') merge at
    odd ranks only, and a position is consumed iff its left neighbor
    merged. No string replace(), so no dependence on engine scan
    semantics.

    Scale: the corpus is scanned ONCE (word-frequency groupBy,
    map-side combinable); the training loop runs over the Zipf-bounded
    vocabulary — state is |vocab| rows regardless of corpus size. Each
    round localCheckpoints both the 1-row winner (so the cross-join and
    the final union don't recompute the argmax) and the rewritten state
    (bounded lineage across rounds, the dedup_clusters / MMR discipline).
    The per-word windows partition on a high-cardinality key; the only
    broadcast is the 1-row winner."""
    winners, _ = _bpe_fit(spark, sf_dir, _BPE_ROUNDS, final_state=False)
    out = winners[0]
    for w_ in winners[1:]:
        out = out.unionByName(w_)
    return out


def _bpe_fit(spark: SparkSession, sf_dir: str, rounds: int, final_state: bool):
    """Shared BPE training loop: returns (per-round winner DataFrames,
    final segmented-vocab state or None). See text_bpe_train for the
    algorithm and scale discussion."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    state = wf.select("word", "f", F.split("word", "").alias("syms"))
    state = state.localCheckpoint(eager=True)

    wword = W.partitionBy("word").orderBy("pos")
    winners = []
    for r in range(1, rounds + 1):
        ex = state.select(
            "word",
            "f",
            "syms",
            F.posexplode("syms").alias("p0", "s"),
        ).select(
            "word",
            "f",
            (F.col("p0") + 1).cast("int").alias("pos"),
            "s",
            F.try_element_at("syms", F.col("p0") + 2).alias("nxt"),
        )
        win = (
            ex.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("s").alias("c1"), F.col("nxt").alias("c2"))
            .agg(F.sum("f").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "c1", "c2")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        winners.append(
            win.select(
                F.lit(r).cast("int").alias("merge_round"),
                "c1",
                "c2",
                F.concat("c1", "c2").alias("merged"),
                "pair_count",
            )
        )
        if r == rounds and not final_state:
            break
        mt = F.coalesce(
            (F.col("s") == F.col("c1")) & (F.col("nxt") == F.col("c2")),
            F.lit(False),
        )
        mk = (
            ex.crossJoin(F.broadcast(win))
            .withColumn("mt", mt)
            .withColumn("cm", F.sum(F.col("mt").cast("int")).over(wword))
        )
        rk = mk.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy(
                    "word", F.when(F.col("mt"), F.col("pos") - F.col("cm"))
                ).orderBy("pos")
            ),
        )
        mg = rk.withColumn(
            "mg", F.col("mt") & (F.col("rnk") % 2 == 1)
        ).withColumn(
            "consumed",
            F.coalesce(F.lag("mg").over(wword), F.lit(False)),
        )
        state = (
            mg.filter(~F.col("consumed"))
            .groupBy("word", "f")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                F.when(
                                    F.col("mg"),
                                    F.concat("s", "nxt"),
                                )
                                .otherwise(F.col("s"))
                                .alias("sym"),
                            )
                        )
                    ),
                    lambda x: x.getField("sym"),
                ).alias("syms")
            )
            .localCheckpoint(eager=True)
        )

    return winners, (state if final_state else None)


BPE_APPLY_ORACLE = _bpe_train_oracle(_BPE_ROUNDS, segmentation=True)


@query("text_bpe_apply", BPE_APPLY_ORACLE)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY: segment every document under the merge table
    [[text_bpe_train]] learns, reporting per-doc word/subword/char counts
    and the chars-per-token compression — the fertility measurement a
    pipeline runs when swapping tokenizers (pairs with
    [[q_tokenizer_fertility]], which audits a fixed regex tokenizer).

    The trained state IS the segmentation: BPE applies merges per
    distinct word, so tokenizing the corpus is one broadcast-join of the
    token stream against the segmented |vocab|-row table — no per-
    document merge walk, the production trick that makes BPE encoding a
    dictionary lookup at scale. Costs one extra merge rewrite vs
    training (the final round's state is actually built) plus one corpus
    scan for the join."""
    _, seg = _bpe_fit(spark, sf_dir, _BPE_ROUNDS, final_state=True)
    docs = load_table(spark, sf_dir, "documents")
    docw = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    )
    return (
        docw.join(F.broadcast(seg.select("word", F.size("syms").alias("k"))),
                  "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("k").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_chars"),
            F.round(
                F.sum(F.length("word")).cast("double") / F.sum("k"), 4
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps' law: vocabulary growth per source.
# ---------------------------------------------------------------------------

HEAPS_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({tokens_sql("text")}) AS term FROM documents
), per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT term) AS BIGINT) AS vocab
  FROM toks GROUP BY source
)
SELECT source, n_tokens, vocab,
       round(log10(CAST(vocab AS DOUBLE)) / log10(CAST(n_tokens AS DOUBLE)), 6)
         AS heaps_beta
FROM per
"""


@query("q_heaps_law", HEAPS_ORACLE)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary scaling per source: token count N, distinct vocabulary
    V, and the one-point Heaps'-law exponent β = log V / log N (V ≈ N^β,
    β ≈ 0.5 for natural text). Sources whose β drifts are the ones whose
    text is template-generated (low β: vocab saturates) or noise/ids
    (β → 1: every token new) — a cheap corpus-composition screen before
    mixing sources into a training run.

    Scale: one groupBy(source) with a count-distinct — Spark expands it
    to a two-phase partial aggregate; per-source output is tiny."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    per = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("vocab"),
    )
    beta = F.log10(F.col("vocab").cast("double")) / F.log10(
        F.col("n_tokens").cast("double")
    )
    return per.select(
        "source", "n_tokens", "vocab", F.round(beta, 6).alias("heaps_beta")
    )


# ---------------------------------------------------------------------------
# Source-mix diversity: token shares + Shannon entropy of the mixture.
# ---------------------------------------------------------------------------

MIX_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({tokens_sql("text")}) AS term FROM documents
), per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY source
), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
terms AS (
  SELECT p.source, p.n_tokens,
         CAST(p.n_tokens AS DOUBLE) / t.t AS share,
         CAST(round(-(CAST(p.n_tokens AS DOUBLE) / t.t)
                    * ln(CAST(p.n_tokens AS DOUBLE) / t.t) * 1000000000)
              AS BIGINT) AS h9
  FROM per p CROSS JOIN tot t
)
SELECT source, n_tokens, round(share, 6) AS token_share,
       round(CAST(sum(h9) OVER () AS DOUBLE) / 1000000000.0, 6) AS mix_entropy,
       round(exp(CAST(sum(h9) OVER () AS DOUBLE) / 1000000000.0), 4)
         AS effective_sources
FROM terms
"""


@query("q_source_mix_entropy", MIX_ORACLE)
def q_source_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture diagnostics: each source's token share, the
    Shannon entropy of the source mixture, and its exponential (the
    "effective number of sources" — 4 equal sources → 4.0; one dominant
    source pulls it toward 1). The number a data-mixing report leads
    with when rebalancing corpus composition.

    Exactness: per-source entropy terms round to nano-units and sum as
    exact integers (the window sum), so the shared entropy columns agree
    across engines despite float summation order.

    Scale: one groupBy(source) over the token explode, then a window
    over the handful of source rows — all heavy lifting is the first
    partial aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    per = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_tokens"))
    tot = per.agg(F.sum("n_tokens").alias("t"))
    share = F.col("n_tokens").cast("double") / F.col("t")
    h9 = F.round(-share * F.log(share) * 1000000000).cast("long")
    terms = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", share.alias("share"), h9.alias("h9")
    )
    went = W.partitionBy()
    ent = F.sum("h9").over(went).cast("double") / 1000000000.0
    return terms.select(
        "source",
        "n_tokens",
        F.round("share", 6).alias("token_share"),
        F.round(ent, 6).alias("mix_entropy"),
        F.round(F.exp(ent), 4).alias("effective_sources"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each doc is first-seen content?
# ---------------------------------------------------------------------------

from ..functions.textfns import shingles_sql  # noqa: E402

NOVELTY_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, unnest({shingles_sql("toks", 3)}) AS g
  FROM (SELECT doc_id, {tokens_sql("text")} AS toks FROM documents)
),
firsts AS (
  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT gr.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM grams gr JOIN firsts f ON f.g = gr.g
GROUP BY gr.doc_id
"""


@query("q_ngram_novelty", NOVELTY_ORACLE)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order n-gram novelty (the Gopher/Chinchilla-style corpus
    redundancy curve): for each document, the fraction of its distinct
    3-grams whose FIRST occurrence (by doc_id ingest order) is this
    document. A novelty collapse across ingest order means the crawl is
    re-reading itself — the macro signal whose per-pair micro form is
    [[dedup_ngram_jaccard]]; unlike pairwise dedup this is O(corpus), not
    O(pairs).

    Scale: shingle once, ONE groupBy(gram) for the global first-occurrence
    table, one join back keyed on the gram (both sides shuffle on the same
    key), one per-doc collapse. The first-occurrence aggregate is min() —
    map-side combinable; no window, no driver state."""
    from ..functions.textfns import shingles

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), 3)).alias("g")
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("int")
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Gini coefficient of token mass across sources.
# ---------------------------------------------------------------------------

GINI_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(sum(len({tokens_sql("text")})) AS BIGINT) AS toks
  FROM documents GROUP BY source
),
ranked AS (
  SELECT toks, row_number() OVER (ORDER BY toks, source) AS i,
         count(*) OVER () AS n, sum(toks) OVER () AS tot
  FROM per_source
)
SELECT CAST(max(n) AS BIGINT) AS n_sources,
       CAST(max(tot) AS BIGINT) AS total_tokens,
       round((2.0 * sum(CAST(i AS DOUBLE) * toks) - (max(n) + 1.0) * max(tot))
             / (max(n) * max(tot)), 6) AS gini
FROM ranked
"""


@query("q_gini_source_tokens", GINI_ORACLE)
def q_gini_source_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across corpus sources — the
    single-number inequality summary behind [[q_source_mix_entropy]]'s
    per-source shares: 0 = perfectly balanced mixture, ->1 = one source
    dominates (the mixture a temperature rebalance, [[q_temperature_mix]],
    would then flatten). Uses the rank formulation
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending-sorted
    source masses with a deterministic (toks, source) tiebreak.

    Scale: token counting collapses to |sources| rows map-side; the rank
    window runs over that source-count-bounded table (20 rows here),
    never the corpus. Integer mass, one rounded division."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("toks")
    )
    wr = W.orderBy("toks", "source")
    wg = W.partitionBy()
    ranked = per_source.select(
        "toks",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wg).alias("n"),
        F.sum("toks").over(wg).alias("tot"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_sources"),
        F.max("tot").cast("long").alias("total_tokens"),
        F.round(
            (
                2.0 * F.sum(F.col("i").cast("double") * F.col("toks"))
                - (F.max("n") + 1.0) * F.max("tot")
            )
            / (F.max("n") * F.max("tot")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility: tokens-per-word / chars-per-token by language.
# ---------------------------------------------------------------------------

FERTILITY_ORACLE = f"""
WITH t AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(text, ' '), w -> w <> '')) AS n_words,
         len({tokens_sql("text")}) AS n_tokens,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(n_tokens) AS DOUBLE) / sum(n_words), 6) AS fertility,
       round(CAST(sum(n_chars) AS DOUBLE) / sum(n_tokens), 6) AS chars_per_token
FROM t GROUP BY lang
"""


@query("q_tokenizer_fertility", FERTILITY_ORACLE)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: tokens emitted per whitespace word
    and characters per token — THE cross-lingual tokenizer-quality metric
    (a tokenizer with fertility 3 on one language triples that language's
    training cost per word and shrinks its effective context window;
    budget-mixing by raw token counts, [[q_token_budget_mix]], silently
    encodes this bias). Here the regex tokenizer plays the tokenizer under
    audit; swapping in a learned BPE ([[text_bpe_pair_counts]]) keeps the
    query identical.

    Scale: pure per-row projections collapsed by a map-side-combinable
    groupBy to |langs| rows; ratio-of-integer-sums division, rounded
    once."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    t = docs.select(
        "lang",
        F.size(words).alias("n_words"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(
            F.sum("n_tokens").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_tokens"), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit: the frequency-side scaling law (Heaps' is the
# vocabulary side).
# ---------------------------------------------------------------------------

_ZIPF_MIN_FREQ = 5  # drop the hapax tail (frequency < 5): log-log OLS over
                    # the tail fits noise, the standard truncation

ZIPF_ORACLE = f"""
WITH words AS (
  SELECT unnest({{tok}}) AS word FROM documents
), freq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS f
  FROM words GROUP BY word HAVING count(*) >= {_ZIPF_MIN_FREQ}
), ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, word) AS r FROM freq
), pts AS (
  -- ln terms as exact nano-integers so the moment sums are
  -- order-independent across engines
  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000000) AS BIGINT) AS lxn,
         CAST(round(ln(CAST(f AS DOUBLE)) * 1000000000) AS BIGINT) AS lyn
  FROM ranked
), sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(lxn) AS HUGEINT) AS DOUBLE) / 1e9 AS sx,
         CAST(CAST(sum(lyn) AS HUGEINT) AS DOUBLE) / 1e9 AS sy,
         CAST(sum(CAST(lxn AS HUGEINT) * lxn) AS DOUBLE) / 1e18 AS sxx,
         CAST(sum(CAST(lxn AS HUGEINT) * lyn) AS DOUBLE) / 1e18 AS sxy,
         CAST(sum(CAST(lyn AS HUGEINT) * lyn) AS DOUBLE) / 1e18 AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_types,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r_squared
FROM sums
"""


@query("q_zipf_fit", ZIPF_ORACLE.format(tok=tokens_sql("text")))
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency table: OLS slope of
    ln(freq) against ln(rank) — natural language sits near slope −1, and
    deviation is the corpus-health signal ([[q_heaps_law]] measures the
    vocabulary side of the same power law): too-steep means template
    spam dominating the head, too-flat means id-noise inflating the
    tail. The hapax tail (freq < {_ZIPF_MIN_FREQ}) is truncated before
    the fit, the standard practice.

    Exactness: ranks are integers off the frequency table; both ln terms
    round at 1e-9 before the moment sums (repo transcendental
    discipline), and the OLS closed form divides once per statistic.

    Scale: token stream collapses to the VOCABULARY-bounded frequency
    table in one map-side-combinable groupBy; the rank and the moment
    sums live entirely on that table (at extreme vocabularies the rank
    swaps onto functions/distributed.py's two-pass form with the same
    semantics). Slope/intercept/R² are scalar math over one row."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens(F.col("text"))).alias("word"))
    freq = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") >= _ZIPF_MIN_FREQ)
    )
    r = F.row_number().over(W.orderBy(F.col("f").desc(), "word"))
    pts = freq.withColumn("r", r).select(
        F.round(F.log(F.col("r").cast("double")) * 1000000000)
        .cast("long")
        .alias("lxn"),
        F.round(F.log(F.col("f").cast("double")) * 1000000000)
        .cast("long")
        .alias("lyn"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum(dec("lxn")).cast("double") / 1e9).alias("sx"),
        (F.sum(dec("lyn")).cast("double") / 1e9).alias("sy"),
        (F.sum(dec("lxn") * F.col("lxn")).cast("double") / 1e18).alias("sxx"),
        (F.sum(dec("lxn") * F.col("lyn")).cast("double") / 1e18).alias("sxy"),
        (F.sum(dec("lyn") * F.col("lyn")).cast("double") / 1e18).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").cast("long").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: how many types cover X% of the token mass?
# ---------------------------------------------------------------------------

_VOCAB_THRESHOLDS = (50, 90, 95, 99)  # percent of token mass


def _vocab_cov_oracle() -> str:
    th = ", ".join(str(t) for t in _VOCAB_THRESHOLDS)
    return f"""
WITH words AS (
  SELECT unnest({tokens_sql("text")}) AS word FROM documents
), freq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS f FROM words GROUP BY word
), ranked AS (
  SELECT f,
         row_number() OVER (ORDER BY f DESC, word) AS r,
         CAST(sum(f) OVER (ORDER BY f DESC, word
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM freq
), tot AS (
  SELECT CAST(sum(f) AS BIGINT) AS total FROM freq
), hits AS (
  SELECT t.pct, min(r) AS vocab_size
  FROM ranked CROSS JOIN tot
  CROSS JOIN (SELECT unnest([{th}]) AS pct) t
  WHERE cum * 100 >= CAST(t.pct AS BIGINT) * total
  GROUP BY t.pct
)
SELECT CAST(h.pct AS INT) AS threshold_pct,
       CAST(h.vocab_size AS BIGINT) AS vocab_size,
       rk.cum AS covered_tokens,
       round(CAST(rk.cum AS DOUBLE) / tot.total, 6) AS coverage
FROM hits h
JOIN ranked rk ON rk.r = h.vocab_size
CROSS JOIN tot
"""


VOCAB_COV_ORACLE = _vocab_cov_oracle()


@query("q_vocab_coverage", VOCAB_COV_ORACLE)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the smallest frequency-ranked
    vocabulary covering 50/90/95/99% of the corpus token mass — the
    number that sizes a tokenizer ([[text_bpe_train]]'s budget), an
    embedding table, or an OOV strategy; the gap between the 95% and 99%
    vocab sizes IS the long tail's price. Thresholds compare as exact
    integers (cum·100 ≥ pct·total), so the boundary rank can't float.

    Scale: the corpus collapses to the vocabulary-bounded frequency
    table; rank and cumulative mass come from ONE ranged pass of the
    functions/distributed.py construction (both offsets derived from the
    same checkpointed frame — no data-sized single-partition window),
    and the threshold probe is a ×{len(_VOCAB_THRESHOLDS)} explode
    filtered to 4 boundary rows."""
    from ..functions.distributed import _prev, _ranged

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    order = [F.col("f").desc(), F.col("word")]
    part = _ranged(freq, order, None)
    offs = (
        part.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_tn"), F.sum("f").alias("_tf"))
        .select(
            "_pid",
            F.coalesce(F.sum("_tn").over(_prev()), F.lit(0)).alias("_offn"),
            F.coalesce(F.sum("_tf").over(_prev()), F.lit(0)).alias("_offf"),
        )
    )
    from pyspark.sql.window import Window as W

    wl = W.partitionBy("_pid").orderBy(*order)
    ranked = (
        part.join(F.broadcast(offs), "_pid")
        .select(
            "f",
            (F.row_number().over(wl) + F.col("_offn")).cast("long").alias("r"),
            (
                F.sum("f").over(wl.rowsBetween(W.unboundedPreceding, 0))
                + F.col("_offf")
            )
            .cast("long")
            .alias("cum"),
        )
    )
    tot = freq.agg(F.sum("f").alias("total"))
    th = F.explode(
        F.array(*[F.lit(t) for t in _VOCAB_THRESHOLDS])
    ).alias("pct")
    hits = (
        ranked.crossJoin(F.broadcast(tot))
        .select("r", "cum", "total", th)
        .filter(F.col("cum") * 100 >= F.col("pct").cast("long") * F.col("total"))
        .groupBy("pct")
        .agg(F.min("r").alias("vocab_size"))
    )
    return (
        hits.join(ranked, hits.vocab_size == ranked.r)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pct").cast("int").alias("threshold_pct"),
            "vocab_size",
            F.col("cum").alias("covered_tokens"),
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocations: statistically-bound adjacent word pairs.
# ---------------------------------------------------------------------------

_PMI_MIN = 5
_PMI_TOPK = 20

PMI_ORACLE = f"""
WITH toks AS (
  SELECT {tokens_sql("text")} AS ts FROM documents
), bg AS (
  SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
  FROM toks, UNNEST(range(1, greatest(len(ts) - 1, 0) + 1)) AS u(i)
), pairs AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM bg GROUP BY w1, w2
), marg AS (
  SELECT w1, w2, n_ab,
         sum(n_ab) OVER (PARTITION BY w1) AS n_a,
         sum(n_ab) OVER (PARTITION BY w2) AS n_b,
         sum(n_ab) OVER () AS n
  FROM pairs
), scored AS (
  SELECT w1, w2, n_ab,
         round(ln(CAST(n_ab AS DOUBLE) * n
                  / (CAST(n_a AS DOUBLE) * n_b)), 6) AS pmi
  FROM marg WHERE n_ab >= {_PMI_MIN}
)
SELECT w1, w2, n_ab, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT) AS rk
FROM scored
QUALIFY rk <= {_PMI_TOPK}
"""


@query("q_pmi_collocations", PMI_ORACLE)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: the top-{_PMI_TOPK} adjacent word pairs by
    pointwise mutual information, PMI = ln(p(ab)/(p(a·)p(·b))) over
    bigram-slot counts with both margins read off the SAME pair table —
    the phrases that behave as units ("new york"-style), which a
    tokenizer protects ([[text_bpe_train]] merges them), a dedup
    normalizer must not split, and an index can promote to phrase terms.
    Pairs below {_PMI_MIN} occurrences are dropped (PMI's rare-pair
    pathology).

    Exactness: counts are integers, one rounded ln per surviving pair,
    rank tiebreak on the words.

    Scale: the bigram explode stays in each doc's partition; one groupBy
    collapses to the observed-bigram table (vocabulary-bounded), margin
    windows partition by word (key-partitioned), and the final top-k is
    a TakeOrdered over the min-count-filtered survivors."""
    docs = load_table(spark, sf_dir, "documents")
    ts = tokens(F.col("text"))
    n1 = F.greatest(F.size(ts) - 1, F.lit(1))
    bg = docs.select(
        F.explode(
            F.when(
                F.size(ts) >= 2,
                F.zip_with(
                    F.slice(ts, 1, n1),
                    F.slice(ts, 2, n1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    marg = pairs.select(
        "w1",
        "w2",
        "n_ab",
        F.sum("n_ab").over(W.partitionBy("w1")).alias("n_a"),
        F.sum("n_ab").over(W.partitionBy("w2")).alias("n_b"),
        F.sum("n_ab").over(W.partitionBy()).alias("n"),
    )
    pmi = F.round(
        F.log(
            F.col("n_ab").cast("double")
            * F.col("n")
            / (F.col("n_a").cast("double") * F.col("n_b"))
        ),
        6,
    )
    scored = marg.filter(F.col("n_ab") >= _PMI_MIN).select(
        "w1", "w2", "n_ab", pmi.alias("pmi")
    )
    rk = F.row_number().over(W.orderBy(F.col("pmi").desc(), "w1", "w2"))
    return (
        scored.withColumn("rk", rk.cast("int"))
        .filter(F.col("rk") <= _PMI_TOPK)
    )
