"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video as opaque
``binary`` columns with a typed metadata struct beside them, and runs
decode / feature-extraction as Arrow-batched Python over `mapInPandas`.
This module implements that plumbing for real — schema, partitioning,
batch iteration, deterministic outputs — with the codec itself STUBBED
(`NotImplementedError` for real formats, a deterministic fake for the
synthetic corpus) because no image/audio libraries ship in this
container. Swapping `_decode_fake` for PIL/ffmpeg is a one-function
change; nothing else moves.

The blob fixture derives from documents.text (utf-8 bytes) so metadata
extraction is oracle-testable in DuckDB (`multimodal_blob_meta`).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


def with_blob(docs: DataFrame) -> DataFrame:
    """documents → multimodal rows: (doc_id, payload binary, meta struct).

    At ingest scale the payload comes from the object store and `meta`
    from the upstream manifest; here it derives from text so tests are
    hermetic. The struct is the engine's multimodal column contract:
    every modality op keys off meta.format, never sniffs bytes."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake/utf8-text").alias("format"),
            F.length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
            F.md5(F.col("text")).alias("digest"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


BLOB_META_ORACLE = """
SELECT
  doc_id,
  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
  md5(text)                               AS digest,
  source                                  AS origin,
  CAST(octet_length(encode(text)) = n_chars AS INT) AS size_consistent
FROM documents
"""


@query("multimodal_blob_meta", BLOB_META_ORACLE)
def multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata extraction over the binary payload column — the cheap
    JVM-side pass (length/digest/format checks) that runs BEFORE any
    Python decode, so corrupt or mis-manifested blobs are quarantined
    without paying Arrow transfer for them."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = with_blob(docs)
    return blobs.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.digest").alias("digest"),
        F.col("meta.origin").alias("origin"),
        (F.col("meta.n_bytes") == F.length("payload")).cast("int").alias("size_consistent"),
    )


# ---------------------------------------------------------------------------
# Arrow-batched decode / feature extraction (the Python slow path, stubbed).
# ---------------------------------------------------------------------------

FEATURE_SCHEMA = (
    "doc_id long, format string, n_bytes int, width int, height int, "
    "n_frames int, brightness double"
)


def _decode_fake(payload: bytes) -> dict:
    """Deterministic stand-in for an image/video decoder: derives pseudo
    dimensions from the byte content. Replace with PIL/ffmpeg at will —
    the mapInPandas contract (bytes in, feature dict out) is the real
    interface."""
    n = len(payload)
    checksum = sum(payload[:64]) if n else 0
    return {
        "width": 64 + checksum % 64,
        "height": 64 + (checksum // 64) % 64,
        "n_frames": 1,
        "brightness": round((checksum % 255) / 255.0, 6),
    }


_REAL_FORMATS = ("image/", "audio/", "video/")


def extract_features(blobs: DataFrame) -> DataFrame:
    """`mapInPandas` feature extraction over multimodal rows.

    Real plumbing, stubbed codec: batches arrive as Arrow-backed pandas
    frames (zero-copy for the binary column), each partition streams
    batches through the decoder without materializing the partition.
    Real formats raise NotImplementedError — by design, loudly, matching
    the engine's strict unknown-input posture (cf. unknown CDC op)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts = pdf["format"]
            real = fmts.str.startswith(_REAL_FORMATS)
            if real.any():
                raise NotImplementedError(
                    f"no codec for {sorted(fmts[real].unique())} in this environment; "
                    "install PIL/ffmpeg and replace _decode_fake"
                )
            feats = pdf["payload"].map(_decode_fake)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": fmts,
                    "n_bytes": pdf["n_bytes"].astype("int32"),
                    "width": feats.map(lambda f: f["width"]).astype("int32"),
                    "height": feats.map(lambda f: f["height"]).astype("int32"),
                    "n_frames": feats.map(lambda f: f["n_frames"]).astype("int32"),
                    "brightness": feats.map(lambda f: f["brightness"]),
                }
            )
            yield out

    flat = blobs.select(
        "doc_id", "payload", F.col("meta.format").alias("format"), F.col("meta.n_bytes").alias("n_bytes")
    )
    return flat.mapInPandas(run, FEATURE_SCHEMA)


def resize_stub(blobs: DataFrame, width: int, height: int) -> DataFrame:
    """Resize pass signature (payload→payload). Stub: identity on fake
    blobs, NotImplementedError on real formats — keeps the pipeline shape
    (chainable payload transforms) testable without codecs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            real = pdf["format"].str.startswith(_REAL_FORMATS)
            if real.any():
                raise NotImplementedError("no resize codec in this environment")
            yield pdf

    flat = blobs.select("doc_id", "payload", F.col("meta.format").alias("format"))
    return flat.mapInPandas(run, "doc_id long, payload binary, format string")


FRAME_SAMPLE_ORACLE = """
WITH meta AS (
  SELECT doc_id,
         CAST((octet_length(encode(text)) % 240) + 1 AS INT) AS n_frames
  FROM documents
)
SELECT doc_id, n_frames,
       CAST((i * n_frames) // least(8, n_frames) AS INT) AS frame_idx
FROM (SELECT doc_id, n_frames, unnest(range(0, least(8, n_frames))) AS i FROM meta)
"""


@query("multimodal_frame_sample", FRAME_SAMPLE_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame sampling for video-style payloads: pick up to 8
    evenly spaced frame indices per blob — ⌊i·n/k⌋ for i < k = min(8, n),
    which is strictly increasing, so indices never repeat. Runs entirely
    from metadata (n_frames, here derived from payload length since the
    fake codec is single-frame): the expensive per-frame decode downstream
    then touches ONLY sampled frames. explode() keeps each blob's frames
    in its partition — no shuffle, scales with the corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select(
        "doc_id",
        ((F.length(F.encode(F.col("text"), "UTF-8")) % 240) + 1)
        .cast("int")
        .alias("n_frames"),
    )
    k = F.least(F.lit(8), F.col("n_frames"))
    return meta.select(
        "doc_id",
        "n_frames",
        F.explode(F.sequence(F.lit(0), k - 1)).alias("i"),
    ).select(
        "doc_id",
        "n_frames",
        F.expr("CAST((i * n_frames) DIV least(8, n_frames) AS INT)").alias("frame_idx"),
    )


# ---------------------------------------------------------------------------
# WebDataset-style shard manifest (byte-budget packing per origin).
# ---------------------------------------------------------------------------

_SHARD_BYTES = 64 * 1024


SHARD_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, source AS origin,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), offs AS (
  SELECT doc_id, origin, n_bytes,
         sum(n_bytes) OVER (PARTITION BY origin ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_bytes AS start_byte
  FROM sized
)
SELECT doc_id, origin, n_bytes, CAST(start_byte AS BIGINT) AS start_byte,
       CAST(start_byte // {_SHARD_BYTES} AS BIGINT) AS shard_id,
       concat(origin, '-', lpad(CAST(start_byte // {_SHARD_BYTES} AS VARCHAR), 5, '0'),
              '.tar') AS shard_name
FROM offs
"""


@query("multimodal_shard_manifest", SHARD_ORACLE)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard planning: blobs are packed per origin into
    ~{_SHARD_BYTES // 1024} KB tar shards in deterministic doc_id order;
    each blob gets its byte offset, shard id, and shard file name — the
    manifest a downstream dataloader (or the tar writer itself) consumes.
    Same distributed-prefix-sum shape as [[q_sequence_packing]], but
    partitioned by origin so every origin's running sum is an independent
    window (no global ordering anywhere). A blob larger than the budget
    just spills its shard over — the standard WebDataset behavior —
    so the plan never needs bin-packing search."""
    docs = load_table(spark, sf_dir, "documents")
    sized = with_blob(docs).select(
        "doc_id",
        F.col("meta.origin").alias("origin"),
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
    )
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("origin")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = sized.withColumn(
        "start_byte", F.sum("n_bytes").over(w) - F.col("n_bytes")
    )
    shard = F.expr(f"start_byte DIV {_SHARD_BYTES}")
    return offs.select(
        "doc_id",
        "origin",
        "n_bytes",
        "start_byte",
        shard.alias("shard_id"),
        F.concat(
            F.col("origin"),
            F.lit("-"),
            F.lpad(shard.cast("string"), 5, "0"),
            F.lit(".tar"),
        ).alias("shard_name"),
    )


# ---------------------------------------------------------------------------
# ViT patch-grid planning over the DECODED features — hash-gates the
# mapInPandas decode path itself.
# ---------------------------------------------------------------------------

_PATCH = 16

PATCH_GRID_ORACLE = f"""
WITH decoded AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         list_sum(list_transform(
           range(1, least(length(text), 64) + 1),
           i -> unicode(substr(text, i, 1)))) AS checksum
  FROM documents
),
dims AS (
  SELECT doc_id, n_bytes,
         CAST(64 + checksum % 64 AS INT) AS width,
         CAST(64 + (checksum // 64) % 64 AS INT) AS height,
         round((checksum % 255) / 255.0, 6) AS brightness
  FROM decoded
)
SELECT doc_id, n_bytes, width, height, brightness,
       CAST((width + {_PATCH - 1}) // {_PATCH} AS INT) AS patches_x,
       CAST((height + {_PATCH - 1}) // {_PATCH} AS INT) AS patches_y,
       CAST(((width + {_PATCH - 1}) // {_PATCH})
            * ((height + {_PATCH - 1}) // {_PATCH}) AS INT) AS n_patches,
       CAST(((width + {_PATCH - 1}) // {_PATCH}) * {_PATCH} - width AS INT) AS pad_x,
       CAST(((height + {_PATCH - 1}) // {_PATCH}) * {_PATCH} - height AS INT) AS pad_y
FROM dims
"""


@query("multimodal_patch_grid", PATCH_GRID_ORACLE)
def multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid planning computed from the OUTPUT of the Arrow
    mapInPandas decoder (`extract_features`): 16x16 patch counts and edge
    padding per image — the tokenization budget a vision encoder pays per
    blob, aggregated upstream to plan batch shapes. The oracle replays the
    fake codec's checksum arithmetic in SQL (the corpus is ASCII, so
    codepoints == bytes), which makes this the query that HASH-GATES the
    Python decode path itself — byte iteration, Arrow transfer, dtype
    handling — not just JVM metadata ([[multimodal_blob_meta]]'s scope).
    Swapping `_decode_fake` for PIL changes the oracle to a fixture table;
    the plan is unchanged.

    Scale: decode is the sanctioned Arrow slow path, one pass, partition-
    streamed (never materializes a partition); the grid math is a
    stateless projection on the decoder's output. No shuffle anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(with_blob(docs))
    px = F.floor((F.col("width") + (_PATCH - 1)) / _PATCH).cast("int")
    py = F.floor((F.col("height") + (_PATCH - 1)) / _PATCH).cast("int")
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "brightness",
        px.alias("patches_x"),
        py.alias("patches_y"),
        (px * py).cast("int").alias("n_patches"),
        (px * _PATCH - F.col("width")).cast("int").alias("pad_x"),
        (py * _PATCH - F.col("height")).cast("int").alias("pad_y"),
    )


# ---------------------------------------------------------------------------
# Audio chunk planning: fixed-window-with-hop segmentation from metadata.
# ---------------------------------------------------------------------------

_SR = 16_000          # fake PCM sample rate
# window/hop sized to the synthetic payloads (~250 samples) so the chunk
# geometry (overlap, multi-chunk, truncated tail) is actually exercised;
# a real 16 kHz deployment uses 8000/4000 with the identical plan
_WIN = 64
_HOP = 32

AUDIO_CHUNK_ORACLE = f"""
WITH pcm AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_samples
  FROM documents
  WHERE octet_length(encode(text)) // 2 > 0
)
SELECT doc_id, n_samples,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * {_HOP} AS BIGINT) AS start_sample,
       CAST(least(i * {_HOP} + {_WIN}, n_samples) AS BIGINT) AS end_sample,
       CAST(least(i * {_HOP} + {_WIN}, n_samples) = n_samples AS INTEGER) AS is_tail
FROM (
  SELECT doc_id, n_samples,
         unnest(range(0, greatest((n_samples - {_WIN} + {_HOP} - 1) // {_HOP}, 0) + 1)) AS i
  FROM pcm
)
"""


@query("multimodal_audio_chunks", AUDIO_CHUNK_ORACLE)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation planning: treat each payload as 16-bit PCM and
    emit fixed windows with 50% hop overlap (the standard ASR /
    audio-embedding frontend shape; window=64/hop=32 samples here, scaled
    to the synthetic payloads) — chunk count = ceil((n - win)/hop)+1,
    final chunk truncated and flagged. Like [[multimodal_frame_sample]],
    this runs ENTIRELY from metadata so the expensive per-window decode
    downstream touches only planned spans; it is the audio twin of
    [[q_doc_chunking]]'s text windows.

    Scale: sequence+explode keeps every blob's chunks in its partition —
    no shuffle, output proportional to total audio duration, not corpus
    row count."""
    docs = load_table(spark, sf_dir, "documents")
    pcm = docs.select(
        "doc_id",
        F.floor(F.length(F.encode(F.col("text"), "UTF-8")) / 2)
        .cast("long")
        .alias("n_samples"),
    ).filter(F.col("n_samples") > 0)
    n_chunks = (
        F.greatest(
            F.ceil((F.col("n_samples") - _WIN) / _HOP).cast("long"), F.lit(0)
        )
        + 1
    )
    chunks = pcm.select(
        "doc_id",
        "n_samples",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("i"),
    )
    end = F.least(F.col("i").cast("long") * _HOP + _WIN, F.col("n_samples"))
    return chunks.select(
        "doc_id",
        "n_samples",
        F.col("i").cast("int").alias("chunk_idx"),
        (F.col("i").cast("long") * _HOP).alias("start_sample"),
        end.alias("end_sample"),
        (end == F.col("n_samples")).cast("int").alias("is_tail"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection over decoded payloads — the
# image-dedup twin of dedup_simhash, gating the Python decode path.
# ---------------------------------------------------------------------------

_PH_BITS = 60          # fits non-negative int64; 4 bands x 15 bits
_PH_BANDS = 4
_PH_BAND_BITS = 15
_PH_CAP = 64           # band buckets larger than this are boilerplate; skip
_PH_HAM = 8            # max Hamming distance for a verified near-dup pair


def _phash_fake(payload: bytes) -> int:
    """Deterministic stand-in for an image perceptual hash (pHash/aHash):
    threshold each of the first 60 bytes against the mean of the first 64
    — the exact shape of average-hash over DCT/pixel blocks, computed on
    bytes because no codec ships here. Replace with a real
    decode→resize→DCT→threshold at will; banding and verification are
    representation-agnostic."""
    head = payload[:64]
    n = len(head)
    if n == 0:
        return 0
    mean = sum(head) // n
    fp = 0
    for j in range(min(n, _PH_BITS)):
        if head[j] > mean:
            fp |= 1 << j
    return fp


def phash_features(blobs: DataFrame) -> DataFrame:
    """mapInPandas fingerprint extraction: (uid, payload) → (uid, fp).
    Same Arrow contract as `extract_features`; real formats raise."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts = pdf["format"]
            real = fmts.str.startswith(_REAL_FORMATS)
            if real.any():
                raise NotImplementedError(
                    f"no codec for {sorted(fmts[real].unique())} in this environment"
                )
            yield pd.DataFrame(
                {
                    "uid": pdf["uid"],
                    "fp": pdf["payload"].map(_phash_fake).astype("int64"),
                }
            )

    return blobs.select(
        "uid", "payload", F.col("meta.format").alias("format")
    ).mapInPandas(run, "uid long, fp long")


PHASH_DEDUP_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id AS uid, text FROM documents
  UNION ALL
  -- appended-tail mutant: first 64 payload bytes unchanged for docs with
  -- >= 64 bytes, so its fingerprint collides with the original's
  SELECT doc_id + 10000000 AS uid, text || ' ~~x' FROM documents
), bytes AS (
  SELECT uid,
         list_transform(range(1, least(length(text), 64) + 1),
                        i -> unicode(substr(text, i, 1))) AS bs
  FROM corpus WHERE length(text) > 0
), fps AS (
  SELECT uid,
         CAST(list_sum(list_transform(
           range(1, least(len(bs), {_PH_BITS}) + 1),
           j -> CASE WHEN bs[j] > CAST(list_sum(bs) AS BIGINT) // len(bs)
                     THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END))
           AS BIGINT) AS fp
  FROM bytes
), banded AS (
  SELECT uid, fp, band,
         (fp >> (band * {_PH_BAND_BITS})) & {(1 << _PH_BAND_BITS) - 1}
           AS band_val
  FROM fps CROSS JOIN (SELECT unnest(range(0, {_PH_BANDS})) AS band)
), capped AS (
  SELECT * FROM (
    SELECT uid, fp, band, band_val,
           count(*) OVER (PARTITION BY band, band_val) AS bucket_n
    FROM banded
  ) WHERE bucket_n <= {_PH_CAP}
), pairs AS (
  SELECT DISTINCT a.uid AS uid_a, b.uid AS uid_b, a.fp AS fp_a, b.fp AS fp_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_val = b.band_val AND a.uid < b.uid
)
SELECT uid_a, uid_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(fp_a, fp_b)) <= {_PH_HAM}
"""


@query("multimodal_phash_dedup", PHASH_DEDUP_ORACLE)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over binary payloads —
    image dedup, the multimodal twin of [[dedup_simhash]]: fingerprint
    every blob with a 60-bit average-hash (computed in the Arrow decode
    path, so this query hash-gates mapInPandas like
    [[multimodal_patch_grid]]), band the fingerprint 4×15 bits, join
    only within band buckets, and verify candidates by Hamming distance
    ≤ {_PH_HAM}. The corpus carries an appended-tail mutant per doc
    (bytes appended AFTER the hashed head), the re-encode/re-crop class
    of duplicate that exact digest dedup ([[multimodal_blob_meta]])
    can never catch.

    Scale: fingerprints are one decode pass; candidate generation is a
    bucket equi-join, never all-pairs. By pigeonhole, any pair with
    Hamming < {_PH_BANDS} shares an untouched band (recall 1.0 there);
    pairs at distance {_PH_BANDS}..{_PH_HAM} are found iff their flips
    spare a band — the standard Manku-style banding trade, widened by
    adding bands, not by widening the join. Hot buckets (all-dark /
    all-light images — degenerate fingerprints) are capped at {_PH_CAP}
    members, the same boilerplate guard as [[dedup_ngram_jaccard_capped]].
    Verification is a bit_count over the pruned pairs only."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.col("doc_id").alias("uid"), "text").unionAll(
        docs.select(
            (F.col("doc_id") + 10000000).alias("uid"),
            F.concat(F.col("text"), F.lit(" ~~x")).alias("text"),
        )
    ).filter(F.length("text") > 0)
    blobs = corpus.select(
        "uid",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(F.lit("fake/utf8-text").alias("format")).alias("meta"),
    )
    fps = phash_features(blobs)
    banded = fps.select(
        "uid",
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(_PH_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(
            f"shiftright(fp, band * {_PH_BAND_BITS}) & {(1 << _PH_BAND_BITS) - 1}"
        ),
    )
    from pyspark.sql.window import Window as W

    capped = banded.withColumn(
        "bucket_n", F.count(F.lit(1)).over(W.partitionBy("band", "band_val"))
    ).filter(F.col("bucket_n") <= _PH_CAP)
    a = capped.select(
        F.col("band"),
        F.col("band_val"),
        F.col("uid").alias("uid_a"),
        F.col("fp").alias("fp_a"),
    )
    b = capped.select(
        F.col("band").alias("band2"),
        F.col("band_val").alias("band_val2"),
        F.col("uid").alias("uid_b"),
        F.col("fp").alias("fp_b"),
    )
    pairs = (
        a.join(
            b,
            (a.band == b.band2)
            & (a.band_val == b.band_val2)
            & (F.col("uid_a") < F.col("uid_b")),
        )
        .select("uid_a", "uid_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select(
        "uid_a", "uid_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= _PH_HAM)


# ---------------------------------------------------------------------------
# Aspect-ratio bucketing over decoded dimensions (SDXL-style training prep).
# ---------------------------------------------------------------------------

_AR_BUCKETS = [  # (idx, name, a, b) — ratio a:b
    (0, "1:1", 1, 1),
    (1, "4:3", 4, 3),
    (2, "3:4", 3, 4),
    (3, "16:9", 16, 9),
    (4, "9:16", 9, 16),
]

_AR_VALUES_SQL = ", ".join(f"({i}, '{nm}', {a}, {b})" for i, nm, a, b in _AR_BUCKETS)

ASPECT_ORACLE = f"""
WITH decoded AS (
  SELECT doc_id,
         list_sum(list_transform(
           range(1, least(length(text), 64) + 1),
           i -> unicode(substr(text, i, 1)))) AS checksum
  FROM documents
), dims AS (
  SELECT doc_id,
         CAST(64 + checksum % 64 AS INT) AS width,
         CAST(64 + (checksum // 64) % 64 AS INT) AS height
  FROM decoded
), scored AS (
  SELECT doc_id, width, height, b.idx, b.nm,
         round(abs(CAST(width AS DOUBLE) / height
                   - CAST(b.a AS DOUBLE) / b.b), 9) AS diff,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY round(abs(CAST(width AS DOUBLE) / height
                              - CAST(b.a AS DOUBLE) / b.b), 9), b.idx
         ) AS rk
  FROM dims CROSS JOIN (
    SELECT * FROM (VALUES {_AR_VALUES_SQL}) AS t(idx, nm, a, b)
  ) b
)
SELECT doc_id, width, height, nm AS bucket, diff AS ar_distance
FROM scored WHERE rk = 1
"""


@query("multimodal_aspect_buckets", ASPECT_ORACLE)
def multimodal_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing of decoded images — assign every blob to
    the nearest of 5 canonical aspect ratios (1:1, 4:3, 3:4, 16:9, 9:16),
    the batching prep diffusion/vision training uses so same-shape images
    share a batch and nothing is destructively cropped (the bucket is the
    groupBy key the loader feeds [[q_length_grouped_batches]]-style
    packing with). Dimensions come from the Arrow decode path
    ([[multimodal_patch_grid]]'s gate), so this also exercises
    mapInPandas.

    Exactness: the ratio distance |w/h − a/b| is one IEEE division per
    side from identical integers (identical in both engines), rounded at
    1e-9 before the argmin; ties break on bucket index.

    Scale: decode is one streamed pass; the candidate explode is ×5 and
    the argmin window partitions per doc over a 5-row frame. Bucket
    HISTOGRAMS (the loader's view) are one further map-side-combinable
    groupBy on the output."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(with_blob(docs)).select("doc_id", "width", "height")
    buckets = [
        F.struct(
            F.lit(i).alias("idx"),
            F.lit(nm).alias("nm"),
            F.lit(a).alias("a"),
            F.lit(b).alias("b"),
        )
        for i, nm, a, b in _AR_BUCKETS
    ]
    exploded = feats.select(
        "doc_id", "width", "height", F.explode(F.array(*buckets)).alias("bk")
    )
    diff = F.round(
        F.abs(
            F.col("width").cast("double") / F.col("height")
            - F.col("bk.a").cast("double") / F.col("bk.b")
        ),
        9,
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(diff, F.col("bk.idx"))
    )
    return (
        exploded.withColumn("diff", diff)
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "width",
            "height",
            F.col("bk.nm").alias("bucket"),
            F.col("diff").alias("ar_distance"),
        )
    )
