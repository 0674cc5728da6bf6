"""CDC apply operators — the reference's core semantics, Spark-first.

The reference replays change events one at a time: poll → decode → dispatch
on op → one SQL statement against the target (reference:
app/consumer/consumer.py:55–75, app/utils/postgres.py:227–261). Here the
same semantics are a declarative plan over a batch of events:

  decode (C1) → tombstone filter (C2) → malformed containment (C3) →
  per-key last-event-wins reduction → dispatch (C4) → merge (C5–C7).

Two semantic modes, both oracle-tested:

- **Upsert (default)** — per-key ``max_by(event, offset)`` then MERGE.
  Idempotent across replays/batch retries, so Kafka's at-least-once
  becomes effectively-once. A strict improvement over the reference (its
  redelivery duplicates inserts), documented as a divergence.
- **Strict replay** — bit-faithful to the reference's anomalies: the
  target has no PK constraint (postgres.py:100–107), so re-inserting an
  existing key duplicates the row; UPDATE/DELETE touch all rows of a key;
  UPDATE/DELETE on a missing key are no-ops. Final multiset per key =
  inserts since the last delete, each carrying the value of the last
  subsequent update (`strict_replay`: per-key aggregates plus one array
  expression, shared by the batch query and the stream).

Scale notes: every step is a narrow projection, a window over the key, or
a key-partitioned join — at 100 TB the only shuffle is on the CDC key
(Debezium keys messages by PK, so the stream is already key-partitioned;
`repartition(key)` before the window reuses that partitioning). A merge
is ONE aggregate, so one shuffle on the key: events are projected to state
rows (`_state_rows`) and unioned with the stored state before the single
per-key max-by-offset reduction (`_latest`), instead of reducing the batch
and then the union in two exchanges. The merge is `foreachBatch`-friendly:
see streaming/cdc_stream.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import registrar
from ..sources.cdc_events import (
    BOOKKEEPING,
    MALFORMED_MOD,
    MALFORMED_REM,
    STATE_SCHEMA,
    derive_change_events,
    envelope_schema,
    event_parts,
)

QUERIES, ORACLES, query = registrar()


KNOWN_OPS = ("c", "r", "u", "d")


def decode_envelope(raw: DataFrame, schema: T.StructType = STATE_SCHEMA) -> DataFrame:
    """Kafka records → typed change rows.

    C1 envelope decode (bytes→JSON→payload ≙ consumer.py:65–71) via
    `from_json`; C2 tombstone skip (consumer.py:66–68); C3 malformed
    containment (consumer.py:78–79): unparseable JSON nulls out under
    PERMISSIVE mode and is flagged, not dropped, as is an envelope with no
    ``id`` in either image — callers route it to a dead-letter sink or
    count it. C9 strictness: unknown op codes raise, like the reference's
    ``RuntimeError`` (postgres.py:260–261).

    `schema` is the replicated table's state schema (the events-derived
    table by default, e.g. `workload.CUSTOMERS_STATE_SCHEMA` for the
    customers table); the envelope is derived from it
    (`cdc_events.envelope_schema`), and everything downstream takes its
    columns from the decoded ``after`` struct.

    The parse is the output of a one-element ``explode``, not a projected
    column: Catalyst pushes a filter on a projected column below its
    projection by inlining the expression, so a downstream
    ``well_formed`` would run ``from_json`` a second time in the pushed
    filter. A filter on a generator's output stays above it.
    """
    envelope, decoded = envelope_columns(schema)
    parsed = raw.filter(F.col("value").isNotNull()).select(
        "offset", F.explode(F.array(envelope)).alias("envelope")
    )
    return parsed.select(*decoded)


def envelope_columns(schema: T.StructType) -> tuple[Column, list[Column]]:
    """`decode_envelope`'s two steps as Columns: the ``value`` parsed under
    the envelope derived from ``schema``, and the decoded change columns
    over that parse, named ``envelope``."""
    op = F.col("envelope.payload.op")
    op = F.when(op.isNull() | op.isin(*KNOWN_OPS), op).otherwise(
        F.raise_error(F.concat(F.lit("Unknown option: "), op))
    )
    key = F.coalesce(F.col("envelope.payload.after.id"), F.col("envelope.payload.before.id"))
    return F.from_json(F.col("value"), envelope_schema(schema)), [
        F.col("envelope.payload.before").alias("before"),
        F.col("envelope.payload.after").alias("after"),
        op.alias("op"),
        key.alias("id"),
        F.col("envelope.payload.ts_ms").alias("ts_ms"),
        F.col("offset"),
        # PERMISSIVE from_json yields a struct with a null payload on corrupt
        # input (not a null struct), so the key is null there too. A null
        # key is malformed either way: it would merge as a null-key row.
        key.isNull().alias("is_malformed"),
    ]


def well_formed(changes: DataFrame) -> DataFrame:
    return changes.filter(~F.col("is_malformed"))


def last_event_per_key(changes: DataFrame, key: str = "id", order: str = "offset") -> DataFrame:
    """Per-key last-event-wins reduction — replaces the reference's serial
    replay ordering. Shuffles once on the key; Debezium's PK-keyed
    partitioning means within-key offset order is total, so this is exact."""
    w = W.partitionBy(key).orderBy(F.col(order).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


# Materialized CDC state (`cdc_events.STATE_SCHEMA` and its siblings): the
# after-image plus _offset/_deleted merge bookkeeping, with deletes kept as
# tombstone rows. The after-image columns are read off the decoded frame.


def after_columns(changes: DataFrame) -> tuple[str, ...]:
    """The after-image columns a decoded frame carries, key excluded."""
    return tuple(n for n in changes.schema["after"].dataType.names if n != "id")


def _state_rows(changes: DataFrame) -> DataFrame:
    """Each well-formed change event as a state row: (id, after-image
    columns, offset → _offset, op = 'd' → _deleted). A narrow projection:
    no shuffle, and a delete's null after-image becomes a tombstone."""
    return well_formed(changes).select(
        "id",
        *[F.col(f"after.{c}").alias(c) for c in after_columns(changes)],
        F.col("offset").alias("_offset"),
        (F.col("op") == "d").alias("_deleted"),
    )


def _latest(rows: DataFrame) -> DataFrame:
    """Per key, the state row with the highest ``_offset``.

    ``max_by(struct, _offset)`` is a hash AGGREGATE: Catalyst plans a
    map-side partial reduction, so the one shuffle on the key carries one
    candidate row per key per partition. The row_number-window alternative
    (`last_event_per_key`) sorts every event within each key post-shuffle —
    same answer (verified), strictly worse movement at scale."""
    payload = [c for c in rows.columns if c != "id"]
    last = rows.groupBy("id").agg(
        F.max_by(F.struct(*payload), F.col("_offset")).alias("_last")
    )
    return last.select("id", *[F.col(f"_last.{c}").alias(c) for c in payload])


def materialize(changes: DataFrame) -> DataFrame:
    """A batch of decoded change events → CDC state fragment (one row per
    key: latest event's after-image, or a tombstone for deletes). One
    aggregate, one shuffle on the key."""
    return _latest(_state_rows(changes))


def merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Monoid merge of two state fragments: per key, the row with the
    highest offset wins. Commutative + associative + idempotent (offsets
    are unique per key), so micro-batches can arrive out of order, be
    retried, or be re-split arbitrarily — the fixpoint is the same.
    One aggregate over the union, one shuffle on the key; at
    Debezium-keyed-topic scale the input is already partitioned by key,
    so AQE keeps this cheap."""
    return _latest(a.unionByName(b))


def apply_changes(state: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE a batch of decoded change events into a CDC state snapshot.

    Equal to ``merge_states(state, materialize(changes))``, but because the
    per-key max over offsets is associative the batch is not reduced on its
    own first: its events join the state as state rows and ONE aggregate
    reduces the union — one shuffle on the key per merge, not two. With a
    lakehouse table this maps to ``MERGE INTO`` keyed on (id) with an
    offset guard (`WHEN MATCHED AND src._offset > tgt._offset`)."""
    return _latest(state.unionByName(_state_rows(changes)))


def state_view(state: DataFrame) -> DataFrame:
    """User-facing table: tombstones filtered out, bookkeeping dropped."""
    return state.filter(~F.col("_deleted")).drop(*BOOKKEEPING)


def empty_state(spark: SparkSession, schema: T.StructType = STATE_SCHEMA) -> DataFrame:
    """The state of a target nothing was merged into yet. Built over an
    empty JVM RDD: no partitions, so no task and no Python worker runs for
    it (``createDataFrame([], schema)`` parallelizes an empty local list
    and schedules a Python-worker task per core)."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def final_state_upsert(changes: DataFrame) -> DataFrame:
    """Default semantics: the target after replaying `changes` into an empty
    table with MERGE-style upserts (c/r/u all upsert, d deletes)."""
    return state_view(materialize(changes))


# ---------------------------------------------------------------------------
# Oracle-tested queries.
# ---------------------------------------------------------------------------

_WELL_FORMED_SQL = f"""
  SELECT user_id, value, ts, event_id,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op
  FROM events
  WHERE event_id % {MALFORMED_MOD} <> {MALFORMED_REM}
"""

CDC_FINAL_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM well_formed
)
SELECT user_id AS id, round(value, 2) AS value, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


@query("cdc_final_state", CDC_FINAL_ORACLE)
def cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC pipeline, upsert semantics: synthesize the Debezium
    stream, decode envelopes, skip tombstones/malformed, last-event-wins,
    drop deletes → final target state."""
    raw = derive_change_events(spark, sf_dir)
    final = final_state_upsert(decode_envelope(raw))
    return final.select("id", F.round("value", 2).alias("value"), "ts")


CDC_OP_COUNTS_ORACLE = f"""
WITH decoded AS (
  SELECT CASE
    WHEN event_id % {MALFORMED_MOD} = {MALFORMED_REM} THEN '_malformed'
    ELSE CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END
  END AS op
  FROM events
  UNION ALL
  -- a tombstone follows every delete; corruption hits the delete's own
  -- message, never the (already-null) tombstone
  SELECT '_tombstone' AS op FROM events WHERE event_type = 'error'
)
SELECT op, count(*) AS n FROM decoded GROUP BY op
"""


@query("cdc_op_counts", CDC_OP_COUNTS_ORACLE)
def cdc_op_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: message counts by disposition (per-op apply
    counts + tombstones skipped + malformed contained). The reference only
    logs these (consumer.py:72–79); here they're a first-class aggregate."""
    raw = derive_change_events(spark, sf_dir)
    tomb = raw.filter(F.col("value").isNull()).select(F.lit("_tombstone").alias("op"))
    decoded = decode_envelope(raw)
    ops = decoded.select(
        F.when(F.col("is_malformed"), "_malformed").otherwise(F.col("op")).alias("op")
    )
    return ops.unionByName(tomb).groupBy("op").agg(F.count(F.lit(1)).alias("n"))


CDC_STRICT_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
annotated AS (
  SELECT *,
    max(CASE WHEN op = 'd' THEN event_id END)
      OVER (PARTITION BY user_id) AS last_delete,
    first_value(CASE WHEN op = 'u' THEN value END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY event_id DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_update_value
  FROM well_formed
)
SELECT id, value, count(*) AS n_rows
FROM (
  SELECT user_id AS id, round(coalesce(last_update_value, value), 2) AS value
  FROM annotated
  WHERE op IN ('c', 'r') AND event_id > coalesce(last_delete, -1)
)
GROUP BY id, value
"""


def strict_replay(changes: DataFrame) -> DataFrame:
    """Well-formed decoded change events → one row per key of the
    reference's no-PK replay: (id, multiset, version), the multiset an
    array of (value, n_rows).

    The key's state is four aggregates, each a max, a count or a list, so
    events fold to the same row in any order and over any split into
    micro-batches:

    - ``last_delete``: the highest delete offset;
    - ``last_update``: the (offset, value) of the highest-offset update
      with a non-null value (``max_by`` skips a null ordering, and the
      oracle's ``first_value(... IGNORE NULLS)`` skips a null update);
    - ``inserts``: every ``c``/``r`` event's (offset, value);
    - ``version``: the key's event count, which rises with every emission
      of the key in an update-mode stream.

    The multiset keeps the inserts above the last delete, values each at
    the last update if that came after it, rounded to cents, and counts
    the rows of each distinct value (null counts as one value). Inserts a
    later delete covers stay in ``inserts``: a stream's state holds every
    insert of the key, not only the live ones."""
    op, offset, value = F.col("op"), F.col("offset"), F.col("after.value")
    event = F.struct(offset.alias("offset"), value.alias("value"))
    keyed = changes.groupBy("id").agg(
        F.max(F.when(op == "d", offset)).alias("last_delete"),
        F.max_by(event, F.when((op == "u") & value.isNotNull(), offset)).alias("last_update"),
        F.collect_list(F.when(op.isin("c", "r"), event)).alias("inserts"),
        F.count(F.lit(1)).alias("version"),
    )
    update = F.col("last_update")
    live = F.filter(
        "inserts", lambda i: i["offset"] > F.coalesce(F.col("last_delete"), F.lit(-1))
    )
    values = F.transform(
        live,
        lambda i: F.round(
            F.when(update["offset"] > i["offset"], update["value"]).otherwise(i["value"]), 2
        ),
    )
    multiset = F.transform(
        F.array_distinct("values"),
        lambda v: F.struct(
            v.alias("value"),
            F.size(F.filter("values", lambda y: y.eqNullSafe(v))).cast("long").alias("n_rows"),
        ),
    )
    return keyed.select("id", values.alias("values"), "version").select(
        "id", multiset.alias("multiset"), "version"
    )


@query("cdc_strict_replay_state", CDC_STRICT_ORACLE)
def cdc_strict_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful strict replay (anomalies preserved, SURVEY §2.2):

    - the target has no PK (postgres.py:100–107) → repeated inserts for a
      live key DUPLICATE the row; `n_rows` counts them;
    - a snapshot read (``r``) inserts like a create (postgres.py:254–255);
    - UPDATE rewrites every duplicate (postgres.py:173–178 keys on id);
    - UPDATE/DELETE on an absent key are no-ops (0-row DML doesn't error);
    - DELETE removes all rows of the key (postgres.py:214–219).

    One row per (key, value) of `strict_replay`'s multiset: one aggregate,
    one shuffle on the key, no serial replay and no Python loop. The
    strict stream (`streaming.stateful.strict_replay_stream`) runs the
    same aggregate."""
    raw = derive_change_events(spark, sf_dir)
    per_key = strict_replay(well_formed(decode_envelope(raw)))
    return per_key.select("id", F.explode("multiset").alias("m")).select(
        "id", "m.value", "m.n_rows"
    )


@query("cdc_incremental_merge", CDC_FINAL_ORACLE)
def cdc_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental apply ≡ one-shot replay: split the stream into two
    INTERLEAVED batches (event parity, `cdc_events.event_parts` — a
    strictly harder split than `foreachBatch`'s time-ordered micro-batches,
    and a genuine two-way split however the driver regenerates the data),
    MERGE batch 1 into an empty target, then MERGE batch 2 — the result
    must equal the single-pass final state (same oracle), because the
    apply is a commutative idempotent monoid."""
    raw = derive_change_events(spark, sf_dir)
    batch1, batch2 = (decode_envelope(part) for part in event_parts(raw, 2))
    target1 = apply_changes(empty_state(spark), batch1)
    target2 = apply_changes(target1, batch2)
    return state_view(target2).select("id", F.round("value", 2).alias("value"), "ts")


def _key_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived stream's well-formed events (id, op, offset, ts_ms,
    value) with, in the key's offset order, the key's value after each
    (``_new``, null for a delete) and before it (``_prior``, lag), and the
    next event's ts_ms (``valid_to_ms``, lead). Unused windows are pruned."""
    raw = derive_change_events(spark, sf_dir)
    w = W.partitionBy("id").orderBy("offset")
    return (
        well_formed(decode_envelope(raw))
        .select("id", "op", "offset", "ts_ms", F.col("after.value").alias("value"))
        .withColumn("_new", F.when(F.col("op") != "d", F.col("value")))
        .withColumn("_prior", F.lag("_new").over(w))
        .withColumn("valid_to_ms", F.lead("ts_ms").over(w))
    )


CDC_INCR_AGG_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM well_formed
)
SELECT count(*) AS n_live,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total_value
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


@query("cdc_incremental_agg", CDC_INCR_AGG_ORACLE)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view style): the
    live-row count and value total of the CDC target, computed from
    per-event DELTAS — never from the materialized table. Each event's
    delta is (its after-value) − (the key's previous live value), where
    the previous value comes from lag() over the key's offset order —
    exactly the before-image Debezium ships under REPLICA IDENTITY FULL
    (the reference's envelope carries it too: README.md:212–218). Deltas
    telescope per key, so their sum equals the final-state aggregate —
    which is what the oracle computes, proving the equivalence.

    Scale: maintaining an aggregate this way is O(changes), not O(table):
    at 100 TB the nightly refresh touches only the day's events. Deltas
    are exact integer cents (see functions/money.py), so partial sums
    commute across any batch/partition order."""
    ch = _key_history(spark, sf_dir)
    new_cents = F.coalesce(F.round(F.col("_new") * 100).cast("long"), F.lit(0))
    prior_cents = F.coalesce(F.round(F.col("_prior") * 100).cast("long"), F.lit(0))
    live_delta = F.col("_new").isNotNull().cast("long") - F.col(
        "_prior"
    ).isNotNull().cast("long")
    return ch.agg(
        F.sum(live_delta).alias("n_live"),
        F.round(F.sum(new_cents - prior_cents) / 100.0, 2).alias("total_value"),
    )


SCD2_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
versions AS (
  SELECT user_id AS id, value, op, epoch_ms(ts) AS valid_from_ms,
         lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to_ms
  FROM well_formed
)
SELECT id, round(value, 2) AS value, valid_from_ms, valid_to_ms,
       valid_to_ms IS NULL AS is_current
FROM versions WHERE op <> 'd'
"""


@query("cdc_scd2_history", SCD2_ORACLE)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 from the change stream: one row
    per version of each key, with [valid_from, valid_to) millisecond
    bounds and an is_current flag. A version closes when ANY later event
    touches the key — including a delete, which closes the last version
    without opening a new one (deleted keys have no current row).

    lead() over (key, offset) is the whole algorithm: one shuffle on the
    key, no self-join, no serial replay — the standard way to land a CDC
    feed as a warehouse dimension. Epoch-ms integers (Debezium's ts_ms)
    keep the interval arithmetic engine-exact."""
    return (
        _key_history(spark, sf_dir)
        .filter(F.col("op") != "d")
        .select(
            "id",
            F.round("value", 2).alias("value"),
            F.col("ts_ms").alias("valid_from_ms"),
            "valid_to_ms",
            F.col("valid_to_ms").isNull().alias("is_current"),
        )
    )


IVM_JOIN_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM well_formed
), final AS (
  SELECT user_id, value FROM ranked WHERE rn = 1 AND op <> 'd'
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_live,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS total_value
FROM final JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@query("cdc_ivm_join_view", IVM_JOIN_ORACLE)
def cdc_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (target ⋈ customer dim,
    aggregated per market segment) from the change stream alone — the
    join-view extension of [[cdc_incremental_agg]], using Z-set weighted
    deltas (DBSP-style: each change event emits a −1 retraction of the
    key's prior row and a +1 insertion of its new row; updates are
    retract+insert pairs). The delta relation joins the static dimension
    and the weighted sums telescope per key, so Σw and Σ(w·cents) over
    ALL deltas equal count and sum over the FINAL table state — which is
    what the oracle computes from last-event-per-key. Never materializes
    the target.

    Scale: refreshing the view costs O(|changes|) joined against the
    broadcast dim — independent of table size; deltas are exact integer
    cents so partial sums commute across batches ([[spark-duckdb-oracle-
    parity]]). The same delta stream maintains arbitrary additive
    aggregates over any number of join views from one pass."""
    ch = _key_history(spark, sf_dir)
    inserts = ch.filter(F.col("_new").isNotNull()).select(
        "id", F.lit(1).alias("wgt"), F.col("_new").alias("v")
    )
    retracts = ch.filter(F.col("_prior").isNotNull()).select(
        "id", F.lit(-1).alias("wgt"), F.col("_prior").alias("v")
    )
    deltas = inserts.unionByName(retracts)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = F.round(F.col("v") * 100).cast("long")
    return (
        deltas.join(dim, deltas.id == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.sum("wgt").cast("long").alias("n_live"),
            F.round(F.sum(F.col("wgt") * cents) / 100.0, 2).alias("total_value"),
        )
    )


ANOMALY_AUDIT_ORACLE = f"""
WITH strict_raw AS ({CDC_STRICT_ORACLE}),
strict AS (
  SELECT id, CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_vals,
         max(value) AS a_value
  FROM strict_raw GROUP BY id
), ideal AS ({CDC_FINAL_ORACLE})
SELECT CASE
         WHEN ideal.id IS NULL THEN 'extra_in_strict'
         WHEN strict.id IS NULL THEN 'missing_in_strict'
         WHEN strict.total_rows > 1 THEN 'duplicate_insert'
         WHEN strict.n_vals = 1 AND strict.a_value = ideal.value THEN 'consistent'
         ELSE 'value_mismatch'
       END AS disposition,
       CAST(count(*) AS BIGINT) AS n_keys
FROM strict FULL OUTER JOIN ideal ON strict.id = ideal.id
GROUP BY disposition
"""


@query("cdc_anomaly_audit", ANOMALY_AUDIT_ORACLE)
def cdc_anomaly_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the divergence between reference-faithful strict replay
    (no PK: duplicate inserts survive, update-of-absent-key no-ops —
    SURVEY §2.2 \"semantics to preserve\") and the engine's default
    idempotent MERGE semantics, per key: consistent /
    duplicate_insert (the at-least-once anomaly, consumer.py:73–77) /
    missing_in_strict (first event was an update: upsert creates it,
    strict no-ops) / value_mismatch / extra_in_strict (provably empty).
    Makes the documented divergence an AUDITABLE number instead of a
    docstring claim; both sides derive from the already-gated state
    queries, joined full-outer on the key."""
    strict = (
        cdc_strict_replay_state(spark, sf_dir)
        .groupBy("id")
        .agg(
            F.sum("n_rows").alias("total_rows"),
            F.count(F.lit(1)).alias("n_vals"),
            F.max("value").alias("a_value"),
        )
    )
    ideal = cdc_final_state(spark, sf_dir).select(
        F.col("id").alias("i_id"), F.col("value").alias("i_value")
    )
    joined = strict.join(ideal, strict.id == F.col("i_id"), "full_outer")
    disposition = (
        F.when(F.col("i_id").isNull(), "extra_in_strict")
        .when(F.col("id").isNull(), "missing_in_strict")
        .when(F.col("total_rows") > 1, "duplicate_insert")
        .when(
            (F.col("n_vals") == 1) & (F.col("a_value") == F.col("i_value")),
            "consistent",
        )
        .otherwise("value_mismatch")
    )
    return joined.groupBy(disposition.alias("disposition")).agg(
        F.count(F.lit(1)).alias("n_keys")
    )


SCD2_PROBE_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
versions AS (
  SELECT user_id AS id, value, op, epoch_ms(ts) AS vf,
         lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS vt
  FROM well_formed
), dim AS (
  SELECT id, value, vf, vt FROM versions WHERE op <> 'd'
), probes AS (
  SELECT event_id, user_id, epoch_ms(ts) AS t_ms, round(value, 2) AS amount
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.amount,
       round(d.value, 2) AS dim_value,
       d.vf AS version_from_ms,
       d.id IS NOT NULL AS matched
FROM probes p LEFT JOIN dim d
  ON d.id = p.user_id AND d.vf < p.t_ms AND (d.vt IS NULL OR d.vt >= p.t_ms)
"""


@query("cdc_scd2_probe", SCD2_PROBE_ORACLE)
def cdc_scd2_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension lookup at event time: every purchase fact is
    joined to the [[cdc_scd2_history]] version that was current
    STRICTLY BEFORE the purchase instant (vf < t <= vt) — "what did we
    know about this user as the purchase arrived", the point-in-time
    join every warehouse does against a Type-2 dimension, and the
    strictly-before bound is exactly the leakage rule a feature store
    enforces (the purchase's own dimension update must not describe
    itself). Purchases whose user has no prior live version survive
    with matched=false (left join), mirroring the reference's no-op
    UPDATE on a missing key (app/utils/postgres.py:173-185: UPDATE
    affecting 0 rows is not an error).

    The interval predicate makes this a range join: both engines
    evaluate the same (vf < t AND (vt IS NULL OR vt >= t)) bounds, and
    version chains are disjoint per key so at most one version matches.
    Physically Spark plans equi-join on id + interval filter; per-key
    version counts are small (bounded by per-user event counts), so
    the expansion is bounded. At scale the dim side is bucketed by id,
    and the probe becomes a broadcast when the dimension's current
    window fits - the plan is the batch twin of a temporal-table join
    in a stream processor."""
    dim = (
        _key_history(spark, sf_dir)
        .filter(F.col("op") != "d")
        .select("id", "value", F.col("ts_ms").alias("vf"), F.col("valid_to_ms").alias("vt"))
    )
    probes = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_millis("ts").alias("t_ms"),
            F.round("value", 2).alias("amount"),
        )
    )
    cond = (
        (dim.id == probes.user_id)
        & (dim.vf < probes.t_ms)
        & (dim.vt.isNull() | (dim.vt >= probes.t_ms))
    )
    return probes.join(dim, cond, "left").select(
        "event_id",
        "user_id",
        "amount",
        F.round(dim.value, 2).alias("dim_value"),
        dim.vf.alias("version_from_ms"),
        dim.id.isNotNull().alias("matched"),
    )


# ---------------------------------------------------------------------------
# Transaction-consistent apply: buffer-until-commit semantics.
# ---------------------------------------------------------------------------

_TX_SIZE = 8        # events per source transaction (offset DIV 16: offsets
                    # are 2*event_id, tombstones odd, so one tx spans 16)
_TX_ABORT_MOD = 53
_TX_ABORT_REM = 7

CDC_TX_ORACLE = f"""
WITH tx AS (
  SELECT user_id, value, ts, event_id,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
         event_id // {_TX_SIZE} AS tx_id,
         CASE WHEN event_id % {MALFORMED_MOD} = {MALFORMED_REM} THEN 1 ELSE 0 END AS bad
  FROM events
),
txstat AS (
  SELECT tx_id, count(*) AS n, sum(bad) AS n_bad FROM tx GROUP BY tx_id
),
committed AS (
  SELECT tx_id FROM txstat
  WHERE n = {_TX_SIZE} AND n_bad = 0 AND tx_id % {_TX_ABORT_MOD} <> {_TX_ABORT_REM}
),
applied AS (SELECT t.* FROM tx t JOIN committed USING (tx_id)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM applied
)
SELECT user_id AS id, round(value, 2) AS value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


@query("cdc_tx_consistent_state", CDC_TX_ORACLE)
def cdc_tx_consistent_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-consistent CDC apply: group change events into source
    transactions ({_TX_SIZE} events each, via Debezium's transaction
    metadata — here derived as offset DIV 16) and apply a transaction
    ONLY if it is complete (all {_TX_SIZE} events arrived), contains no
    malformed message, and wasn't aborted (tx_id % {_TX_ABORT_MOD} =
    {_TX_ABORT_REM} simulates rollbacks). Partial/poisoned transactions
    are quarantined WHOLE — the target never exposes a half-applied
    transaction, the atomicity the reference's one-statement-per-message
    loop (consumer.py:55–75) cannot provide.

    Scale shape: the tx-completeness stats and the membership semi-join
    both key on tx_id, so one shuffle partitioning serves both; the
    final last-event-wins is the usual key shuffle. Nothing buffers on
    the driver — 'buffer until commit' is just a semi-join filter."""
    raw = derive_change_events(spark, sf_dir)
    decoded = decode_envelope(raw).withColumn("tx_id", F.expr("offset DIV 16"))
    stats = decoded.groupBy("tx_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_malformed").cast("int")).alias("n_bad"),
    )
    committed = stats.filter(
        (F.col("n") == _TX_SIZE)
        & (F.col("n_bad") == 0)
        & (F.col("tx_id") % _TX_ABORT_MOD != _TX_ABORT_REM)
    ).select("tx_id")
    applied = decoded.join(committed, "tx_id", "left_semi")
    final = final_state_upsert(applied)
    return final.select("id", F.round("value", 2).alias("value"), "ts")


# ---------------------------------------------------------------------------
# CDC op-mix drift: is the change-stream composition shifting?
# ---------------------------------------------------------------------------

_OPMIX_BUCKETS = 10
_OPMIX_PSI_T = 0.1


def _opmix_oracle() -> str:
    # half-count smoothing over the 3 op classes so log terms are finite
    # in sparse buckets (same discipline as q_psi_drift)
    def share(n, tot):
        return f"(({n}) + 0.5) / (({tot}) + 1.5)"

    return f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
rng AS (
  SELECT min(event_id) AS lo, max(event_id) AS hi FROM well_formed
), bucketed AS (
  SELECT CAST((event_id - r.lo) * {_OPMIX_BUCKETS} // (r.hi - r.lo + 1)
              AS INT) AS bucket,
         op
  FROM well_formed CROSS JOIN rng r
), b AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN op = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
         CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_d
  FROM bucketed GROUP BY bucket
), g AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(n_c) AS BIGINT) AS n_c,
         CAST(sum(n_u) AS BIGINT) AS n_u,
         CAST(sum(n_d) AS BIGINT) AS n_d
  FROM b
), psi AS (
  SELECT b.bucket, b.n, b.n_c, b.n_u, b.n_d,
         round(
           ({share('b.n_c', 'b.n')} - {share('g.n_c', 'g.n')})
             * round(ln(({share('b.n_c', 'b.n')}) / ({share('g.n_c', 'g.n')})), 9)
         + ({share('b.n_u', 'b.n')} - {share('g.n_u', 'g.n')})
             * round(ln(({share('b.n_u', 'b.n')}) / ({share('g.n_u', 'g.n')})), 9)
         + ({share('b.n_d', 'b.n')} - {share('g.n_d', 'g.n')})
             * round(ln(({share('b.n_d', 'b.n')}) / ({share('g.n_d', 'g.n')})), 9)
         , 9) AS psi
  FROM b CROSS JOIN g
)
SELECT bucket, n, n_c, n_u, n_d, psi,
       CAST(psi > {_OPMIX_PSI_T} AS INTEGER) AS drift_flag
FROM psi
"""


CDC_OPMIX_ORACLE = _opmix_oracle()


@query("cdc_op_mix_drift", CDC_OPMIX_ORACLE)
def cdc_op_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-stream health monitoring: split the well-formed CDC stream
    into {_OPMIX_BUCKETS} offset-range windows and PSI-score each
    window's insert/update/delete mix against the stream-wide mix — a
    delete spike (bad upstream migration), an insert flood (backfill), or
    an update storm (loop) shows up as a drifting bucket BEFORE the
    target table shape does. [[cdc_op_counts]] is the total; this is the
    trend. Half-count smoothing keeps sparse buckets finite (the
    [[q_psi_drift]] discipline), ln terms round at 1e-9.

    Scale: bucket assignment is integer arithmetic on the offset against
    two broadcast scalars; the mix collapses to {_OPMIX_BUCKETS}×4
    integers map-side; PSI is scalar math over that bounded frame. The
    streaming form scores each micro-batch against the running mix with
    the same formula."""
    raw = derive_change_events(spark, sf_dir).filter(F.col("value").isNotNull())
    decoded = decode_envelope(raw).filter(~F.col("is_malformed"))
    # kafka offset = 2*event_id (tombstones at odd offsets, filtered above)
    ops = decoded.select(
        F.expr("offset DIV 2").alias("event_id"), "op"
    )
    rng = ops.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
    bucketed = ops.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"CAST((event_id - lo) * {_OPMIX_BUCKETS} DIV (hi - lo + 1) AS INT)"
        ).alias("bucket"),
        "op",
    )
    b = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("op") == "c").cast("int")).cast("long").alias("n_c"),
        F.sum((F.col("op") == "u").cast("int")).cast("long").alias("n_u"),
        F.sum((F.col("op") == "d").cast("int")).cast("long").alias("n_d"),
    )
    g = b.agg(
        F.sum("n").alias("gn"),
        F.sum("n_c").alias("gc"),
        F.sum("n_u").alias("gu"),
        F.sum("n_d").alias("gd"),
    )

    def share(n, tot):
        return (n + 0.5) / (tot + 1.5)

    j = b.crossJoin(F.broadcast(g))
    terms = []
    for bc, gc in (("n_c", "gc"), ("n_u", "gu"), ("n_d", "gd")):
        pb = share(F.col(bc), F.col("n"))
        pg = share(F.col(gc), F.col("gn"))
        terms.append((pb - pg) * F.round(F.log(pb / pg), 9))
    psi = F.round(terms[0] + terms[1] + terms[2], 9)
    return j.select(
        "bucket",
        "n",
        "n_c",
        "n_u",
        "n_d",
        psi.alias("psi"),
        (psi > _OPMIX_PSI_T).cast("int").alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# Hot-key concentration in the change stream.
# ---------------------------------------------------------------------------

_HOTKEY_TOPK = 10
_HOTKEY_SHARE_T = 0.01  # a single key above 1% of all changes is "hot"

CDC_HOTKEYS_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
per_key AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_changes
  FROM well_formed GROUP BY user_id
), tot AS (
  SELECT CAST(sum(n_changes) AS BIGINT) AS total FROM per_key
), ranked AS (
  SELECT user_id, n_changes,
         row_number() OVER (ORDER BY n_changes DESC, user_id) AS rk
  FROM per_key
)
SELECT r.user_id, r.n_changes, CAST(r.rk AS INT) AS rk,
       round(CAST(r.n_changes AS DOUBLE) / t.total, 6) AS change_share,
       CAST(CAST(r.n_changes AS DOUBLE) / t.total > {_HOTKEY_SHARE_T}
            AS INTEGER) AS is_hot
FROM ranked r CROSS JOIN tot t
WHERE r.rk <= {_HOTKEY_TOPK}
"""


@query("cdc_hot_keys", CDC_HOTKEYS_ORACLE)
def cdc_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key report for the change stream: the top-{_HOTKEY_TOPK} most
    frequently changed keys with their share of all changes and a
    >{_HOTKEY_SHARE_T:.0%} flag — the CDC-side skew detector. A hot key
    concentrates a merge's shuffle partition ([[q_salted_skew_join]] is
    the mitigation), serializes its per-key apply, and usually means an
    upstream update loop; you want this BEFORE the merge slows, not
    after. Completes the stream-health set with [[cdc_op_mix_drift]]
    (composition) and [[cdc_op_counts]] (totals).

    Scale: per-key counts are one map-side-combinable groupBy; the
    top-k is TakeOrdered over the key-count table (never a global sort
    of raw changes); share is a ratio to one broadcast total."""
    raw = derive_change_events(spark, sf_dir).filter(F.col("value").isNotNull())
    decoded = decode_envelope(raw).filter(~F.col("is_malformed"))
    key = F.coalesce(F.col("after.id"), F.col("before.id")).alias("user_id")
    per_key = decoded.select(key).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_changes")
    )
    tot = per_key.agg(F.sum("n_changes").alias("total"))
    from pyspark.sql.window import Window as W

    # orderBy().limit() plans as TakeOrderedAndProject (per-partition heap
    # + driver merge of k rows) — never a global sort or a full-table
    # single-partition window; the rank window then sees only k rows.
    topk = per_key.orderBy(F.col("n_changes").desc(), "user_id").limit(_HOTKEY_TOPK)
    rk = F.row_number().over(W.orderBy(F.col("n_changes").desc(), "user_id"))
    share = F.col("n_changes").cast("double") / F.col("total")
    return (
        topk.withColumn("rk", rk.cast("int"))
        .crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_changes",
            "rk",
            F.round(share, 6).alias("change_share"),
            (share > _HOTKEY_SHARE_T).cast("int").alias("is_hot"),
        )
    )


# ---------------------------------------------------------------------------
# Per-key lifecycle census of the change stream.
# ---------------------------------------------------------------------------

CDC_LIFECYCLE_ORACLE = f"""
WITH well_formed AS ({_WELL_FORMED_SQL}),
per_key AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS eday,
         count(*) AS n_ops,
         sum(CASE WHEN op = 'c' THEN 1 ELSE 0 END) AS n_c,
         sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS n_u,
         arg_max(op, event_id) AS last_op,
         min(CASE WHEN op = 'd' THEN event_id END) AS first_d_off,
         max(CASE WHEN op = 'c' THEN event_id END) AS last_c_off,
         epoch_ms(max(ts)) - epoch_ms(min(ts)) AS lifespan_ms
  FROM well_formed GROUP BY user_id, eday
),
classed AS (
  SELECT *,
    CASE
      WHEN n_c > 0 AND first_d_off IS NOT NULL AND last_c_off > first_d_off
        THEN 'resurrected'
      WHEN last_op = 'd' THEN 'deleted'
      WHEN n_c = 0 THEN 'orphan_updates'
      WHEN n_u > 0 THEN 'active_updated'
      ELSE 'create_only'
    END AS lifecycle
  FROM per_key
)
SELECT lifecycle,
       CAST(count(*) AS BIGINT) AS n_key_days,
       CAST(sum(n_ops) AS BIGINT) AS n_ops,
       round(CAST(sum(n_u) AS DOUBLE) / count(*), 6) AS avg_updates,
       round(CAST(sum(lifespan_ms) AS DOUBLE) / count(*), 6) AS avg_lifespan_ms
FROM classed GROUP BY lifecycle
"""


@query("cdc_key_lifecycle", CDC_LIFECYCLE_ORACLE)
def cdc_key_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily lifecycle census of the change stream: each (key, day) is
    classified from that day's op history — `resurrected` (created again after
    a delete: the anomaly class [[cdc_strict_replay_state]] must apply
    correctly), `deleted` (last op is a delete), `orphan_updates`
    (updates/deletes but never a create — upstream snapshot gap, a real
    data-quality smell), `active_updated`, `create_only` — with per-class
    key-day counts, op volume, update intensity, and mean within-day
    lifespan. Day buckets are tz-free epoch-day integers (ts_ms //
    86400000) so both engines bucket identically. The
    complement of [[cdc_hot_keys]]: that finds individual outliers, this
    describes the population shape (e.g. a sudden growth of
    `orphan_updates` means the snapshot phase missed rows).

    Scale: one map-side-combinable groupBy(key, day) computing counts,
    arg_max, conditional min/max offsets and the ts span — all partial-
    aggregable — then a second tiny aggregate over the ≤5 lifecycle
    classes. Exact integer sums (ms lifespans, op counts); doubles
    appear only in the final per-class division."""
    raw = derive_change_events(spark, sf_dir).filter(F.col("value").isNotNull())
    decoded = decode_envelope(raw).filter(~F.col("is_malformed"))
    key = F.coalesce(F.col("after.id"), F.col("before.id")).alias("user_id")
    ev = decoded.select(
        key, "op", "offset", "ts_ms", (F.col("ts_ms") / 86400000).cast("long").alias("eday")
    )
    per_key = ev.groupBy("user_id", "eday").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.sum((F.col("op") == "c").cast("long")).alias("n_c"),
        F.sum((F.col("op") == "u").cast("long")).alias("n_u"),
        F.max_by("op", "offset").alias("last_op"),
        F.min(F.when(F.col("op") == "d", F.col("offset"))).alias("first_d_off"),
        F.max(F.when(F.col("op") == "c", F.col("offset"))).alias("last_c_off"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("lifespan_ms"),
    )
    lifecycle = (
        F.when(
            (F.col("n_c") > 0)
            & F.col("first_d_off").isNotNull()
            & (F.col("last_c_off") > F.col("first_d_off")),
            F.lit("resurrected"),
        )
        .when(F.col("last_op") == "d", F.lit("deleted"))
        .when(F.col("n_c") == 0, F.lit("orphan_updates"))
        .when(F.col("n_u") > 0, F.lit("active_updated"))
        .otherwise(F.lit("create_only"))
    )
    return per_key.groupBy(lifecycle.alias("lifecycle")).agg(
        F.count(F.lit(1)).alias("n_key_days"),
        F.sum("n_ops").alias("n_ops"),
        F.round(F.sum("n_u").cast("double") / F.count(F.lit(1)), 6).alias("avg_updates"),
        F.round(F.sum("lifespan_ms").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_lifespan_ms"
        ),
    )
