"""Deterministic Debezium-shaped change stream derived from the `events` table.

The reference consumes Kafka messages whose value is a Debezium JSON
envelope ``{"payload": {"op", "before", "after", ...}}`` (reference:
app/consumer/consumer.py:65–71, app/utils/postgres.py:250–259) plus
null-value tombstones after deletes (consumer.py:66–68). The driver's test
data has no Kafka broker, so this module synthesizes an equivalent
Kafka-record DataFrame from `events` — fully distributed (no collect), and
deterministic so a DuckDB oracle can reproduce the mapping:

- op:  event_type 'signup' → 'c' (insert), 'error' → 'd' (delete),
       anything else → 'u' (update); keyed by user_id.
- replay order: event_id (unique, monotone with generation order);
  Kafka offset = 2*event_id, tombstones at 2*event_id+1 so each delete's
  tombstone immediately follows it, mirroring Debezium.
- malformed messages: events with event_id % 97 == 13 get a corrupt JSON
  body — the consumer must skip them (consumer.py:78–79 behavior).

It also holds the contracts every producer and consumer shares: the
Kafka record (`RECORD_SCHEMA`, `TOPIC`), which every producer builds and
the Kafka source is normalised with through `kafka_record`; and the
envelope codec: a table is declared once by its state schema
(`STATE_SCHEMA` here, `workload.CUSTOMERS_STATE_SCHEMA` for customers),
`envelope_schema` derives the decode schema from it and `envelope_json`
is the one Column-side encoder every generator publishes through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table

TOPIC = "dbserver1.inventory.customers"  # {prefix}.{schema}.{table}

# The Kafka record: the Kafka source's columns, key and value as strings.
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)

# The fraction-of-second format is 6-digit microseconds in both Spark
# (SSSSSS) and DuckDB (%f), so envelope timestamps round-trip identically.
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

MALFORMED_MOD = 97
MALFORMED_REM = 13

# The events-derived table's state: its row (id, value, ts) plus the merge
# bookkeeping. This is the table's one declaration — the envelope schema,
# the decoded after-image columns and the encoder's fields all derive from
# it. Delete events are RETAINED as tombstone rows (_deleted=true) so that a
# stale re-delivered event with a lower offset can never resurrect a deleted
# key — this makes the state merge commutative and idempotent across
# batches, not just replay-safe when batches arrive in order.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.StringType()),
        T.StructField("_offset", T.LongType()),
        T.StructField("_deleted", T.BooleanType()),
    ]
)

BOOKKEEPING = ("_offset", "_deleted")


def after_image(state_schema: T.StructType) -> T.StructType:
    """The table's row as Debezium ships it: the state minus bookkeeping."""
    return T.StructType([f for f in state_schema.fields if f.name not in BOOKKEEPING])


def envelope_schema(state_schema: T.StructType = STATE_SCHEMA) -> T.StructType:
    """The Debezium envelope of a table declared by its state schema: only
    the fields the reference reads (postgres.py:251–259) plus ts_ms, which
    it carries but ignores. ``before`` carries the key alone.

    A widened state schema (a column appended) is the schema-evolution
    path: `from_json` under the widened envelope reads BOTH generations —
    old envelopes yield null for the new field (PERMISSIVE missing-field
    semantics), so one decode plan serves the whole topic history. The
    reference would need its hard-coded DDL and column lists edited by
    hand (app/utils/postgres.py:100–107, 136, 174–177)."""
    after = after_image(state_schema)
    payload = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("before", T.StructType([after["id"]])),
            T.StructField("after", after),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    return T.StructType([T.StructField("payload", payload)])


def envelope_json(
    state_schema: T.StructType, op: Column, after: dict[str, Column], ts_ms: Column
) -> Column:
    """One Debezium JSON envelope per row — the encoder every generator
    shares. ``after`` maps each after-image column of ``state_schema`` to
    its value; a missing or extra column raises, so a generator cannot
    publish rows of another table's shape. c/r/u carry the after-image
    (a snapshot read ships the row like an insert), d carries
    ``before = {id}``."""
    names = after_image(state_schema).names
    if set(after) != set(names):
        raise ValueError(f"after-image columns {sorted(after)} != declared {names}")
    image = F.struct(*[after[n].alias(n) for n in names])
    return F.to_json(
        F.struct(
            F.struct(
                op.alias("op"),
                F.when(op == "d", F.struct(after["id"].alias("id"))).alias("before"),
                F.when(op.isin("c", "r", "u"), image).alias("after"),
                ts_ms.alias("ts_ms"),
            ).alias("payload")
        )
    )


def kafka_record(df: DataFrame, **columns: Column) -> DataFrame:
    """``df`` as Kafka records: each `RECORD_SCHEMA` column is
    ``columns[name]`` if given, else ``df``'s own, cast to its declared
    type. With no ``columns`` this normalises the Kafka source's output."""
    cols = [columns.get(f.name, F.col(f.name)).cast(f.dataType) for f in RECORD_SCHEMA]
    return df.select(*[c.alias(f.name) for c, f in zip(cols, RECORD_SCHEMA)])


def event_parts(records: DataFrame, n: int) -> list[DataFrame]:
    """The derived record stream split into ``n`` interleaved parts by
    event (``offset DIV 2`` is the event id), so a delete and its
    tombstone land in the same part and every part carries envelopes."""
    return [records.filter(F.expr("offset DIV 2") % n == k) for k in range(n)]


def op_expr():
    """event_type → Debezium op code (the generator's op chooser inverted)."""
    return (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )


def derive_change_events(
    spark: SparkSession, sf_dir: str, key_col: str = "user_id"
) -> DataFrame:
    """events table → Kafka records (`RECORD_SCHEMA`, value null for a
    tombstone) — the exact input contract of `operators.cdc.decode_envelope`.

    ``key_col`` is the replicated table's primary key. The default
    (user_id, ~1.2k distinct at sf0.1) models the reference's
    update-heavy customers table; ``key_col="event_id"`` models the
    autoincrement-PK INSERT-heavy table (every event a new key, keys
    monotone with offset), where the replica's state grows with the
    stream. Oracles and tests all use the default.
    """
    ev = load_table(spark, sf_dir, "events")
    op = op_expr()
    envelope = envelope_json(
        STATE_SCHEMA,
        op,
        {
            "id": F.col(key_col),
            "value": F.col("value"),
            "ts": F.date_format("ts", TS_FMT),
        },
        F.unix_millis(F.col("ts")),
    )
    malformed = (F.col("event_id") % MALFORMED_MOD) == MALFORMED_REM
    body = F.when(malformed, F.lit('{"payload": <corrupt>')).otherwise(envelope)
    # One record per event, plus a trailing tombstone for deletes, emitted
    # from a SINGLE scan: building the (≤2)-element record array and
    # exploding beats the union-of-two-branches formulation, which scans the
    # parquet (and pays the to_json) twice. At 100 TB that halves source I/O.
    record = lambda value, off: F.struct(  # noqa: E731
        value.alias("value"), off.alias("offset")
    )
    records = F.when(
        op == "d",
        F.array(
            record(body, F.col("event_id") * 2),
            record(F.lit(None).cast("string"), F.col("event_id") * 2 + 1),
        ),
    ).otherwise(F.array(record(body, F.col("event_id") * 2)))
    return kafka_record(
        ev.select(key_col, F.explode(records).alias("_rec"), "ts"),
        key=F.col(key_col),
        value=F.col("_rec.value"),
        topic=F.lit(TOPIC),
        partition=F.lit(0),
        offset=F.col("_rec.offset"),
        timestamp=F.col("ts"),
    )

