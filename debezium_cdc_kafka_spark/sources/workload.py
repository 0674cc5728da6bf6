"""Deterministic CDC workload generator — the reference's generate.py,
Spark-shaped and collect-free.

Maps (reference app/utils/generate.py):
- G1 Faker person records (:19–34, `'` stripped)   → hash-indexed name
  pools over `spark.range` (no Python RNG, reproducible at any scale)
- G3 random op chooser + anti-double-delete rule (:129–134: two
  consecutive deletes rewritten to insert)         → hash-derived op of
  ``seq`` and of the key's previous ``seq``
- G2 SQL-string building (:37–117)                 → unnecessary: ops are
  emitted directly as Debezium envelopes (`cdc_events.envelope_json`)
- G4 fixed-rate loop (:16, 126–170)                → `rate` readStream
  (`workload_rate_stream`)

The workload is declared once, as `customers_records`: a stateless
column expression from an op's ``seq`` to its Kafka record, with no
window and no state. The batch form (`workload_change_events`, over
`spark.range`) and the live form (`workload_rate_stream`, over the
`rate` source) run it, so both publish the same record for the same
``seq``. Rows are of the customers table, declared once as
`CUSTOMERS_STATE_SCHEMA`, with per-person columns from `person_columns`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import md5_long
from .cdc_events import TOPIC, envelope_json, kafka_record

FIRST_NAMES = (
    "Ivan", "Maria", "Alexei", "Olga", "Dmitri", "Anna", "Sergei", "Elena",
    "Nikolai", "Tatiana", "Pavel", "Irina", "Mikhail", "Ksenia", "Viktor", "Daria",
)
LAST_NAMES = (
    "Ivanov", "Petrova", "Sidorov", "Smirnova", "Volkov", "Kuznetsova",
    "Popov", "Sokolova", "Lebedev", "Kozlova", "Novikov", "Morozova",
)

# The live form's key space: the rate source names no table size.
RATE_PEOPLE = 1000


# The customers table (the reference's replica, postgres.py:100–107): its
# one declaration. The envelope schema, the replica DDL and the decoded
# after-image columns all derive from it.
CUSTOMERS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("_offset", T.LongType()),
        T.StructField("_deleted", T.BooleanType()),
    ]
)


def _pick(pool: tuple[str, ...], h):
    arr = F.array(*[F.lit(x) for x in pool])
    return F.element_at(arr, (h % len(pool) + 1).cast("int"))


def person_columns(person_id: Column) -> dict[str, Column]:
    """A person's customers-row columns, picked by ``md5_long("f:<id>")``
    / ``"l:<id>"``, so every generator gives an id the same person.
    Emails follow Faker's shape; names contain no quotes, so the
    reference's sanitization step (generate.py:26–27) is a no-op by
    construction."""
    h1 = md5_long(F.concat(F.lit("f:"), person_id))
    h2 = md5_long(F.concat(F.lit("l:"), person_id))
    first, last = _pick(FIRST_NAMES, h1), _pick(LAST_NAMES, h2)
    return {
        "first_name": first,
        "last_name": last,
        "email": F.concat(F.lower(first), F.lit("."), F.lower(last), F.lit("@example.com")),
    }


def synthetic_people(spark: SparkSession, n: int) -> DataFrame:
    """(person_id, first_name, last_name, email) — Faker stand-in."""
    df = spark.range(n).select(F.col("id").alias("person_id"))
    cols = person_columns(F.col("person_id"))
    return df.select("person_id", *[c.alias(name) for name, c in cols.items()])


def _raw_op(seq: Column) -> Column:
    """The reference's random op chooser, hash-derived from ``seq``."""
    return F.element_at(
        F.array(F.lit("c"), F.lit("u"), F.lit("d")),
        (F.abs(F.xxhash64(F.concat(F.lit("op:"), seq))) % 3 + 1).cast("int"),
    )


def customers_records(
    df: DataFrame, seq: Column, timestamp: Column, n_people: int
) -> DataFrame:
    """One customers change event per ``seq`` as a Kafka record
    (`cdc_events.RECORD_SCHEMA`): person ``seq % n_people``, its op, and
    the envelope stamped with ``timestamp``.

    The op is the raw op, except that a delete whose key's previous
    event (``seq - n_people``) was a raw delete becomes an insert — the
    reference's anti-double-delete rule (generate.py:133–134; theirs is
    global because its generator is serial, this is per key). A key
    never sees two deletes in a row: the previous event is a delete
    only if its raw op was one."""
    person = seq % n_people
    raw = _raw_op(seq)
    op = F.when(
        (raw == "d") & (seq >= n_people) & (_raw_op(seq - n_people) == "d"), F.lit("c")
    ).otherwise(raw)
    value = envelope_json(
        CUSTOMERS_STATE_SCHEMA,
        op,
        {"id": person, **person_columns(person)},
        F.unix_millis(timestamp),
    )
    return kafka_record(
        df,
        key=person,
        value=value,
        topic=F.lit(TOPIC),
        partition=F.lit(0),
        offset=seq,
        timestamp=timestamp,
    )


def workload_change_events(spark: SparkSession, n_people: int, n_ops: int) -> DataFrame:
    """The batch form: ``n_ops`` events over ``n_people`` customers,
    stamped at ``seq`` milliseconds after the Unix epoch, so every run is
    the same. A second, independent change stream (the CDC tests' primary
    stream derives from the events table); this one exercises the
    generator path."""
    seq = F.col("id")
    return customers_records(spark.range(n_ops), seq, F.timestamp_millis(seq), n_people)


def workload_rate_stream(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """G4, the live form: the `rate` source's ``value`` is the ``seq``,
    over `RATE_PEOPLE` customers. One row every 1/rate seconds replaces
    the sleep-compensated loop (generate.py:167–170); each row is the
    batch form's record for that ``seq``, stamped with the rate source's
    clock, so the pipeline's consumer decodes it unchanged."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return customers_records(rate, F.col("value"), F.col("timestamp"), RATE_PEOPLE)
