"""Deterministic CDC workload generator — the reference's generate.py,
Spark-shaped and collect-free.

Maps (reference app/utils/generate.py):
- G1 Faker person records (:19–34, `'` stripped)   → hash-indexed name
  pools over `spark.range` (no Python RNG, reproducible at any scale)
- G3 random op chooser + anti-double-delete rule (:129–134: two
  consecutive deletes rewritten to insert)         → hash-derived op +
  lag-window rewrite
- G2 SQL-string building (:37–117)                 → unnecessary: ops are
  emitted directly as Debezium envelopes (`cdc_events.envelope_json`)
- G4 fixed-rate loop (:16, 126–170)                → `rate` readStream
  mapped through the same op logic (`workload_rate_stream`)

Both forms publish rows of the customers table, declared once as
`CUSTOMERS_STATE_SCHEMA`, with per-person columns from `person_columns`.
The batch form feeds pipeline tests; the rate form demos live streaming.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

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
    / ``"l:<id>"`` (as `pydatasource._row` does) so all three generators
    agree on each id's person. Emails follow Faker's shape; names contain
    no quotes, so the reference's sanitization step (generate.py:26–27)
    is a no-op by construction."""
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


def assign_ops(events: DataFrame, key: str = "person_id", order: str = "seq") -> DataFrame:
    """op ∈ {c,u,d} per event, hash-derived, then the reference's
    anti-repeat rule applied per key: a delete immediately following a
    delete becomes an insert (generate.py:133–134 — their rule is global
    because the generator is serial; per-key is the distributed analogue)."""
    raw_op = F.element_at(
        F.array(F.lit("c"), F.lit("u"), F.lit("d")),
        (F.abs(F.xxhash64(F.concat(F.lit("op:"), F.col(order)))) % 3 + 1).cast("int"),
    )
    w = W.partitionBy(key).orderBy(order)
    with_op = events.withColumn("_raw_op", raw_op)
    prev = F.lag("_raw_op").over(w)
    return with_op.withColumn(
        "op",
        F.when((F.col("_raw_op") == "d") & (prev == "d"), F.lit("c")).otherwise(
            F.col("_raw_op")
        ),
    ).drop("_raw_op")


def workload_change_events(spark: SparkSession, n_people: int, n_ops: int) -> DataFrame:
    """A second, independent Debezium-shaped change stream (the CDC tests'
    primary stream derives from the events table; this one exercises the
    generator path). Returns Kafka records (`cdc_events.RECORD_SCHEMA`)."""
    ops = (
        spark.range(n_ops)
        .select(F.col("id").alias("seq"))
        .withColumn(
            "person_id",
            F.abs(F.xxhash64(F.concat(F.lit("who:"), F.col("seq")))) % n_people,
        )
    )
    ops = assign_ops(ops)
    person = F.col("person_id")
    value = envelope_json(
        CUSTOMERS_STATE_SCHEMA,
        F.col("op"),
        {"id": person, **person_columns(person)},
        F.col("seq"),
    )
    return kafka_record(
        ops,
        key=person,
        value=value,
        topic=F.lit(TOPIC),
        partition=F.lit(0),
        offset=F.col("seq"),
        timestamp=F.current_timestamp(),
    )


def workload_rate_stream(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """G4: the live generator — a rate source mapped through the same op
    logic (minus the lag rewrite, which needs bounded state in streaming;
    `dropDuplicates`-style stateful cleanup applies if required). One row
    every 1/rate seconds replaces the sleep-compensated loop
    (generate.py:167–170). Rows are customers rows, with the same
    per-person columns as `workload_change_events`, so the pipeline's
    consumer decodes them unchanged."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    seq = F.col("value")
    person = F.abs(F.xxhash64(F.concat(F.lit("who:"), seq))) % 1000
    op = F.element_at(
        F.array(F.lit("c"), F.lit("u"), F.lit("d")),
        (F.abs(F.xxhash64(F.concat(F.lit("op:"), seq))) % 3 + 1).cast("int"),
    )
    value = envelope_json(
        CUSTOMERS_STATE_SCHEMA,
        op,
        {"id": person, **person_columns(person)},
        F.unix_millis(F.col("timestamp")),
    )
    return kafka_record(
        rate, key=person, value=value, topic=F.lit(TOPIC), partition=F.lit(0), offset=seq
    )
