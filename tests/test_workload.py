"""The customers workload generator: one column expression over
``seq``, run as a batch (`spark.range`) and live (the `rate` source).
Determinism, the anti-double-delete rule in both forms, decodability,
live ≡ batch for the same seqs, and one person per id."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from debezium_cdc_kafka_spark.operators.cdc import decode_envelope, materialize
from debezium_cdc_kafka_spark.sources.cdc_events import RECORD_SCHEMA
from debezium_cdc_kafka_spark.sources.workload import (
    CUSTOMERS_STATE_SCHEMA,
    RATE_PEOPLE,
    _raw_op,
    synthetic_people,
    workload_change_events,
    workload_rate_stream,
)

# Enough live rows that every key of the rate form's key space has at
# least two events, so its rule is exercised.
LIVE_ROWS = 2 * RATE_PEOPLE + 500


@pytest.fixture(scope="module")
def live(spark):
    """A drain of the live form into a memory sink: its records, the
    seqs 0..n-1 with none missing."""
    q = (
        workload_rate_stream(spark, rows_per_second=1000)
        .writeStream.format("memory")
        .queryName("workload_live")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT count(*) FROM workload_live").first()[0] >= LIVE_ROWS:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    records = spark.sql("SELECT * FROM workload_live")
    offsets = sorted(r.offset for r in records.select("offset").collect())
    assert len(offsets) >= LIVE_ROWS
    assert offsets == list(range(len(offsets)))
    return records


def _ops(records):
    decoded = decode_envelope(records, CUSTOMERS_STATE_SCHEMA)
    return decoded.select("id", "op", "after", "offset")


def test_batch_form_is_deterministic(spark):
    df = workload_change_events(spark, 50, 400)
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in RECORD_SCHEMA
    ]
    rows = sorted(df.collect(), key=lambda r: r.offset)
    again = sorted(workload_change_events(spark, 50, 400).collect(), key=lambda r: r.offset)
    assert rows == again  # every column, the timestamp too
    assert [r.offset for r in rows] == list(range(400))
    assert all(r.key == str(r.offset % 50) for r in rows)


def _double_deletes(ops):
    w = W.partitionBy("id").orderBy("offset")
    prev = F.lag("op").over(w)
    return ops.withColumn("prev", prev).filter((F.col("op") == "d") & (F.col("prev") == "d"))


def _rewrites(spark, ops):
    """Events whose raw op was a delete and which the rule made inserts."""
    raw = spark.range(ops.agg(F.max("offset")).first()[0] + 1).select(
        F.col("id").alias("offset"), _raw_op(F.col("id")).alias("raw")
    )
    return ops.join(raw, "offset").filter((F.col("raw") == "d") & (F.col("op") == "c"))


@pytest.mark.parametrize("form", ["batch", "live"])
def test_no_double_delete_per_key(spark, request, form):
    """generate.py:133–134 in both forms: per key in offset order, never
    two deletes in a row, and the rule did rewrite some deletes."""
    if form == "batch":
        records = workload_change_events(spark, 40, 5000)
    else:
        records = request.getfixturevalue("live")
    ops = _ops(records).cache()
    try:
        assert _double_deletes(ops).count() == 0
        assert _rewrites(spark, ops).count() > 0
        assert {r.op for r in ops.select("op").distinct().collect()} == {"c", "u", "d"}
    finally:
        ops.unpersist()


def test_decodes_through_cdc_pipeline(spark):
    decoded = decode_envelope(workload_change_events(spark, 50, 200), CUSTOMERS_STATE_SCHEMA)
    assert decoded.filter(F.col("is_malformed")).count() == 0
    state = materialize(decoded)
    assert state.columns == CUSTOMERS_STATE_SCHEMA.names
    live = state.filter(~F.col("_deleted"))
    assert state.count() > 0 and live.count() > 0
    # emails survived sanitized generation (no quotes — G1's invariant)
    assert live.filter(F.col("email").contains("'")).count() == 0


def test_live_rows_equal_batch_rows(spark, live):
    """The rate stream publishes the batch form's record for every seq:
    the same key, op, after-image and offset."""
    n = live.count()
    got = {r.offset: tuple(r) for r in _ops(live).collect()}
    batch = workload_change_events(spark, RATE_PEOPLE, n)
    want = {r.offset: tuple(r) for r in _ops(batch).collect()}
    assert len(got) == n
    assert got == want


def test_one_person_per_id(spark, live):
    """Each id is one customers row (first_name, last_name, email) in
    both forms, and it is `synthetic_people`'s row for that id."""
    people = {r.person_id: tuple(r)[1:] for r in synthetic_people(spark, RATE_PEOPLE).collect()}

    def persons(records):
        after = F.col("after")
        rows = (
            decode_envelope(records, CUSTOMERS_STATE_SCHEMA)
            .filter(F.col("op").isin("c", "u"))
            .select("id", after.first_name, after.last_name, after.email)
            .distinct()
            .collect()
        )
        out: dict = {}
        for r in rows:
            out.setdefault(r.id, set()).add(tuple(r)[1:])
        assert all(len(v) == 1 for v in out.values())  # one person per id
        return {k: v.pop() for k, v in out.items()}

    for got in (persons(workload_change_events(spark, 50, 500)), persons(live)):
        assert len(got) >= 20
        assert got == {i: people[i] for i in got}
