"""One record contract and one envelope contract over every producer.

Each producer emits the declared Kafka record (`cdc_events.RECORD_SCHEMA`)
for one replicated table, declared once by its state schema. Decoded
under that schema, a producer's records are well-formed (except the
events stream's deliberate corrupt bodies) and every insert/update
carries its after-image: a producer that publishes another table's row
shape shows up as c/u rows whose after-image columns are all null. The
producers are the events-derived stream, the customers workload's batch
and live forms, the file transport that stands in for the broker, and
the Kafka source's normalisation, run over a frame shaped like the
source's output (no broker ships here).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import (
    after_columns,
    decode_envelope,
    strict_replay,
    well_formed,
)
from debezium_cdc_kafka_spark.sources.cdc_events import (
    MALFORMED_MOD,
    MALFORMED_REM,
    RECORD_SCHEMA,
    STATE_SCHEMA,
    derive_change_events,
    envelope_json,
    kafka_record,
)
from debezium_cdc_kafka_spark.sources.workload import (
    CUSTOMERS_STATE_SCHEMA,
    workload_change_events,
    workload_rate_stream,
)
from debezium_cdc_kafka_spark.streaming.cdc_stream import file_change_stream
from tests.conftest import SF_SMOKE


def _rate_batch(spark, tmp_path):
    """A bounded batch of the live generator, collected in a memory sink."""
    q = (
        workload_rate_stream(spark, rows_per_second=50)
        .writeStream.format("memory")
        .queryName("rate_contract")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.sql("SELECT count(*) FROM rate_contract").first()[0] >= 20:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    return spark.sql("SELECT * FROM rate_contract")


def _file_stream_batch(spark, tmp_path):
    """The smoke change stream replayed through the file transport,
    collected in a memory sink."""
    d = str(tmp_path / "topic")
    derive_change_events(spark, SF_SMOKE).write.parquet(d)
    q = (
        file_change_stream(spark, d)
        .writeStream.format("memory")
        .queryName("file_contract")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql("SELECT * FROM file_contract")


def _kafka_source_batch(spark, tmp_path):
    """The smoke change stream as the Kafka source delivers it (binary
    key/value, plus timestampType), through the source's normalisation."""
    raw = derive_change_events(spark, SF_SMOKE)
    delivered = raw.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "topic",
        "partition",
        "offset",
        "timestamp",
        F.lit(0).alias("timestampType"),
    )
    assert [delivered.schema[c].dataType.simpleString() for c in ("key", "value")] == [
        "binary",
        "binary",
    ]
    return kafka_record(delivered)


# name -> (records, the table's state schema, deliberately corrupt bodies?)
PRODUCERS = {
    "derive_change_events[user_id]": (
        lambda spark, tmp_path: derive_change_events(spark, SF_SMOKE),
        STATE_SCHEMA,
        True,
    ),
    "derive_change_events[event_id]": (
        lambda spark, tmp_path: derive_change_events(spark, SF_SMOKE, key_col="event_id"),
        STATE_SCHEMA,
        True,
    ),
    "workload_change_events": (
        lambda spark, tmp_path: workload_change_events(spark, 100, 2000),
        CUSTOMERS_STATE_SCHEMA,
        False,
    ),
    "workload_rate_stream": (_rate_batch, CUSTOMERS_STATE_SCHEMA, False),
    "file_change_stream": (_file_stream_batch, STATE_SCHEMA, True),
    "kafka_record[Kafka source]": (_kafka_source_batch, STATE_SCHEMA, True),
}


@pytest.mark.parametrize("producer", list(PRODUCERS))
def test_records_decode_under_the_declared_state_schema(spark, tmp_path, producer):
    make, schema, corrupt_bodies = PRODUCERS[producer]
    records = make(spark, tmp_path)
    # the declared record: names and types (a literal column is non-null)
    assert [(f.name, f.dataType) for f in records.schema] == [
        (f.name, f.dataType) for f in RECORD_SCHEMA
    ]
    decoded = decode_envelope(records, schema).cache()
    try:
        assert decoded.count() > 0
        cols = after_columns(decoded)
        assert cols == tuple(n for n in schema.names if n not in ("id", "_offset", "_deleted"))

        # the events stream corrupts exactly the bodies of events with
        # event_id % 97 == 13 (offset = 2 * event_id); nothing else may fail
        deliberate = (F.col("offset") % 2 == 0) & (
            (F.col("offset") / 2).cast("long") % MALFORMED_MOD == MALFORMED_REM
        )
        malformed = decoded.filter("is_malformed")
        if corrupt_bodies:
            assert malformed.count() > 0
            malformed = malformed.filter(~deliberate)
        assert malformed.count() == 0

        well = decoded.filter(~F.col("is_malformed"))
        assert well.filter(F.col("id").isNull()).count() == 0
        empty_image = F.col("op").isin("c", "u")
        for c in cols:
            empty_image = empty_image & F.col(f"after.{c}").isNull()
        assert well.filter(empty_image).count() == 0
    finally:
        decoded.unpersist()


def test_encoder_rejects_another_tables_columns(spark):
    """The encoder is bound to the table's declaration: an events-shaped
    row cannot be published as a customers envelope."""
    with pytest.raises(ValueError, match="after-image columns"):
        envelope_json(
            CUSTOMERS_STATE_SCHEMA,
            F.lit("c"),
            {"id": F.lit(1), "value": F.lit(0.0)},
            F.lit(0),
        )


def test_snapshot_read_envelope_is_an_insert(spark):
    """An encoder-built ``r`` (snapshot read) carries its after-image, so
    it decodes well-formed and strict replay counts it as an insert."""
    row = spark.range(7, 8)
    value = envelope_json(
        STATE_SCHEMA,
        F.lit("r"),
        {"id": F.col("id"), "value": F.lit(2.5), "ts": F.lit("t")},
        F.lit(0),
    )
    records = kafka_record(
        row,
        key=F.col("id"),
        value=value,
        topic=F.lit("t"),
        partition=F.lit(0),
        offset=F.lit(0),
        timestamp=F.lit(None),
    )
    (decoded,) = decode_envelope(records).collect()
    assert (decoded.op, decoded.id, decoded.is_malformed) == ("r", 7, False)
    assert decoded.after.value == 2.5
    (key,) = strict_replay(well_formed(decode_envelope(records))).collect()
    assert [(m.value, m.n_rows) for m in key.multiset] == [(2.5, 1)]
