"""CSV/JSON round-trips, CDC envelope schema evolution, stream-stream join."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.catalog import load_table
from debezium_cdc_kafka_spark.sources.files import read_interchange, write_interchange
from tests.conftest import SF_SMOKE


def test_csv_json_roundtrip(spark, tmp_path):
    orig = load_table(spark, SF_SMOKE, "customer")
    write_interchange(orig, str(tmp_path / "c_csv"), "csv")
    write_interchange(orig, str(tmp_path / "c_json"), "json")
    from_csv = read_interchange(spark, str(tmp_path / "c_csv"), "csv", orig.schema)
    from_json = read_interchange(spark, str(tmp_path / "c_json"), "json", orig.schema)
    base = {tuple(r) for r in orig.collect()}
    assert {tuple(r) for r in from_csv.collect()} == base
    assert {tuple(r) for r in from_json.collect()} == base
    assert from_csv.schema == orig.schema


def test_envelope_schema_evolution_tolerated(spark):
    """Debezium adds fields over time (transaction block, new table
    columns). Decoding with OUR schema must ignore unknown fields and
    null out missing ones — never fail the stream."""
    from debezium_cdc_kafka_spark.operators.cdc import decode_envelope
    from debezium_cdc_kafka_spark.sources.cdc_events import RECORD_SCHEMA

    evolved = json.dumps(
        {
            "payload": {
                "op": "c",
                "before": None,
                "after": {"id": 1, "value": 5.0, "ts": "t", "NEW_COLUMN": "surprise"},
                "ts_ms": 0,
                "transaction": {"id": "txn-1", "total_order": 3},
                "source": {"version": "99.9", "connector": "postgresql"},
            }
        }
    )
    missing_fields = json.dumps({"payload": {"op": "c", "after": {"id": 2}}})
    raw = spark.createDataFrame(
        [("1", evolved, "t", 0, 0, None), ("2", missing_fields, "t", 0, 1, None)],
        RECORD_SCHEMA,
    )
    out = {r.id: r for r in decode_envelope(raw).collect()}
    assert out[1].op == "c" and out[1].after.value == 5.0  # extra fields ignored
    assert out[2].after.value is None and not out[2].is_malformed  # missing → null


def test_stream_stream_join_within_window(spark, tmp_path):
    """Stream-stream inner join with watermarks: purchases joined to the
    same user's clicks within the preceding hour — the streaming operator
    the CDC pipeline composes with for enrichment-by-another-stream."""
    ev = load_table(spark, SF_SMOKE, "events")
    d = str(tmp_path / "ev")
    ev.repartition(2).write.parquet(d)

    def stream():
        return spark.readStream.schema(ev.schema).parquet(d)

    purchases = stream().filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    ).withWatermark("p_ts", "2 hours")
    clicks = stream().filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    ).withWatermark("c_ts", "2 hours")

    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.p_id, r.c_id) for r in spark.sql("SELECT p_id, c_id FROM ss_join").collect()}

    # batch reference: same join on the static table
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    expected = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0
