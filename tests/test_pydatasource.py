"""The Spark-4 Python DataSource workload generator: batch/stream parity,
broker-contract invariants, and end-to-end decodability."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import decode_envelope, materialize
from debezium_cdc_kafka_spark.sources.pydatasource import DebeziumWorkloadDataSource
from debezium_cdc_kafka_spark.sources.workload import (
    CUSTOMERS_STATE_SCHEMA,
    workload_change_events,
)


def _register(spark):
    # re-registering the same short name overwrites; safe per-test
    spark.dataSource.register(DebeziumWorkloadDataSource)


def _batch(spark, **opts):
    r = spark.read.format("debezium_workload")
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_batch_shape_and_determinism(spark):
    _register(spark)
    df = _batch(spark, n_partitions=3, rows_per_partition=40)
    rows = sorted(df.collect(), key=lambda r: (r.partition, r.offset))
    assert len(rows) == 120
    again = sorted(_batch(spark, n_partitions=3, rows_per_partition=40).collect(),
                   key=lambda r: (r.partition, r.offset))
    assert rows == again  # fully deterministic
    # dense per-partition offsets
    for p in range(3):
        offs = [r.offset for r in rows if r.partition == p]
        assert offs == list(range(40))


def test_keyed_partitioning_and_anti_double_delete(spark):
    _register(spark)
    rows = _batch(spark, n_partitions=3, rows_per_partition=60).collect()
    key_parts: dict = {}
    for r in rows:
        key_parts.setdefault(r.key, set()).add(r.partition)
    assert all(len(ps) == 1 for ps in key_parts.values())  # Debezium guarantee
    # per key in offset order, never two deletes in a row
    by_key: dict = {}
    for r in sorted(rows, key=lambda r: (r.partition, r.offset)):
        op = json.loads(r.value)["payload"]["op"]
        assert op != "d" or by_key.get(r.key) != "d", r.key
        by_key[r.key] = op
    assert set(by_key.values()) <= {"c", "u", "d"}


def test_decodes_through_cdc_pipeline(spark):
    _register(spark)
    # decode under the customers table's declared state schema
    decoded = decode_envelope(_batch(spark, n_partitions=2, rows_per_partition=50),
                              CUSTOMERS_STATE_SCHEMA)
    assert decoded.filter(F.col("is_malformed")).count() == 0
    state = materialize(decoded)
    assert state.columns == CUSTOMERS_STATE_SCHEMA.names
    live = state.filter(~F.col("_deleted"))
    assert state.count() > 0 and live.count() > 0
    # emails survived sanitized generation (no quotes — G1's invariant)
    assert live.filter(F.col("email").contains("'")).count() == 0


def test_stream_drains_to_batch_fixpoint(spark, tmp_path):
    _register(spark)
    stream = (
        spark.readStream.format("debezium_workload")
        .option("n_partitions", "2")
        .option("rows_per_partition", "30")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        spark.sql("SELECT * FROM pyds_out").collect(),
        key=lambda r: (r.partition, r.offset),
    )
    want = sorted(
        _batch(spark, n_partitions=2, rows_per_partition=30).collect(),
        key=lambda r: (r.partition, r.offset),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_one_person_per_id_across_generators(spark):
    """The DataSource and the DataFrame generator publish the same
    customers row (first_name, last_name, email) for every id they share."""
    _register(spark)

    def people(records):
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

    source = people(_batch(spark, n_partitions=2, rows_per_partition=50))
    generated = people(workload_change_events(spark, 50, 500))
    shared = source.keys() & generated.keys()
    assert len(shared) >= 20
    assert {i: source[i] for i in shared} == {i: generated[i] for i in shared}
