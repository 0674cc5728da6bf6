"""Multi-table routing + schema evolution: the capture-the-whole-schema
design the reference configures (register-postgres.json:12) but never
implements (its consumer handles only `customers`)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_cdc_kafka_spark.sources.cdc_events import RECORD_SCHEMA
from debezium_cdc_kafka_spark.streaming.cdc_stream import (
    STATE_SCHEMA,
    ParquetSnapshotTarget,
    file_change_stream,
    run_cdc_stream,
)
from debezium_cdc_kafka_spark.streaming.routing import run_routed_stream, table_name
from tests.conftest import drop_last_commit


def env(op, before=None, after=None, ts_ms=0):
    return json.dumps(
        {"payload": {"op": op, "before": before, "after": after, "ts_ms": ts_ms}}
    )


def rec(key, value, topic, offset):
    return (str(key), value, topic, 0, offset, None)


def after(i, v, ts="x", **extra):
    return {"id": i, "value": v, "ts": ts, **extra}


def test_table_name_extraction(spark):
    df = spark.createDataFrame(
        [("dbserver1.inventory.customers",), ("dbserver1.inventory.order_items",)],
        "topic string",
    )
    got = [r[0] for r in df.select(table_name(F.col("topic"))).collect()]
    assert got == ["customers", "order_items"]


def test_multi_table_routing(spark, tmp_path):
    """One stream carrying three topics → two routed targets + quarantine.
    Each table's final state must equal what a single-table run over just
    its events would produce."""
    cust = "dbserver1.inventory.customers"
    orde = "dbserver1.inventory.orders"
    unknown = "dbserver1.inventory.products"
    rows = [
        rec(1, env("c", None, after(1, 10.0)), cust, 0),
        rec(1, env("c", None, after(1, 500.0)), orde, 1),  # same key, other table
        rec(2, env("c", None, after(2, 20.0)), cust, 2),
        rec(1, env("u", {"id": 1}, after(1, 11.0)), cust, 3),
        rec(1, env("d", {"id": 1}, None), orde, 4),
        rec(7, env("c", None, after(7, 70.0)), unknown, 5),  # no route
        rec(2, env("d", {"id": 2}, None), cust, 6),
    ]
    env_dir = str(tmp_path / "envelopes")
    spark.createDataFrame(rows, RECORD_SCHEMA).repartition(3).write.parquet(env_dir)

    routes = {
        "customers": ParquetSnapshotTarget(str(tmp_path / "t_customers")),
        "orders": ParquetSnapshotTarget(str(tmp_path / "t_orders")),
    }
    quarantine = str(tmp_path / "unrouted")
    q = run_routed_stream(
        spark,
        file_change_stream(spark, env_dir),
        routes,
        str(tmp_path / "ckpt"),
        dead_letter_path=quarantine,
    )
    q.awaitTermination(120)

    cust_state = {r.id: r.value for r in routes["customers"].read_view(spark).collect()}
    orders_state = {r.id: r.value for r in routes["orders"].read_view(spark).collect()}
    assert cust_state == {1: 11.0}  # id=2 deleted, id=1 updated
    assert orders_state == {}  # the one orders row was deleted
    unrouted = spark.read.parquet(quarantine)
    assert [(r.topic, r.reason) for r in unrouted.collect()] == [(unknown, "unroutable")]
    # quarantined rows keep full provenance for later replay
    assert {"key", "value", "topic", "offset", "epoch"} <= set(unrouted.columns)


def test_unrouted_quarantine_replay_idempotent(spark, tmp_path):
    """Every epoch carries one unroutable record and one malformed record
    on a routed topic: both are quarantined whole, with their reason. A
    crash between apply and checkpoint commit replays the last epoch; its
    records must be quarantined once, not twice."""
    cust = "dbserver1.inventory.customers"
    unknown = "dbserver1.inventory.products"
    corrupt = '{"payload": <corrupt>'
    env_dir = str(tmp_path / "envelopes")
    for i in range(3):
        rows = [
            rec(i, env("c", None, after(i, 10.0 * i)), cust, 3 * i),
            rec(i, corrupt, cust, 3 * i + 1),
            rec(i, env("c", None, after(i, 1.0)), unknown, 3 * i + 2),
        ]
        spark.createDataFrame(rows, RECORD_SCHEMA).coalesce(1).write.mode("append").parquet(env_dir)

    routes = {"customers": ParquetSnapshotTarget(str(tmp_path / "t_customers"))}
    quarantine = str(tmp_path / "dead_letter")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = run_routed_stream(
            spark, file_change_stream(spark, env_dir), routes, ckpt, dead_letter_path=quarantine
        )
        q.awaitTermination(120)

    def counts():
        dead = spark.read.parquet(quarantine)
        return {r.reason: r["count"] for r in dead.groupBy("reason").count().collect()}

    drain()
    assert counts() == {"malformed": 3, "unroutable": 3}
    bad = spark.read.parquet(quarantine).filter(F.col("reason") == "malformed").collect()
    assert {(r.topic, r.value, r.offset) for r in bad} == {
        (cust, corrupt, 3 * i + 1) for i in range(3)
    }

    drop_last_commit(ckpt)
    drain()
    assert counts() == {"malformed": 3, "unroutable": 3}
    got = {r.id: r.value for r in routes["customers"].read_view(spark).collect()}
    assert got == {0: 0.0, 1: 10.0, 2: 20.0}


# The events-derived table with an `email` column appended to its row.
WIDENED_STATE_SCHEMA = T.StructType(
    list(STATE_SCHEMA.fields[:3])
    + [T.StructField("email", T.StringType())]
    + list(STATE_SCHEMA.fields[3:])
)


def test_schema_evolution_widened_after(spark, tmp_path):
    """Old-generation envelopes (no `email`) and new-generation ones (with
    it) decode under ONE widened schema; old rows surface null for the new
    column and a later new-generation update backfills it."""
    state_schema = WIDENED_STATE_SCHEMA
    topic = "dbserver1.inventory.customers"
    rows = [
        rec(1, env("c", None, after(1, 10.0)), topic, 0),  # old gen: no email
        rec(2, env("c", None, after(2, 20.0, email="b@x.io")), topic, 1),  # new gen
        rec(1, env("u", {"id": 1}, after(1, 11.0, email="a@x.io")), topic, 2),
    ]
    env_dir = str(tmp_path / "envelopes")
    spark.createDataFrame(rows, RECORD_SCHEMA).write.parquet(env_dir)

    target_path = str(tmp_path / "target")
    q = run_cdc_stream(
        spark,
        file_change_stream(spark, env_dir),
        target_path,
        str(tmp_path / "ckpt"),
        target=ParquetSnapshotTarget(target_path, state_schema),
    )
    q.awaitTermination(120)

    got = {
        r.id: (r.value, r.email)
        for r in ParquetSnapshotTarget(target_path, schema=state_schema)
        .read_view(spark)
        .collect()
    }
    assert got == {1: (11.0, "a@x.io"), 2: (20.0, "b@x.io")}


def test_schema_evolution_old_rows_null_new_column(spark):
    """Decode alone: an old envelope under the widened schema yields
    email=null, not a parse failure (PERMISSIVE missing-field rule)."""
    from debezium_cdc_kafka_spark.operators.cdc import decode_envelope

    raw = spark.createDataFrame(
        [rec(5, env("c", None, after(5, 50.0)), "t.s.customers", 0)], RECORD_SCHEMA
    )
    row = (
        decode_envelope(raw, WIDENED_STATE_SCHEMA)
        .select("after.email", "is_malformed")
        .first()
    )
    assert row.email is None and row.is_malformed is False
