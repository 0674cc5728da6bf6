"""Strict replay: the stream, the batch query and the DuckDB oracle give
the same multiset, even over out-of-order micro-batches. The stream and
the batch query share `cdc.strict_replay`, so each stream test also
checks against `CDC_STRICT_ORACLE`, the independent reference."""

from __future__ import annotations

import json
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import (
    _WELL_FORMED_SQL,
    CDC_STRICT_ORACLE,
    cdc_strict_replay_state,
    decode_envelope,
    strict_replay,
    well_formed,
)
from debezium_cdc_kafka_spark.sources.cdc_events import RECORD_SCHEMA, derive_change_events
from debezium_cdc_kafka_spark.streaming.cdc_stream import file_change_stream
from debezium_cdc_kafka_spark.streaming.stateful import latest_multiset, strict_replay_stream
from tests.conftest import SF_SMOKE


def _stream_rows(spark, records_dir: str, name: str) -> set[tuple]:
    """Drain a directory of Kafka records through the strict stream →
    the current (id, value, n_rows) rows."""
    decoded = decode_envelope(file_change_stream(spark, records_dir)).filter(
        ~F.col("is_malformed")
    )
    q = (
        strict_replay_stream(decoded)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {tuple(r) for r in latest_multiset(spark.sql(f"SELECT * FROM {name}")).collect()}


def _multiset(spark, events: list[tuple]) -> dict:
    """One key's (offset, op, value) events → its strict multiset
    {value: n_rows}, through the aggregate and expression the batch query
    and the stream share."""
    changes = spark.createDataFrame(events, "offset long, op string, value double").select(
        F.lit(1).cast("long").alias("id"), "op", "offset", F.struct("value").alias("after")
    )
    (row,) = strict_replay(changes).collect()
    return {m.value: m.n_rows for m in row.multiset}


def test_streaming_strict_replay_matches_batch(spark, tmp_path, duck_smoke):
    env_dir = str(tmp_path / "env")
    # random repartition → micro-batches arrive in arbitrary offset order;
    # the state must not care
    derive_change_events(spark, SF_SMOKE).repartition(5).write.parquet(env_dir)

    got = _stream_rows(spark, env_dir, "strict_out")
    expected = {tuple(r) for r in cdc_strict_replay_state(spark, SF_SMOKE).collect()}
    assert got == expected
    assert set(duck_smoke.execute(CDC_STRICT_ORACLE).fetchall()) == expected
    assert len(got) > 0


def test_strict_replay_state_keeps_no_deleted_inserts(spark):
    """Once a delete covers every insert of a key, its multiset is
    empty, whatever order the events come in; a late insert below the
    delete stays dead, a later one lives."""
    events = [(2, "c", 1.0), (4, "c", 2.0), (6, "u", 3.0)]
    assert _multiset(spark, events) == {3.0: 2}
    events += [(8, "d", float("nan"))]
    assert _multiset(spark, events) == {}
    events += [(10, "c", 5.0), (1, "c", 0.5)]
    assert _multiset(spark, events) == {5.0: 1}
    assert _multiset(spark, events[::-1]) == {5.0: 1}


def test_null_inserts_count_as_one_value(spark):
    """The batch replay groups a key's null-valued live inserts into one
    (id, null, n) row."""
    events = [(1, "c", None), (2, "c", None), (3, "c", 1.0), (4, "c", 1.0)]
    assert _multiset(spark, events) == {None: 2, 1.0: 2}


def test_null_update_keeps_the_last_valued_update(spark):
    """The oracle's `first_value(... IGNORE NULLS)` skips a null-valued
    update, so a later null update leaves the insert at 5.0."""
    assert _multiset(spark, [(1, "c", 1.0), (2, "u", 5.0), (3, "u", None)]) == {5.0: 1}


def test_streaming_strict_replay_with_null_values_matches_batch(spark, tmp_path):
    """Stream ≡ batch strict replay ≡ oracle over events carrying null
    values (null inserts of one key, a null update after a valued one, a
    null insert after a delete) and two inserts of one key whose values
    round to the same cent, spread over several micro-batches."""
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    # (event_id, user_id, event_type, value); signup → c, error → d, else u
    events = [
        (1, 1, "signup", None),
        (2, 1, "signup", None),
        (3, 1, "signup", 1.0),
        (4, 1, "signup", 1.0),
        (5, 2, "signup", 1.0),
        (6, 2, "click", 5.0),
        (7, 2, "click", None),
        (8, 3, "signup", 2.0),
        (9, 3, "error", None),
        (10, 3, "signup", None),
        (11, 4, "signup", 1.001),
        (12, 4, "signup", 1.004),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e[0] for e in events], pa.int64()),
                "ts": pa.array(
                    [datetime(2024, 1, 1, 0, e[0]) for e in events], pa.timestamp("us")
                ),
                "user_id": pa.array([e[1] for e in events], pa.int64()),
                "event_type": [e[2] for e in events],
                "value": pa.array([e[3] for e in events], pa.float64()),
                "props": ["{}"] * len(events),
            }
        ),
        str(sf_dir / "events.parquet"),
    )
    env_dir = str(tmp_path / "env")
    derive_change_events(spark, str(sf_dir)).repartition(3).write.parquet(env_dir)

    got = _stream_rows(spark, env_dir, "strict_null_out")
    expected = {tuple(r) for r in cdc_strict_replay_state(spark, str(sf_dir)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    oracle = set(con.execute(CDC_STRICT_ORACLE).fetchall())
    con.close()
    assert expected == {(1, None, 2), (1, 1.0, 2), (2, 5.0, 1), (3, None, 1), (4, 1.0, 2)}
    assert got == expected
    assert oracle == expected


def test_streaming_strict_replay_counts_snapshot_reads_as_inserts(spark, tmp_path):
    """A snapshot read (``r``) inserts like a create (postgres.py:254–255)
    in the stream, the batch rule and the oracle: an ``r`` then an update,
    and ``r`` inserts on both sides of a delete."""
    # (offset, id, op, value)
    changes = [
        (1, 2, "r", 2.0),
        (2, 2, "u", 4.0),
        (3, 2, "u", None),
        (4, 5, "r", 1.0),
        (5, 5, "d", None),
        (6, 5, "r", 3.0),
        (7, 5, "c", 3.0),
    ]

    def envelope(op, kid, value):
        image = {"id": kid, "value": value, "ts": "x"}
        payload = {
            "op": op,
            "before": {"id": kid} if op in ("u", "d") else None,
            "after": None if op == "d" else image,
            "ts_ms": 0,
        }
        return json.dumps({"payload": payload})

    records = spark.createDataFrame(
        [(str(k), envelope(op, k, v), "t", 0, off, None) for off, k, op, v in changes],
        RECORD_SCHEMA,
    )
    env_dir = str(tmp_path / "env")
    records.repartition(3).write.parquet(env_dir)

    got = _stream_rows(spark, env_dir, "strict_snapshot_out")
    per_key = strict_replay(well_formed(decode_envelope(records)))
    batch = {
        tuple(r)
        for r in per_key.select("id", F.explode("multiset").alias("m"))
        .select("id", "m.value", "m.n_rows")
        .collect()
    }
    # the oracle's replay over these changes in place of the events-derived ones
    assert _WELL_FORMED_SQL in CDC_STRICT_ORACLE
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE changes (event_id BIGINT, user_id BIGINT, op VARCHAR, value DOUBLE)"
    )
    con.executemany("INSERT INTO changes VALUES (?, ?, ?, ?)", changes)
    oracle = set(
        con.execute(
            CDC_STRICT_ORACLE.replace(_WELL_FORMED_SQL, "SELECT * FROM changes")
        ).fetchall()
    )
    con.close()
    assert batch == {(2, 4.0, 1), (5, 3.0, 2)}
    assert got == batch
    assert oracle == batch
