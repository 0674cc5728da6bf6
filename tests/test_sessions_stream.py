"""The session stream (streaming/stateful.py `session_stream`) must
reproduce the batch sessionization boundaries once the stream drains."""

from __future__ import annotations

import datetime as dt
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.catalog import load_table
from debezium_cdc_kafka_spark.operators.windows import q_sessionize_30m
from debezium_cdc_kafka_spark.streaming.stateful import session_stream
from tests.conftest import SF_SMOKE


def _append_sentinels(ev, d):
    """Append (later modTime) one far-future sentinel per user: its batch
    moves the watermark past every real session, which closes them all
    (sentinel sessions stay open and are never emitted)."""
    time.sleep(2)
    sentinel = (
        ev.select("user_id")
        .distinct()
        .crossJoin(ev.agg(F.max("ts").alias("gmx")))
        .select(
            (F.col("user_id") + 10_000_000).alias("event_id"),
            (F.col("gmx") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
            "user_id",
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    sentinel.select(*ev.columns).coalesce(1).write.mode("append").parquet(d)


def _drain_sessions(spark, ev, d, name):
    """Drain `session_stream` over the files in ``d`` (one per batch) into
    memory table ``name``; returns the finished query."""
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    q = (
        session_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    return q


def _session_key(r):
    return (r.user_id, r.session_start, r.n_events, r.duration_sec)


def test_stateful_session_tracker_matches_batch(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events")
    d = str(tmp_path / "stream")
    # batch 1: every real event in one file; batch 2: the sentinels
    ev.coalesce(1).write.parquet(d)
    _append_sentinels(ev, d)
    _drain_sessions(spark, ev, d, "sessions_out")

    got = spark.sql("select * from sessions_out").collect()
    want = q_sessionize_30m(spark, SF_SMOKE).collect()

    got_keys = {_session_key(r) for r in got}
    want_keys = {_session_key(r) for r in want}
    assert got_keys == want_keys
    # totals agree to a cent (double sum order differs between paths)
    want_totals = {_session_key(r): r.total_value for r in want}
    for r in got:
        assert abs(r.total_value - want_totals[_session_key(r)]) <= 0.01, r


def test_session_stream_out_of_order_files_account_for_every_event(spark, tmp_path):
    """Randomly partitioned files deliver events older than the watermark.
    The stream must finish, and each real event must be either in an
    emitted session or dropped as late and counted as such."""
    ev = load_table(spark, SF_SMOKE, "events")
    d = str(tmp_path / "stream")
    ev.repartition(8).write.parquet(d)
    _append_sentinels(ev, d)
    q = _drain_sessions(spark, ev, d, "sessions_ooo")

    emitted = spark.sql("select coalesce(sum(n_events), 0) n from sessions_ooo").first().n
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped > 0  # the input really is out of order
    assert emitted + dropped == ev.count()


def test_session_gap_of_exactly_30_minutes_stays_one_session(spark, tmp_path):
    """User 1's events are exactly 30 minutes apart: one session. User 2's
    are 30 minutes + 1 µs apart: two sessions. The same in the batch query
    and in the stream, with the second event in a later micro-batch."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=30)
    rows = [
        (1, t0, 1, 1.0),
        (2, t0 + gap, 1, 2.0),
        (3, t0, 2, 1.0),
        (4, t0 + gap + dt.timedelta(microseconds=1), 2, 2.0),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": [r[0] for r in rows],
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": [r[2] for r in rows],
                "event_type": ["view"] * len(rows),
                "value": [r[3] for r in rows],
                "props": ["{}"] * len(rows),
            }
        ),
        str(sf / "events.parquet"),
    )
    want = {
        (1, "2024-01-01 12:00:00.000000", 2, 1800),
        (2, "2024-01-01 12:00:00.000000", 1, 0),
        (2, "2024-01-01 12:30:00.000001", 1, 0),
    }
    batch = q_sessionize_30m(spark, str(sf)).collect()
    assert {_session_key(r) for r in batch} == want

    ev = load_table(spark, str(sf), "events")
    d = str(tmp_path / "stream")
    first = F.col("event_id").isin(1, 3)
    ev.filter(first).coalesce(1).write.parquet(d)
    time.sleep(2)
    ev.filter(~first).coalesce(1).write.mode("append").parquet(d)
    _append_sentinels(ev, d)
    _drain_sessions(spark, ev, d, "sessions_gap")
    got = spark.sql("select * from sessions_gap").collect()
    assert {_session_key(r) for r in got} == want
