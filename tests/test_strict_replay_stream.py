"""Streaming strict replay ≡ batch strict replay, even out of order."""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import cdc_strict_replay_state, decode_envelope
from debezium_cdc_kafka_spark.sources.cdc_events import derive_change_events
from debezium_cdc_kafka_spark.streaming.strict_replay import (
    latest_multiset,
    strict_replay_stream,
)
from tests.conftest import SF_SMOKE


def test_streaming_strict_replay_matches_batch(spark, tmp_path):
    env_dir = str(tmp_path / "env")
    # random repartition → micro-batches arrive in arbitrary offset order;
    # the state machine must not care
    derive_change_events(spark, SF_SMOKE).repartition(5).write.parquet(env_dir)

    from debezium_cdc_kafka_spark.streaming.cdc_stream import file_change_stream

    decoded = decode_envelope(file_change_stream(spark, env_dir)).filter(
        ~F.col("is_malformed")
    )
    q = (
        strict_replay_stream(decoded)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("strict_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.id, round(r.value, 2), r.n_rows)
        for r in latest_multiset(spark.sql("SELECT * FROM strict_out")).collect()
    }
    expected = {
        (r.id, r.value, r.n_rows)
        for r in cdc_strict_replay_state(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_strict_replay_state_keeps_no_deleted_inserts():
    """Compaction: once a delete covers every insert of a key, its state
    holds no inserts, whatever order the events folded in."""
    from debezium_cdc_kafka_spark.streaming.strict_replay import (
        EMPTY,
        _compact,
        _strict_multiset,
    )

    state = _compact(EMPTY, [(2, "c", 1.0), (4, "c", 2.0), (6, "u", 3.0)])
    assert state[3] == [2, 4]
    assert _strict_multiset(state) == {3.0: 2}
    state = _compact(state, [(8, "d", float("nan"))])
    assert state[3] == [] and state[4] == []
    assert _strict_multiset(state) == {}
    # a late insert below the delete is dropped on arrival; a later one lives
    state = _compact(state, [(10, "c", 5.0), (1, "c", 0.5)])
    assert state[3] == [10]
    assert _strict_multiset(state) == {5.0: 1}
