"""Streaming strict replay ≡ batch strict replay, even out of order."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
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


class _NewState:
    """The part of GroupState `_update` touches, for a key seen first."""

    exists = False

    def update(self, value):
        self.value = value


def test_null_inserts_count_as_one_value():
    """The batch replay groups a key's null-valued live inserts into one
    (id, null, n) row; the stream's state must carry the nulls so that
    its multiset does the same."""
    from debezium_cdc_kafka_spark.streaming.strict_replay import _strict_multiset, _update

    pdf = pd.DataFrame(
        {"offset": [1, 2, 3, 4], "op": ["c"] * 4, "value": [None, None, 1.0, 1.0]}
    )
    state = _NewState()
    list(_update((7,), iter([pdf]), state))
    *compacted, version = state.value
    assert version == 1
    assert _strict_multiset(tuple(compacted)) == {None: 2, 1.0: 2}


def test_null_update_keeps_the_last_valued_update():
    """The oracle's `first_value(... IGNORE NULLS)` skips a null-valued
    update, so a later null update leaves the insert at 5.0."""
    from debezium_cdc_kafka_spark.streaming.strict_replay import (
        EMPTY,
        _compact,
        _strict_multiset,
    )

    state = _compact(EMPTY, [(1, "c", 1.0), (2, "u", 5.0), (3, "u", None)])
    assert _strict_multiset(state) == {5.0: 1}


def test_streaming_strict_replay_with_null_values_matches_batch(spark, tmp_path):
    """Stream ≡ batch strict replay over events carrying null values:
    null inserts of one key, a null update after a valued one, and a null
    insert after a delete, spread over several micro-batches."""
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

    from debezium_cdc_kafka_spark.streaming.cdc_stream import file_change_stream

    decoded = decode_envelope(file_change_stream(spark, env_dir)).filter(
        ~F.col("is_malformed")
    )
    q = (
        strict_replay_stream(decoded)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("strict_null_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.id, None if r.value is None else round(r.value, 2), r.n_rows)
        for r in latest_multiset(spark.sql("SELECT * FROM strict_null_out")).collect()
    }
    expected = {
        (r.id, r.value, r.n_rows)
        for r in cdc_strict_replay_state(spark, str(sf_dir)).collect()
    }
    assert expected == {(1, None, 2), (1, 1.0, 2), (2, 5.0, 1), (3, None, 1)}
    assert got == expected
