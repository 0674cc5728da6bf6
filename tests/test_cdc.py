"""CDC semantics tests — the reference's behavior as executable spec.

Test vectors follow FIXTURES.md Group A: insert (before=null), update
(both set), delete (after=null), snapshot 'r' (≙ insert), null-value
tombstone, malformed JSON (skipped), unknown op (raises).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import (
    apply_changes,
    decode_envelope,
    empty_state,
    final_state_upsert,
    last_event_per_key,
    state_view,
    strict_replay,
    well_formed,
)
from debezium_cdc_kafka_spark.sources.cdc_events import RECORD_SCHEMA, derive_change_events
from debezium_cdc_kafka_spark.sources.kafka import kafka_options
from tests.conftest import SF_SMOKE


def env(op, before=None, after=None):
    return json.dumps({"payload": {"op": op, "before": before, "after": after, "ts_ms": 0}})


def raw_df(spark, rows):
    return spark.createDataFrame(
        [(r[0], r[1], "t", 0, r[2], None) for r in rows], RECORD_SCHEMA
    )


def test_decode_vectors(spark):
    rows = [
        ("1", env("c", None, {"id": 1, "value": 10.0, "ts": "x"}), 0),  # insert
        ("2", env("r", None, {"id": 2, "value": 20.0, "ts": "x"}), 1),  # snapshot read
        ("1", env("u", {"id": 1}, {"id": 1, "value": 11.0, "ts": "y"}), 2),  # update
        ("1", env("d", {"id": 1}, None), 3),  # delete (key from before)
        ("1", None, 4),  # tombstone → dropped before decode
        ("9", '{"payload": garbage', 5),  # malformed → flagged
    ]
    out = decode_envelope(raw_df(spark, rows)).collect()
    assert len(out) == 5  # tombstone gone
    by_off = {r.offset: r for r in out}
    assert by_off[0].op == "c" and by_off[0].id == 1 and by_off[0].after.value == 10.0
    assert by_off[1].op == "r" and by_off[1].before is None
    assert by_off[2].op == "u" and by_off[2].after.value == 11.0
    assert by_off[3].op == "d" and by_off[3].id == 1 and by_off[3].after is None
    assert by_off[5].is_malformed and not by_off[0].is_malformed


NULL_KEY_ROWS = [
    ("1", env("c", None, {"id": 1, "value": 10.0, "ts": "x"}), 0),
    ("4", env("d", None, None), 1),  # delete with no before image
    ("2", env("c", None, {"value": 20.0, "ts": "x"}), 2),  # no id in after
    ("3", env("u", {}, {"id": None, "value": 30.0, "ts": "y"}), 3),  # null id in both
]


def test_null_key_is_malformed(spark):
    """A well-formed envelope whose images carry no ``id`` has nowhere to
    merge: it is flagged, and the replica never holds a null-key row."""
    raw = raw_df(spark, NULL_KEY_ROWS)
    out = {r.offset: r for r in decode_envelope(raw).collect()}
    assert [out[o].is_malformed for o in range(4)] == [False, True, True, True]
    assert [r.id for r in final_state_upsert(decode_envelope(raw)).collect()] == [1]


def test_null_key_goes_to_dead_letters_in_stream(spark, tmp_path):
    from debezium_cdc_kafka_spark.streaming.cdc_stream import (
        ParquetSnapshotTarget,
        file_change_stream,
        run_cdc_stream,
    )

    env_dir = str(tmp_path / "env")
    raw_df(spark, NULL_KEY_ROWS).coalesce(1).write.parquet(env_dir)
    dl_dir = str(tmp_path / "dead_letter")
    q = run_cdc_stream(
        spark,
        file_change_stream(spark, env_dir),
        str(tmp_path / "target"),
        str(tmp_path / "ckpt"),
        dead_letter_path=dl_dir,
    )
    q.awaitTermination(120)
    target = ParquetSnapshotTarget(str(tmp_path / "target"))
    assert [r.id for r in target.read_view(spark).collect()] == [1]
    dead = spark.read.parquet(dl_dir).collect()
    assert sorted((r.offset, r.reason) for r in dead) == [
        (1, "malformed"),
        (2, "malformed"),
        (3, "malformed"),
    ]


def test_unknown_op_raises(spark):
    """C9 strictness: postgres.py:260–261 raises RuntimeError on unknown op."""
    bad = raw_df(spark, [("1", env("z", None, {"id": 1, "value": 1.0, "ts": "x"}), 0)])
    with pytest.raises(Exception, match="Unknown option"):
        decode_envelope(bad).collect()


def test_last_event_wins_and_final_state(spark):
    rows = [
        ("1", env("c", None, {"id": 1, "value": 1.0, "ts": "a"}), 0),
        ("1", env("u", None, {"id": 1, "value": 2.0, "ts": "b"}), 1),
        ("2", env("c", None, {"id": 2, "value": 5.0, "ts": "a"}), 2),
        ("2", env("d", {"id": 2}, None), 3),
        ("3", env("u", None, {"id": 3, "value": 7.0, "ts": "c"}), 4),  # update w/o insert
    ]
    final = final_state_upsert(decode_envelope(raw_df(spark, rows)))
    state = {r.id: r.value for r in final.collect()}
    # upsert semantics: in-batch insert+delete removes key 2; update-without-
    # insert upserts key 3 (documented divergence from strict replay)
    assert state == {1: 2.0, 3: 7.0}


def test_apply_changes_idempotent(spark):
    rows1 = [("1", env("c", None, {"id": 1, "value": 1.0, "ts": "a"}), 0)]
    rows2 = [
        ("1", env("u", None, {"id": 1, "value": 9.0, "ts": "b"}), 1),
        ("2", env("c", None, {"id": 2, "value": 4.0, "ts": "b"}), 2),
    ]
    b1 = decode_envelope(raw_df(spark, rows1))
    b2 = decode_envelope(raw_df(spark, rows2))
    t1 = apply_changes(empty_state(spark), b1)
    t2 = apply_changes(t1, b2)
    assert {r.id: r.value for r in state_view(t2).collect()} == {1: 9.0, 2: 4.0}
    # replaying batch 2 (at-least-once redelivery) changes nothing
    t2_replay = apply_changes(t2, b2)
    assert {r.id: r.value for r in state_view(t2_replay).collect()} == {1: 9.0, 2: 4.0}
    # out-of-order redelivery of the OLDER batch can't regress state either
    t2_ooo = apply_changes(t2, b1)
    assert {r.id: r.value for r in state_view(t2_ooo).collect()} == {1: 9.0, 2: 4.0}


def test_strict_vs_upsert_divergence(spark):
    """Keys whose only events are updates exist in upsert mode but not in
    strict replay (UPDATE on a missing key is a 0-row no-op in Postgres)."""
    from debezium_cdc_kafka_spark.operators.cdc import (
        cdc_final_state,
        cdc_strict_replay_state,
    )

    upsert_ids = {r.id for r in cdc_final_state(spark, SF_SMOKE).collect()}
    strict_ids = {r.id for r in cdc_strict_replay_state(spark, SF_SMOKE).collect()}
    assert strict_ids <= upsert_ids
    raw = derive_change_events(spark, SF_SMOKE)
    ch = well_formed(decode_envelope(raw))
    never_inserted = (
        ch.groupBy("id").agg(F.max(F.when(F.col("op") == "c", 1).otherwise(0)).alias("has_c"))
    )
    no_insert_ids = {r.id for r in never_inserted.filter("has_c = 0").collect()}
    assert no_insert_ids.isdisjoint(strict_ids)


def test_duplicate_insert_anomaly(spark):
    """Strict mode preserves the reference's duplicate-insert anomaly:
    two 'c' events for a live key → n_rows = 2."""
    rows = [
        ("1", env("c", None, {"id": 1, "value": 1.0, "ts": "a"}), 0),
        ("1", env("c", None, {"id": 1, "value": 1.0, "ts": "a"}), 1),  # redelivered insert
    ]
    # strict multiset: both inserts live, one row value counted twice
    (key,) = strict_replay(well_formed(decode_envelope(raw_df(spark, rows)))).collect()
    assert [(m.value, m.n_rows) for m in key.multiset] == [(1.0, 2)]
    # upsert mode collapses them — the documented effectively-once upgrade
    assert final_state_upsert(decode_envelope(raw_df(spark, rows))).count() == 1


def test_kafka_option_mapping():
    """S1/S2: subscribe-earliest vs manual per-partition offset assign."""
    o1 = kafka_options("broker:9092", "dbserver1.inventory.customers")
    assert o1["startingOffsets"] == "earliest"
    o2 = kafka_options("broker:9092", "t", starting_offset=42, num_partitions=3)
    assert json.loads(o2["startingOffsets"]) == {"t": {"0": 42, "1": 42, "2": 42}}


def test_streaming_pipeline_matches_batch(spark, tmp_path):
    """End-to-end: file-backed change stream → foreachBatch merge →
    snapshot target; final state equals the one-shot batch computation,
    and a restart from the checkpoint applies nothing new."""
    from debezium_cdc_kafka_spark.streaming.cdc_stream import (
        ParquetSnapshotTarget,
        file_change_stream,
        run_cdc_stream,
    )

    env_dir = str(tmp_path / "envelopes")
    # several files → several micro-batches (maxFilesPerTrigger=1)
    derive_change_events(spark, SF_SMOKE).repartition(4).write.parquet(env_dir)

    target_path = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    q = run_cdc_stream(spark, file_change_stream(spark, env_dir), target_path, ckpt)
    q.awaitTermination(120)

    target = ParquetSnapshotTarget(target_path)
    versions = target.versions()
    assert len(versions) >= 2, "expected multiple micro-batches"
    got = {r.id: r.value for r in target.read_view(spark).collect()}
    expected_df = final_state_upsert(decode_envelope(derive_change_events(spark, SF_SMOKE)))
    expected = {r.id: r.value for r in expected_df.collect()}
    assert got == expected

    # restart from checkpoint: stream is drained, no new versions
    q2 = run_cdc_stream(spark, file_change_stream(spark, env_dir), target_path, ckpt)
    q2.awaitTermination(60)
    assert target.versions() == versions


def test_merge_epoch_after_cols_is_a_check(spark, tmp_path):
    """merge_epoch's third positional parameter is kept for callers of the
    older three-argument form; it must name the decoded after-image
    columns, and a mismatch fails before anything is committed."""
    from debezium_cdc_kafka_spark.streaming.cdc_stream import ParquetSnapshotTarget

    raw = derive_change_events(spark, SF_SMOKE)
    batch1 = decode_envelope(raw.filter(F.col("offset") % 2 == 0))
    batch2 = decode_envelope(raw.filter(F.col("offset") % 2 == 1))
    target = ParquetSnapshotTarget(str(tmp_path / "t"))
    target.merge_epoch(batch1, 0, ("value", "ts"))
    with pytest.raises(ValueError, match="after_cols"):
        target.merge_epoch(batch2, 1, ("first_name", "last_name", "email"))
    assert target.versions() == [0]


def test_incremental_agg_maintained_per_batch_equals_one_shot(spark):
    """Materialized-view maintenance: process the stream in 3 micro-batches,
    and after each batch update the (n_live, total_cents) aggregate using
    ONLY the touched keys' before/after state — never a full-table scan.
    The accumulated aggregate must equal cdc_incremental_agg's one-shot
    lag-based computation (which itself is oracle-gated against the
    final-state aggregate)."""
    from debezium_cdc_kafka_spark.operators.cdc import cdc_incremental_agg

    raw = derive_change_events(spark, SF_SMOKE)
    cuts = ("2024-01-11", "2024-01-21")
    batches = [
        raw.filter(F.col("timestamp") < cuts[0]),
        raw.filter((F.col("timestamp") >= cuts[0]) & (F.col("timestamp") < cuts[1])),
        raw.filter(F.col("timestamp") >= cuts[1]),
    ]

    def agg_of(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.round(F.col("value") * 100).cast("long")), F.lit(0)).alias("c"),
        ).first()
        return row.n, row.c

    state = empty_state(spark)
    n_live, total_cents = 0, 0
    for b in batches:
        decoded = decode_envelope(b)
        touched = well_formed(decoded).select("id").distinct()
        new_state = apply_changes(state, decoded)
        dn_old, dc_old = agg_of(state_view(state).join(touched, "id"))
        dn_new, dc_new = agg_of(state_view(new_state).join(touched, "id"))
        n_live += dn_new - dn_old
        total_cents += dc_new - dc_old
        state = new_state

    expected = cdc_incremental_agg(spark, SF_SMOKE).first()
    assert n_live == expected.n_live
    assert round(total_cents / 100.0, 2) == expected.total_value
