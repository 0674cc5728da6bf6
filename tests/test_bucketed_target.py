"""BucketedSnapshotTarget: per-epoch O(changed buckets) copy-on-write.

Contract: identical final state to the flat ParquetSnapshotTarget under
the same stream, idempotent under epoch retry and reordering (checked
for the flat target too, against the merge_states fixpoint), and — the
point — a range-bucketed target under offset-ordered insert-heavy
delivery writes only the TAIL buckets each epoch instead of the whole
state.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import (
    decode_envelope,
    empty_state,
    final_state_upsert,
    materialize,
    merge_states,
)
from debezium_cdc_kafka_spark.sources.cdc_events import derive_change_events
from debezium_cdc_kafka_spark.streaming.bucketed import BucketedSnapshotTarget
from debezium_cdc_kafka_spark.streaming.cdc_stream import (
    ParquetSnapshotTarget,
    file_change_stream,
    run_cdc_stream,
)
from tests.conftest import SF_SMOKE


def _final_view(spark, target) -> set[tuple]:
    return {tuple(r) for r in target.read_view(spark).collect()}


@pytest.mark.parametrize("mode", ["hash", "range"])
def test_stream_through_bucketed_target_equals_flat(spark, tmp_path, mode):
    env_dir = str(tmp_path / "envelopes")
    derive_change_events(spark, SF_SMOKE).repartition(4).write.parquet(env_dir)

    flat = ParquetSnapshotTarget(str(tmp_path / "flat"))
    q = run_cdc_stream(
        spark,
        file_change_stream(spark, env_dir),
        str(tmp_path / "flat"),
        str(tmp_path / "ck_flat"),
        target=flat,
    )
    q.awaitTermination(120)

    bucketed = BucketedSnapshotTarget(
        str(tmp_path / f"bucketed_{mode}"), n_buckets=8, mode=mode,
        range_width=64,
    )
    q2 = run_cdc_stream(
        spark,
        file_change_stream(spark, env_dir),
        str(tmp_path / "unused"),
        str(tmp_path / f"ck_{mode}"),
        target=bucketed,
    )
    q2.awaitTermination(120)

    got = _final_view(spark, bucketed)
    assert got == _final_view(spark, flat)
    # and both equal the one-shot batch computation
    expected = {
        tuple(r)
        for r in final_state_upsert(
            decode_envelope(derive_change_events(spark, SF_SMOKE))
        ).collect()
    }
    assert got == expected


def _stored(state) -> dict:
    return {r.id: (r._offset, r._deleted, r.value, r.ts) for r in state.collect()}


# (target, n parts, schedule of (epoch_id, part) merge_epoch calls)
@pytest.mark.parametrize(
    "kind,n,schedule",
    [
        # crash-between-apply-and-commit: the newest epoch replays, then
        # an OLD epoch replays (reads state < 0 = empty and rewrites v=0's
        # buckets; newer v=1 still wins per-bucket resolution)
        ("bucketed", 2, [(0, 0), (1, 1), (1, 1), (0, 0)]),
        ("flat", 3, [(0, 0), (1, 1), (2, 2)]),
        ("flat", 3, [(0, 0), (1, 1), (2, 2), (1, 1)]),
        ("flat", 3, [(0, 2), (1, 0), (2, 1)]),
        # out of order, then part 1 redelivered in a later epoch
        ("flat", 3, [(0, 1), (1, 2), (2, 0), (3, 1)]),
    ],
    ids=["bucketed", "flat-in-order", "flat-replayed", "flat-out-of-order", "flat-both"],
)
def test_epoch_retry_is_idempotent(spark, tmp_path, kind, n, schedule):
    """Once every part has been merged, the stored state (tombstones
    included) equals the merge_states fixpoint over the parts, and stays
    equal under every further replay."""
    raw = decode_envelope(derive_change_events(spark, SF_SMOKE))
    parts = [raw.filter(F.col("offset") % n == k) for k in range(n)]
    expected = empty_state(spark)
    for p in parts:
        expected = merge_states(expected, materialize(p))
    expected = _stored(expected)
    path = str(tmp_path / "t")
    t = (BucketedSnapshotTarget(path, n_buckets=4) if kind == "bucketed"
         else ParquetSnapshotTarget(path))
    seen = set()
    for epoch, k in schedule:
        t.merge_epoch(parts[k], epoch)
        seen.add(k)
        if len(seen) == n:
            assert _stored(t.read(spark)) == expected, (epoch, k)


def test_range_mode_writes_only_tail_buckets_per_epoch(spark, tmp_path):
    """The O(Δ) claim, asserted structurally: an offset-ordered
    insert-heavy stream (contiguous new keys per epoch) under range
    bucketing must write a BOUNDED number of buckets per epoch while the
    accumulated state keeps growing."""
    t = BucketedSnapshotTarget(
        str(tmp_path / "t"), n_buckets=0, mode="range", range_width=100
    )
    n_epochs, keys_per_epoch = 8, 200
    for e in range(n_epochs):
        lo = e * keys_per_epoch
        batch = spark.range(lo, lo + keys_per_epoch).select(
            F.col("id"),
            F.lit(False).alias("is_malformed"),
            F.lit("c").alias("op"),
            F.struct(
                (F.col("id") * 1.0).alias("value"),
                F.lit("2024-01-01 00:00:00.000000").alias("ts"),
            ).alias("after"),
            F.col("id").alias("offset"),
        )
        t.merge_epoch(batch, e)
    # every epoch wrote exactly its own 2 contiguous range buckets —
    # NOT the full accumulated bucket set
    per_epoch = [len(t._buckets_in(v)) for v in t.versions()]
    assert per_epoch == [2] * n_epochs, per_epoch
    # state still reads complete
    assert t.read_view(spark).count() == n_epochs * keys_per_epoch
    # flat-target equivalent would have rewritten sum(i*200) rows; here
    # total rows written across versions == rows in the stream
    total_written = 0
    for v in t.versions():
        for b in t._buckets_in(v):
            p = os.path.join(t.path, f"v={v}", f"b={b}")
            total_written += spark.read.schema(t.schema).parquet(p).count()
    assert total_written == n_epochs * keys_per_epoch


def test_compact_preserves_state(spark, tmp_path):
    raw = decode_envelope(derive_change_events(spark, SF_SMOKE))
    t = BucketedSnapshotTarget(str(tmp_path / "t"), n_buckets=4)
    thirds = [raw.filter(F.col("offset") % 3 == k) for k in range(3)]
    for e, batch in enumerate(thirds):
        t.merge_epoch(batch, e)
    before = _final_view(spark, t)
    doomed = t.compact(keep_last=1)
    assert _final_view(spark, t) == before
    # versions every bucket has since rewritten are gone (with 4 buckets
    # and 3 full-coverage epochs, at least v=0 must be compactable)
    assert 0 in doomed


def test_meta_pin_rejects_rebucketing(tmp_path):
    BucketedSnapshotTarget(str(tmp_path / "t"), n_buckets=8, mode="hash")
    with pytest.raises(ValueError, match="created with"):
        BucketedSnapshotTarget(str(tmp_path / "t"), n_buckets=16, mode="hash")


def test_meta_pin_rejects_key_col_change(tmp_path):
    """Reopening with a different key_col would silently re-bucket every
    write and corrupt per-bucket resolution — must raise (r9, ADVICE)."""
    BucketedSnapshotTarget(str(tmp_path / "t"), key_col="id")
    with pytest.raises(ValueError, match="created with"):
        BucketedSnapshotTarget(str(tmp_path / "t"), key_col="offset")


def test_hash_mode_rejects_zero_buckets(tmp_path):
    """pmod(x, 0) is null — every row would land in a phantom bucket."""
    with pytest.raises(ValueError, match="n_buckets"):
        BucketedSnapshotTarget(str(tmp_path / "t"), n_buckets=0, mode="hash")


def test_range_mode_negative_keys_survive_read_and_compact(spark, tmp_path):
    """range-mode floors negative keys to NEGATIVE bucket ids (b=-k
    dirs). The r8 listing regex rejected the sign, making those buckets
    invisible to read() and deletable by compact() — silent data loss
    (r9, ADVICE medium). Pin: negative-key rows round-trip and survive
    compaction."""
    t = BucketedSnapshotTarget(
        str(tmp_path / "t"), n_buckets=0, mode="range", range_width=100
    )

    def _batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"),
            F.lit(False).alias("is_malformed"),
            F.lit("c").alias("op"),
            F.struct(
                (F.col("id") * 1.0).alias("value"),
                F.lit("2024-01-01 00:00:00.000000").alias("ts"),
            ).alias("after"),
            (F.col("id") + 1000).alias("offset"),
        )

    t.merge_epoch(_batch(-250, -50), 0)  # buckets -3..-1
    t.merge_epoch(_batch(-50, 150), 1)  # buckets -1..1
    assert any(b < 0 for v in t.versions() for b in t._buckets_in(v))
    view = {r["id"] for r in t.read_view(spark).collect()}
    assert view == set(range(-250, 150))
    before = _final_view(spark, t)
    t.compact(keep_last=1)
    assert _final_view(spark, t) == before
