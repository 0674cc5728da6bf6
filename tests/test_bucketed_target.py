"""ParquetSnapshotTarget: epoch-versioned copy-on-write.

Contract: idempotent under epoch retry and reordering, checked against
the merge_states fixpoint, and an epoch whose every record is malformed
still commits its version, holding the previous version's state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import (
    decode_envelope,
    empty_state,
    materialize,
    merge_states,
)
from debezium_cdc_kafka_spark.sources.cdc_events import derive_change_events
from debezium_cdc_kafka_spark.streaming.cdc_stream import ParquetSnapshotTarget
from tests.conftest import SF_SMOKE


def _stored(state) -> dict:
    return {r.id: (r._offset, r._deleted, r.value, r.ts) for r in state.collect()}


# (n parts, schedule of (epoch_id, part) merge_epoch calls)
@pytest.mark.parametrize(
    "n,schedule",
    [
        (3, [(0, 0), (1, 1), (2, 2)]),
        (3, [(0, 0), (1, 1), (2, 2), (1, 1)]),
        (3, [(0, 2), (1, 0), (2, 1)]),
        # out of order, then part 1 redelivered in a later epoch
        (3, [(0, 1), (1, 2), (2, 0), (3, 1)]),
    ],
    ids=["flat-in-order", "flat-replayed", "flat-out-of-order", "flat-both"],
)
def test_epoch_retry_is_idempotent(spark, tmp_path, n, schedule):
    """Once every part has been merged, the stored state (tombstones
    included) equals the merge_states fixpoint over the parts, and stays
    equal under every further replay."""
    raw = decode_envelope(derive_change_events(spark, SF_SMOKE))
    parts = [raw.filter(F.col("offset") % n == k) for k in range(n)]
    expected = empty_state(spark)
    for p in parts:
        expected = merge_states(expected, materialize(p))
    expected = _stored(expected)
    t = ParquetSnapshotTarget(str(tmp_path / "t"))
    seen = set()
    for epoch, k in schedule:
        t.merge_epoch(parts[k], epoch)
        seen.add(k)
        if len(seen) == n:
            assert _stored(t.read(spark)) == expected, (epoch, k)


def test_all_malformed_epoch_commits_unchanged_state(spark, tmp_path):
    """An epoch of malformed records only still commits its version, so
    the epoch is recorded as applied, and that version holds exactly the
    previous version's stored state."""
    raw = decode_envelope(derive_change_events(spark, SF_SMOKE))
    malformed = raw.filter(F.col("is_malformed"))
    assert malformed.count() > 0
    t = ParquetSnapshotTarget(str(tmp_path / "t"))
    t.merge_epoch(raw.filter(~F.col("is_malformed")), 0)
    t.merge_epoch(malformed, 1)
    assert t.versions() == [0, 1]
    before = _stored(t.read(spark, before_version=1))
    assert len(before) > 0
    assert _stored(t.read(spark)) == before
