"""The CDC merge epoch's fixed cost, asserted structurally.

A micro-batch's merge is paid again on every epoch, so its plan carries
no avoidable work: one shuffle on the key per merge, no Python-worker
tasks for an empty target, and no Spark job to read a stored version
back (its schema is pinned, not inferred from Parquet footers).
"""

from __future__ import annotations

import re

from debezium_cdc_kafka_spark.operators.cdc import apply_changes, decode_envelope, well_formed
from debezium_cdc_kafka_spark.plans.inspect import audit_plan, executed_plan, group_stages
from debezium_cdc_kafka_spark.sources.cdc_events import derive_change_events, event_parts
from debezium_cdc_kafka_spark.sources.workload import CUSTOMERS_STATE_SCHEMA
from debezium_cdc_kafka_spark.streaming.cdc_stream import ParquetSnapshotTarget
from tests.conftest import SF_SMOKE


def _parts(spark, tmp_path, n: int):
    """The smoke change stream, staged as Parquet and split into `n`
    decoded parts by event, each with the same scan partitioning. Every
    part carries envelopes to merge, not just tombstones."""
    d = str(tmp_path / "raw")
    derive_change_events(spark, SF_SMOKE).repartition(2).write.parquet(d)
    parts = [decode_envelope(p) for p in event_parts(spark.read.parquet(d), n)]
    assert all(well_formed(p).count() > 0 for p in parts)
    return parts


def _in_group(spark, group: str, fn):
    """fn() run under job group `group`, returned once the group's job
    events have reached the driver's status store (they arrive
    asynchronously)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out


def _epoch_tasks(spark, target, changes, epoch_id: int) -> int:
    group = f"merge-epoch-{epoch_id}"
    _in_group(spark, group, lambda: target.merge_epoch(changes, epoch_id))
    return sum(s["tasks"] for s in group_stages(spark, group))


def test_apply_changes_plans_one_shuffle_on_the_key(spark, tmp_path):
    first, second = _parts(spark, tmp_path, 2)
    target = ParquetSnapshotTarget(str(tmp_path / "t"))
    target.merge_epoch(first, 0)
    merged = apply_changes(target.read(spark), second)
    merged.collect()
    plan = executed_plan(merged)
    assert "isFinalPlan=true" in plan
    shuffles, reused, _, _ = audit_plan(plan)
    assert (shuffles, reused) == (1, 0), plan
    assert re.search(r"Exchange hashpartitioning\(id#\d+L?,", plan), plan


def test_first_epoch_runs_no_more_tasks_than_the_second(spark, tmp_path):
    """The empty target's state adds no task: an epoch into an empty target
    does no more work than the next one, which also scans a stored version."""
    first, second = _parts(spark, tmp_path, 2)
    target = ParquetSnapshotTarget(str(tmp_path / "t"))
    into_empty = _epoch_tasks(spark, target, first, 0)
    into_stored = _epoch_tasks(spark, target, second, 1)
    assert 0 < into_empty <= into_stored, (into_empty, into_stored)


def test_read_is_schema_pinned_and_runs_no_job(spark, tmp_path):
    target = ParquetSnapshotTarget(str(tmp_path / "t"), schema=CUSTOMERS_STATE_SCHEMA)
    stored = spark.createDataFrame(
        [(1, "Ada", "Lovelace", "ada@example.com", 7, False)], CUSTOMERS_STATE_SCHEMA
    )
    target.commit(stored, 0)
    state = _in_group(spark, "pinned-read", lambda: target.read(spark))
    assert state.schema == CUSTOMERS_STATE_SCHEMA
    assert list(spark.sparkContext.statusTracker().getJobIdsForGroup("pinned-read")) == []
