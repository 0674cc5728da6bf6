"""Disk-budget guard: preflight + spill watchdog (VERDICT r8 item 3).

The guard exists because both r8 ×256 DBSCAN attempts exhausted the
machine's shared scratch volume before failing. These tests fire it
synthetically: a floor ABOVE the volume's current free space must
refuse/cancel, a sane floor must let work through and report a
non-negative scratch peak.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.diskguard import (
    DiskBudgetError,
    SpillWatchdog,
    free_bytes,
    preflight,
)


def _gb(b: int) -> float:
    return b / 2**30


def test_preflight_passes_with_headroom():
    assert preflight(0.001) > 0


def test_preflight_refuses_without_headroom():
    impossible = _gb(free_bytes()) + 1024.0
    with pytest.raises(DiskBudgetError, match="preflight"):
        preflight(impossible)


def test_watchdog_start_refuses_below_floor(spark):
    """Floor already crossed at start(): trip synchronously, don't race
    the first job against the sampler."""
    wd = SpillWatchdog(spark, min_free_gb=_gb(free_bytes()) + 1024.0)
    with pytest.raises(DiskBudgetError, match="below"):
        wd.start()
    assert wd.tripped


def test_watchdog_cancels_running_job_when_floor_crossed(spark):
    """Synthetic low-disk: a floor the volume is already near (just
    under current free) plus a slow job — the sampler must trip and
    cancel the job rather than let it run to completion."""
    floor_gb = _gb(free_bytes()) - 0.05  # sampler crosses on first tick
    wd = SpillWatchdog(spark, min_free_gb=floor_gb, interval_s=0.2)
    # a job slow enough (~tens of seconds) that the 0.2 s sampler
    # observes it in flight; any scratch the shuffle touches only helps
    slow = (
        spark.range(0, 400_000_000, 1, 32)
        .withColumn("k", F.col("id") % 1_000_000)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t0 = time.monotonic()
    with pytest.raises(Exception, match="(?i)cancel"):
        with wd:
            slow.write.format("noop").mode("overwrite").save()
    assert wd.tripped
    assert time.monotonic() - t0 < 60


def test_watchdog_clean_run_reports_stats(spark):
    with SpillWatchdog(spark, min_free_gb=0.001, interval_s=0.2) as wd:
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().write.format(
            "noop"
        ).mode("overwrite").save()
    stats = wd.stop()
    assert stats["tripped"] is False
    assert stats["peak_scratch_bytes"] >= 0
