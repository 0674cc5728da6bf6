"""Streaming incremental aggregate maintenance (materialized-view style).

The batch proof lives in `operators.cdc.cdc_incremental_agg`: per-event
deltas telescope per key, so their sum equals the final-state aggregate.
This module is the streaming production shape of the same idea: after
the shared epoch body (`cdc_stream.cdc_epochs`) merges a micro-batch, a
running (n_live, total_cents) aggregate is brought up to date WITHOUT
ever rescanning the materialized table.

Per epoch, the delta is computed as a state diff restricted to the keys
the batch touched:

    delta = agg(merged_state ⋉ batch_keys) − agg(old_state ⋉ batch_keys)

which is exact under ANY event ordering across micro-batches (the
snapshot merge is a commutative max-by-offset monoid — a stale
re-delivered event changes nothing, and then its delta is 0) and under
epoch retries (both the snapshot target and the aggregate store are
versioned by epoch; a replayed epoch re-reads the state *before* itself
and overwrites its own version — same math, same result).

Cost per epoch is O(|batch| + touched keys), not O(table): the semi
join against batch keys broadcasts the (small) key set, and on a real
cluster with the target key-partitioned, the old/new state reads would
prune to the touched files — the same files the MERGE rewrites anyway. Totals are exact integer cents (see functions/money.py
rationale), so no float drift accumulates across epochs.

Reference trace: this upgrades the reference's per-row apply loop
(app/consumer/consumer.py:55–75) into maintained aggregates — a thing
the reference cannot do at all without re-querying its Postgres target.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import well_formed
from .cdc_stream import ParquetSnapshotTarget, _start_foreach_batch, cdc_epochs

_AGG_VERSION_RE = re.compile(r"^agg-v=(\d+)\.json$")


class AggStore:
    """Tiny versioned store for the running aggregate: one JSON file per
    epoch, atomic rename on commit, readers take the max version. The
    same retry contract as ParquetSnapshotTarget: epoch N always reads
    the max version < N, so a replayed epoch recomputes identically."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.path):
            m = _AGG_VERSION_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def read(self, before_version: int | None = None) -> tuple[int, int]:
        vs = [v for v in self.versions() if before_version is None or v < before_version]
        if not vs:
            return 0, 0
        with open(os.path.join(self.path, f"agg-v={vs[-1]}.json")) as f:
            d = json.load(f)
        return d["n_live"], d["total_cents"]

    def commit(self, version: int, n_live: int, total_cents: int) -> None:
        tmp = os.path.join(self.path, f".agg-v={version}.tmp")
        with open(tmp, "w") as f:
            json.dump({"n_live": n_live, "total_cents": total_cents}, f)
        os.replace(tmp, os.path.join(self.path, f"agg-v={version}.json"))


def _agg_restricted(state: DataFrame, keys: DataFrame) -> tuple[int, int]:
    """(live-row count, integer-cents total) of `state` restricted to the
    given key set. Broadcast semi join: the key set is the batch's keys —
    small by construction."""
    live = state.filter(~F.col("_deleted")).join(F.broadcast(keys), "id", "left_semi")
    row = live.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.round(F.col("value") * 100).cast("long")), F.lit(0)).alias("c"),
    ).first()
    return int(row.n), int(row.c)


def maintain_incremental_agg(
    spark: SparkSession,
    raw_stream: DataFrame,
    target_path: str,
    agg_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Run the CDC merge stream AND maintain the running aggregate from
    per-epoch state diffs. Returns (streaming query, AggStore)."""
    target = ParquetSnapshotTarget(target_path)
    aggs = AggStore(agg_path)
    stream, merge = cdc_epochs(raw_stream, [(F.lit(True), target)], None)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        (changes,) = merge(batch_df, epoch_id)
        s = batch_df.sparkSession
        # The old and new states are the target's versions either side of
        # this epoch's merge, both read back from committed versions, as a
        # cluster reads the MERGE output for the delta.
        keys = well_formed(changes).select("id").distinct()
        n_old, c_old = _agg_restricted(target.read(s, before_version=epoch_id), keys)
        n_new, c_new = _agg_restricted(target.read(s, before_version=epoch_id + 1), keys)
        n_prev, c_prev = aggs.read(before_version=epoch_id)
        aggs.commit(epoch_id, n_prev + (n_new - n_old), c_prev + (c_new - c_old))

    return _start_foreach_batch(stream, _apply, checkpoint_path, available_now), aggs
