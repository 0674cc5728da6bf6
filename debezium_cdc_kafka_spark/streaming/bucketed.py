"""Bucketed copy-on-write snapshot target: per-epoch writes O(changed
buckets), not O(total state).

`ParquetSnapshotTarget` (cdc_stream.py) rewrites the ENTIRE state every
micro-batch — correct, time-traveling, and the right simple default,
but copy-on-write cost is O(|state|) per epoch, so an N-epoch backfill
over a growing table pays O(N·|state|) total write I/O. The reference
has the mirror-image problem at the other extreme (one SQL statement
per message, reference app/consumer/consumer.py:55–75). This class is
partition-pruned MERGE expressed in plain Parquet:

- state is split into `n_buckets` key buckets;
- each epoch MERGEs only the buckets its batch touches, and writes a
  new version of THOSE buckets only (`<path>/v=<epoch>/b=<k>/`);
- a reader assembles the current state by taking, per bucket, the
  newest version that wrote it.

Two bucket functions, chosen by workload:

- ``mode="hash"`` (default): bucket = xxhash64(id) % B. Uniform update
  workloads over huge keyspaces — an epoch touching k distinct keys
  rewrites ≤ min(k, B) buckets ≈ k/B of the state when k ≪ B·keys/bucket.
- ``mode="range"``: bucket = id // range_width. CDC delivery is
  offset-ordered, and for the overwhelmingly common autoincrement-PK
  insert-heavy table the batch's keys are CONTIGUOUS — each epoch
  touches only the tail bucket(s), so per-epoch write cost is O(|batch|)
  regardless of how big the accumulated state grows. This is the shape
  that turns the N-epoch backfill from O(N·|state|) into O(|stream|).

Retry safety is inherited from the version layout: a retried epoch N
re-reads every bucket's newest version < N and overwrites v=N, so
replays converge (same contract tests as the flat target). Tombstones
are retained rows, per the merge_states monoid.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.cdc import (
    STATE_SCHEMA,
    _state_rows,
    apply_changes,
    empty_state,
    state_view,
)
from .cdc_stream import committed_versions

# range-mode bucket_expr floors negative keys to NEGATIVE bucket ids and
# Spark's partitionBy writes them as `b=-3/` — the listing regex must
# accept the sign or those buckets become invisible to read()/compact()
# (silent data loss on compaction).
_BUCKET_RE = re.compile(r"^b=(-?\d+)$")


class BucketedSnapshotTarget:
    """Mutable keyed table over immutable Parquet, bucket-versioned.

    Layout: ``<path>/v=<epoch>/b=<bucket>/part-*.parquet`` with a
    ``_SUCCESS`` marker per version. ``<path>/_meta.json`` pins the
    bucket function so re-opens can't silently re-bucket.
    """

    def __init__(
        self,
        path: str,
        schema: T.StructType = STATE_SCHEMA,
        n_buckets: int = 64,
        mode: str = "hash",
        range_width: int = 4096,
        key_col: str = "id",
    ):
        if mode not in ("hash", "range"):
            raise ValueError(f"mode must be 'hash' or 'range', got {mode!r}")
        if mode == "hash" and n_buckets < 1:
            # pmod(x, 0) is null — every row would land in a phantom bucket
            raise ValueError(f"hash mode requires n_buckets >= 1, got {n_buckets}")
        if mode == "range" and range_width < 1:
            raise ValueError(f"range mode requires range_width >= 1, got {range_width}")
        self.path = path
        self.schema = schema
        self.key_col = key_col
        os.makedirs(path, exist_ok=True)
        meta_path = os.path.join(path, "_meta.json")
        if os.path.exists(meta_path):
            meta = json.load(open(meta_path))
            # key_col joined the pin after the first release; .get() keeps
            # older targets (no key_col in meta) reopenable with the default
            pinned = (
                meta["mode"],
                meta["n_buckets"],
                meta["range_width"],
                meta.get("key_col", key_col),
            )
            if pinned != (mode, n_buckets, range_width, key_col):
                raise ValueError(
                    f"target at {path} was created with {meta}, "
                    f"reopened with mode={mode} n_buckets={n_buckets} "
                    f"range_width={range_width} key_col={key_col!r}"
                )
        else:
            with open(meta_path, "w") as fh:
                json.dump(
                    {
                        "mode": mode,
                        "n_buckets": n_buckets,
                        "range_width": range_width,
                        "key_col": key_col,
                    },
                    fh,
                )
        self.mode = mode
        self.n_buckets = n_buckets
        self.range_width = range_width

    # -- bucket function ---------------------------------------------------

    def bucket_expr(self, col: str | None = None):
        c = F.col(col or self.key_col)
        if self.mode == "hash":
            return F.pmod(F.xxhash64(c), F.lit(self.n_buckets)).cast("int")
        # range: unbounded bucket ids (autoincrement keys keep growing);
        # negative keys floor toward -inf like SQL integer division does not,
        # so use floor() explicitly
        return F.floor(c / F.lit(self.range_width)).cast("int")

    # -- version/bucket listing ---------------------------------------------

    def versions(self) -> list[int]:
        return committed_versions(self.path)

    def _buckets_in(self, version: int) -> list[int]:
        vd = os.path.join(self.path, f"v={version}")
        return sorted(
            int(m.group(1))
            for name in os.listdir(vd)
            if (m := _BUCKET_RE.match(name))
        )

    def _latest_bucket_paths(
        self, before_version: int | None = None, buckets: set[int] | None = None
    ) -> list[str]:
        """Per bucket, the newest version dir (< before_version) that wrote
        it — the manifest resolution a lakehouse reader does from its log."""
        newest: dict[int, int] = {}
        for v in self.versions():
            if before_version is not None and v >= before_version:
                continue
            for b in self._buckets_in(v):
                if buckets is None or b in buckets:
                    newest[b] = v  # versions() is sorted ascending
        return [
            os.path.join(self.path, f"v={v}", f"b={b}")
            for b, v in sorted(newest.items())
        ]

    # -- read / write --------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        before_version: int | None = None,
        buckets: set[int] | None = None,
    ) -> DataFrame:
        paths = self._latest_bucket_paths(before_version, buckets)
        if not paths:
            return empty_state(spark, self.schema)
        return spark.read.schema(self.schema).parquet(*paths)

    def read_view(self, spark: SparkSession) -> DataFrame:
        return state_view(self.read(spark))

    def merge_epoch(self, changes: DataFrame, epoch_id: int) -> None:
        spark = changes.sparkSession
        # buckets this epoch touches: bounded by min(|batch keys|, buckets
        # with data) — a driver-side list of ints, never row data
        touched = {
            r[0]
            for r in _state_rows(changes).select(self.bucket_expr().alias("b"))
            .distinct()
            .collect()
        }
        if not touched:
            # empty batch (e.g. all-malformed): still commit an empty
            # version marker so the epoch is recorded as applied
            vd = os.path.join(self.path, f"v={epoch_id}")
            os.makedirs(vd, exist_ok=True)
            open(os.path.join(vd, "_SUCCESS"), "w").close()
            return
        current = self.read(spark, before_version=epoch_id, buckets=touched)
        merged = apply_changes(current, changes)
        vd = os.path.join(self.path, f"v={epoch_id}")
        # a retried epoch overwrites its own version atomically-enough for
        # the read side: readers require _SUCCESS, written last
        shutil.rmtree(vd, ignore_errors=True)
        (
            merged.withColumn("b", self.bucket_expr())
            .repartition("b")
            .write.partitionBy("b")
            .mode("overwrite")
            .parquet(vd)
        )

    def compact(self, keep_last: int = 2) -> list[int]:
        """Remove version dirs that no bucket resolves to anymore (every
        bucket they wrote has a newer version), keeping the newest
        `keep_last` versions unconditionally for epoch-retry reads."""
        vs = self.versions()
        protected = set(vs[-keep_last:]) if keep_last > 0 else set()
        newest: dict[int, int] = {}
        for v in vs:
            for b in self._buckets_in(v):
                newest[b] = v
        live = set(newest.values()) | protected
        doomed = [v for v in vs if v not in live]
        for v in doomed:
            shutil.rmtree(os.path.join(self.path, f"v={v}"), ignore_errors=True)
        return doomed
