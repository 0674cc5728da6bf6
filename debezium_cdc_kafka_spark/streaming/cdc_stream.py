"""Streaming CDC pipeline: the reference's consumer loop, Spark-shaped.

Reference loop (app/consumer/consumer.py:55–75): poll one message → decode
→ apply one SQL statement → commit the offset. Here the same contract is:

  readStream (Kafka records) → decode per table → foreachBatch(merge) →
  checkpoint

- `cdc_epochs` is the one epoch body of every CDC stream (here, routing.py,
  incremental_agg.py). Per table it decodes the records under the target's
  state schema (the table's one declaration) and calls the target's
  ``merge_epoch(changes, epoch_id)``.
- The offset-commit-after-apply contract (consumer.py:74–77,
  at-least-once) maps to Structured Streaming's checkpoint: a batch's
  offsets are committed only after `foreachBatch` returns. A replayed
  batch (crash between apply and checkpoint) re-merges idempotently, so
  delivery is effectively-once — the documented improvement over the
  reference's duplicate-insert anomaly.
- The target is a versioned Parquet snapshot store (`ParquetSnapshotTarget`)
  because plain Parquet has no MERGE. Each epoch commits a new version
  directory; a retried epoch overwrites its own version and reads the
  last version *before* it, making the merge deterministic under retries.
- An epoch's fixed cost is kept to the merge itself. Stored versions are
  read with the target's pinned schema (no Parquet footer-inference job),
  an empty target reads as a JVM-side empty state (no Python-worker
  tasks), and the merge is one aggregate, so one shuffle on the key.
- The dead-letter sink (``dead_letter_path``) keeps what the reference
  logs and skips (consumer.py:78–79): malformed and unroutable records,
  whole, with a ``reason``. Each epoch overwrites its own ``epoch=<id>``
  directory once, so a replayed epoch quarantines nothing twice.
"""

from __future__ import annotations

import os
import re
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.cdc import (
    STATE_SCHEMA,
    after_columns,
    apply_changes,
    empty_state,
    envelope_columns,
    state_view,
)
from ..sources.cdc_events import RECORD_SCHEMA

_VERSION_RE = re.compile(r"^v=(\d+)$")


class ParquetSnapshotTarget:
    """Mutable keyed table over immutable Parquet: version-per-epoch commits.

    Layout: ``<path>/v=<epoch>/part-*.parquet``. Readers take the max
    version; a retried epoch N re-reads the max version < N, so replaying a
    micro-batch cannot double-apply (SURVEY §7 "what's hard" #1).

    Local-mode listing uses the filesystem; on a cluster the same layout
    works over any Hadoop FS (listing via the FileSystem API).
    """

    def __init__(self, path: str, schema: T.StructType = STATE_SCHEMA):
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)

    def versions(self) -> list[int]:
        """Sorted epochs with a committed ``v=<epoch>/_SUCCESS``."""
        out = []
        for name in os.listdir(self.path):
            m = _VERSION_RE.match(name)
            if m and os.path.exists(os.path.join(self.path, name, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def read(self, spark: SparkSession, before_version: int | None = None) -> DataFrame:
        """Full stored state (incl. tombstones); use `read_view` for the
        user-facing table."""
        vs = [v for v in self.versions() if before_version is None or v < before_version]
        if not vs:
            return empty_state(spark, self.schema)
        return spark.read.schema(self.schema).parquet(os.path.join(self.path, f"v={vs[-1]}"))

    def read_view(self, spark: SparkSession) -> DataFrame:
        return state_view(self.read(spark))

    def commit(self, df: DataFrame, version: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v={version}"))

    def merge_epoch(self, changes: DataFrame, epoch_id: int, after_cols=None) -> None:
        """The foreachBatch body: snapshot-before-this-epoch + batch
        changes → snapshot at this epoch.

        The after-image columns come from the decoded ``changes`` frame.
        ``after_cols`` is not an option: it is kept only because wrappers
        written against the older three-argument form (perfbench's
        ``TracedTarget``) still pass the column tuple positionally. When
        given, it must equal the derived columns."""
        if after_cols is not None and tuple(after_cols) != after_columns(changes):
            raise ValueError(
                f"after_cols {tuple(after_cols)} != decoded columns {after_columns(changes)}"
            )
        spark = changes.sparkSession
        current = self.read(spark, before_version=epoch_id)
        self.commit(apply_changes(current, changes), epoch_id)

    def compact(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest `keep_last` versions (old snapshots only
        serve epoch-retry reads, which never reach further back than the
        previous version). Returns the removed versions."""
        import shutil

        vs = self.versions()
        doomed = vs[:-keep_last] if keep_last > 0 else vs
        for v in doomed:
            shutil.rmtree(os.path.join(self.path, f"v={v}"), ignore_errors=True)
        return doomed


def cdc_epochs(
    raw_stream: DataFrame, routes: list[tuple[Column, object]], dead_letter_path: str | None
):
    """The epoch body every CDC stream runs, ``apply(batch, epoch_id)``,
    and the stream it runs on. ``routes`` pairs a predicate on the raw
    Kafka records with the target they merge into.

    Each route's records are decoded under ``target.schema`` in the
    stream's own plan (struct column ``_route<i>``): a record is parsed
    once, inside its micro-batch, and an epoch plans only its merges.
    ``apply`` merges each route's decoded records into its target and
    returns them, in route order. With a ``dead_letter_path`` it first
    writes every route's malformed records and the records no route
    selects whole (`RECORD_SCHEMA`), with a ``reason``, in ONE overwrite
    of ``<path>/epoch=<id>``: a second write there would erase the first.
    """
    stream = raw_stream
    for i, (selects, target) in enumerate(routes):
        envelope, decoded = envelope_columns(target.schema)
        picked = selects & F.col("value").isNotNull()
        stream = stream.withColumn("envelope", F.when(picked, envelope))
        stream = stream.withColumn(f"_route{i}", F.when(picked, F.struct(*decoded)))
    routed = F.coalesce(reduce(or_, [selects for selects, _ in routes]), F.lit(False))
    bad = [(F.col(f"_route{i}.is_malformed"), "malformed") for i in range(len(routes))]
    kept = [(c, F.lit(why).alias("reason")) for c, why in [*bad, (~routed, "unroutable")]]

    def apply(batch: DataFrame, epoch_id: int) -> list[DataFrame]:
        if dead_letter_path is not None:
            rows = [batch.filter(c).select(*RECORD_SCHEMA.names, why) for c, why in kept]
            path = os.path.join(dead_letter_path, f"epoch={epoch_id}")
            reduce(DataFrame.unionByName, rows).write.mode("overwrite").parquet(path)
        changes = [
            batch.filter(F.col(f"_route{i}").isNotNull()).select(f"_route{i}.*")
            for i in range(len(routes))
        ]
        for decoded, (_, target) in zip(changes, routes):
            target.merge_epoch(decoded, epoch_id)
        return changes

    return stream.drop("envelope"), apply


def run_cdc_stream(
    spark: SparkSession,
    raw_stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    dead_letter_path: str | None = None,
    target=None,
):
    """Wire a raw Kafka-record stream into one snapshot target, which
    takes every record whatever its topic.

    ``available_now=True`` drains everything then stops (hermetic tests,
    backfills); ``False`` runs continuously with a 1 s trigger, matching
    the reference's poll cadence (consumer.py:55). ``target`` may be any
    object with a state ``schema`` and ``merge_epoch(changes, epoch_id)``
    (e.g. a wrapper that traces a ParquetSnapshotTarget); default is the
    events-derived table's ParquetSnapshotTarget at ``target_path``.
    """
    if target is None:
        target = ParquetSnapshotTarget(target_path)
    stream, body = cdc_epochs(raw_stream, [(F.lit(True), target)], dead_letter_path)
    return _start_foreach_batch(stream, body, checkpoint_path, available_now)


def _start_foreach_batch(stream: DataFrame, apply, checkpoint_path: str, available_now: bool):
    """Start ``stream`` with ``apply(batch_df, epoch_id)`` as its
    foreachBatch body. ``available_now=True`` drains what is there and
    stops; ``False`` runs continuously with a 1 s trigger."""
    writer = stream.writeStream.foreachBatch(apply).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def file_change_stream(
    spark: SparkSession, envelope_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Kafka-record stream (`RECORD_SCHEMA`) from Parquet files: the
    hermetic stand-in for the broker (sources.kafka.kafka_change_stream).

    `max_files_per_trigger` is the micro-batch sizing knob — the file-source
    analogue of Kafka's maxOffsetsPerTrigger. 1 maximizes per-epoch
    isolation (the replay/retry tests' shape); larger values amortize the
    per-batch fixed costs (plan, checkpoint commit, target version) over
    more rows — bench_stream.py drains one topic at several values of it
    to measure where that amortization stops paying."""
    return (
        spark.readStream.schema(RECORD_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(envelope_dir)
    )
