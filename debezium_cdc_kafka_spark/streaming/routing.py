"""Multi-table CDC routing: one change stream, N replicated tables.

The reference CAPTURES a whole schema (`schema.include.list: "inventory"`,
reference: register-postgres.json:12) — Debezium emits one topic per table
(`{topic.prefix}.{schema}.{table}`, register-postgres.json:11) — but its
consumer subscribes to a single hard-coded topic and its apply path
hard-codes the `customers` DDL/DML (app/consumer/consumer.py:92,
app/utils/postgres.py:100–107, 136, 174–177). This module completes that
design: subscribe once with a topic *pattern*, split each micro-batch by
the table encoded in the topic name, and merge every table into its own
versioned snapshot target. A route is ``{table: ParquetSnapshotTarget}``:
each target's state schema is that table's one declaration, and its
records decode under the envelope derived from it — configuration, not
code.

Scale shape: the batch is read once; each route is a filter + the standard
decode→reduce→merge plan, all narrow until the per-table key shuffle. The
routing column derives from `topic` (already in every Kafka record), so
fan-out adds no extra scan of the stream. Unroutable topics (a table added
to the capture list before a route is configured) are quarantined with
provenance rather than dropped — same policy and same per-epoch
``epoch=<id>`` layout as the malformed dead-letter sink (consumer.py:78–79
only logs; we keep the data), so a replayed epoch quarantines them once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import decode_envelope
from .cdc_stream import ParquetSnapshotTarget, _quarantine, _start_foreach_batch


def table_name(topic: Column) -> Column:
    """`{prefix}.{schema}.{table}` → `table` (Debezium's topic contract,
    reference: register-postgres.json:11–12)."""
    return F.substring_index(topic, ".", -1)


def route_batch(
    batch_df: DataFrame,
    epoch_id: int,
    routes: dict[str, ParquetSnapshotTarget],
    unknown_table_path: str | None = None,
) -> None:
    """Apply one micro-batch of raw Kafka records to every routed table.
    ``routes`` maps a table name to its snapshot target; each table's
    records decode under the envelope derived from its target's schema."""
    tagged = batch_df.withColumn("_table", table_name(F.col("topic")))
    if unknown_table_path is not None:
        _quarantine(
            tagged.filter(~F.col("_table").isin(*routes)).drop("_table"),
            unknown_table_path,
            epoch_id,
        )
    for tbl, target in routes.items():
        sub = tagged.filter(F.col("_table") == tbl).drop("_table")
        target.merge_epoch(decode_envelope(sub, target.schema), epoch_id)


def run_routed_stream(
    spark: SparkSession,
    raw_stream: DataFrame,
    routes: dict[str, ParquetSnapshotTarget],
    checkpoint_path: str,
    available_now: bool = True,
    unknown_table_path: str | None = None,
):
    """One subscription, N tables: the streaming twin of `route_batch`.

    With a real broker the source is
    ``readStream.format("kafka").option("subscribePattern",
    "dbserver1\\.inventory\\..*")`` (sources/kafka.py); tests feed the
    same record shape from files. Checkpointing is shared — one stream,
    one offset log — so all tables advance atomically, mirroring the
    reference's single consumer group (consumer.py:30)."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        route_batch(batch_df, epoch_id, routes, unknown_table_path)

    return _start_foreach_batch(raw_stream, _apply, checkpoint_path, available_now)
