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

Each epoch runs `cdc_stream.cdc_epochs` with one route per table: a
filter on the table named by `topic` (already in every Kafka record) +
the standard decode→reduce→merge plan, narrow until the per-table key
shuffle. Nothing is dropped silently: with a ``dead_letter_path``, a
routed table's malformed records and the records of unroutable topics
(a table added to the capture list before a route is configured) are
quarantined whole with their ``reason`` (consumer.py:78–79 only logs),
once per epoch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .cdc_stream import ParquetSnapshotTarget, _start_foreach_batch, cdc_epochs


def table_name(topic: Column) -> Column:
    """`{prefix}.{schema}.{table}` → `table` (Debezium's topic contract,
    reference: register-postgres.json:11–12)."""
    return F.substring_index(topic, ".", -1)


def run_routed_stream(
    spark: SparkSession,
    raw_stream: DataFrame,
    routes: dict[str, ParquetSnapshotTarget],
    checkpoint_path: str,
    available_now: bool = True,
    dead_letter_path: str | None = None,
):
    """One subscription, N tables. ``routes`` maps a table name to its
    snapshot target; a record goes to the route its topic's table names.

    With a real broker the source is
    ``readStream.format("kafka").option("subscribePattern",
    "dbserver1\\.inventory\\..*")`` (sources/kafka.py); tests feed the
    same record shape from files. Checkpointing is shared — one stream,
    one offset log — so all tables advance atomically, mirroring the
    reference's single consumer group (consumer.py:30)."""
    table = table_name(F.col("topic"))
    by_table = [(table == name, target) for name, target in routes.items()]
    stream, body = cdc_epochs(raw_stream, by_table, dead_letter_path)
    return _start_foreach_batch(stream, body, checkpoint_path, available_now)
