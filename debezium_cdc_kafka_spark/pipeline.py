"""End-to-end pipeline runner — the reference's `app/main.py`, Spark-shaped.

The reference spawns two OS processes coordinated through Kafka+Postgres
(main.py:8–31: init target → consumer process + generator process → join).
Here the same topology is ONE SparkSession running two concurrent
Structured Streaming queries coordinated through a spooled envelope
directory (the "topic") and a snapshot target (the "replica"):

  init_target_table (DDL, idempotent)
       │
  generator query: workload envelopes ──▶ <workdir>/topic/   (producer)
  consumer  query: <workdir>/topic/ ──▶ decode → merge → <workdir>/target
       │
  awaitTermination / stop → final replica state

`run_pipeline` is hermetic (batch generator + availableNow consumer) so
tests and demos run without a broker; swap `file_change_stream` for
`sources.kafka.kafka_change_stream` and the generator for
`workload_rate_stream` to run against a real Kafka topic — nothing else
changes: the batch and live generators are one column expression
(`sources.workload.customers_records`) over `spark.range` or the `rate`
source, so they publish the same customers record for the same ``seq``
through the one encoder (`sources.cdc_events.envelope_json`), and the
consumer decodes them under the envelope derived from the one
declaration of the table, `sources.workload.CUSTOMERS_STATE_SCHEMA`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .operators.cdc import decode_envelope, materialize, state_view
from .sources.workload import CUSTOMERS_STATE_SCHEMA, workload_change_events
from .sql_surface import init_target_table
from .streaming.cdc_stream import ParquetSnapshotTarget, file_change_stream, run_cdc_stream


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    n_people: int = 100,
    n_ops: int = 2000,
    n_topic_files: int = 5,
) -> DataFrame:
    """Run the full replicate loop hermetically; returns the replica view.

    The generator writes the topic spool in `n_topic_files` chunks so the
    consumer sees multiple micro-batches (maxFilesPerTrigger=1), exactly
    like polling a live topic."""
    topic_dir = os.path.join(workdir, "topic")
    target_dir = os.path.join(workdir, "target")
    ckpt_dir = os.path.join(workdir, "checkpoint")

    init_target_table(spark)  # idempotent DDL, ≙ main.py:14

    # generator (≙ python -m app.utils.generate)
    workload_change_events(spark, n_people, n_ops).repartition(n_topic_files).write.mode(
        "overwrite"
    ).parquet(topic_dir)

    # consumer (≙ python -m app.consumer.consumer)
    target = ParquetSnapshotTarget(target_dir, schema=CUSTOMERS_STATE_SCHEMA)
    query = run_cdc_stream(
        spark, file_change_stream(spark, topic_dir), target_dir, ckpt_dir, target=target
    )
    query.awaitTermination(300)

    return target.read_view(spark)


def expected_final_state(spark: SparkSession, n_people: int = 100, n_ops: int = 2000) -> DataFrame:
    """One-shot batch replay of the same workload (the correctness oracle
    for run_pipeline)."""
    raw = workload_change_events(spark, n_people, n_ops)
    return state_view(materialize(decode_envelope(raw, CUSTOMERS_STATE_SCHEMA)))
