"""Kafka source builder — the reference consumer's config, Spark-shaped.

Maps the confluent-kafka Consumer configuration (reference:
app/consumer/consumer.py:28–49) onto `spark.readStream.format("kafka")`
options:

- subscribe + ``auto.offset.reset: earliest``  → ``subscribe`` +
  ``startingOffsets=earliest``                       (S1)
- manual ``assign([TopicPartition(t, p, off)])``    → per-partition JSON
  ``startingOffsets={"t": {"0": off, ...}}``         (S2, replay-from-offset)
- ``enable.auto.commit: False`` + commit-after-apply → checkpointLocation
  (offsets commit only after the foreachBatch apply) (S4)

No broker ships in this environment, so `kafka_change_stream` only builds
the reader; tests cover the option mapping and its normalisation
(`cdc_events.kafka_record`, run over a frame shaped like the source's
output), and `streaming.cdc_stream.file_change_stream` stands in as the
transport. Both deliver `cdc_events.RECORD_SCHEMA`.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .cdc_events import kafka_record


def kafka_options(
    bootstrap_servers: str,
    topic: str,
    starting_offset: int | None = None,
    num_partitions: int = 1,
) -> dict[str, str]:
    """Reference conf → Spark Kafka source options."""
    if starting_offset is None:
        starting = "earliest"
    else:
        # consumer.py:41–46 assigns EVERY partition at the same fixed offset
        starting = json.dumps({topic: {str(p): starting_offset for p in range(num_partitions)}})
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting,
        # at-least-once: no source-side commit; checkpoint is the commit
        "failOnDataLoss": "false",
    }


def kafka_change_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offset: int | None = None,
    num_partitions: int = 1,
) -> DataFrame:
    """readStream over Kafka, normalised to the engine's Kafka record."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(bootstrap_servers, topic, starting_offset, num_partitions).items():
        reader = reader.option(k, v)
    return kafka_record(reader.load())
