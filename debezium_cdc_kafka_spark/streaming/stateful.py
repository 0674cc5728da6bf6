"""Per-key streaming state kept in Spark's own stateful operators.

The reference's only state is the Kafka consumer offset. These streams add
per-key state that outlives a micro-batch, and both are built-in
Structured Streaming aggregates, so the state lives in the JVM's versioned
state store and no Python worker runs per batch:

- `running_user_stats`: per-user running (count, sum, max) as an
  update-mode ``groupBy``, one updated row per key per batch; the same
  numbers as the batch ``groupBy`` over every event seen so far, NaN and
  null included.
- `session_stream`: 30-minute gap sessions as a watermarked
  ``session_window`` in append mode; a session row appears once, when the
  watermark passes its end. The row is `windows.session_row_aggs`, the
  batch `q_sessionize_30m`'s own aggregates.

`strict_replay.py` is the one Python state machine left, because the
reference's no-PK multiset has no built-in operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import session_row_aggs


def running_user_stats(events_stream: DataFrame) -> DataFrame:
    """Per-user running stats over an unbounded stream (update mode)."""
    return events_stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("value").alias("max_value"),
    )


def session_stream(events_stream: DataFrame) -> DataFrame:
    """events stream → closed-session stream (append mode). The 0 s
    watermark closes a session as soon as the stream's event time passes
    its last event + 30 minutes; an event older than the watermark when it
    arrives is dropped and counted in the progress's
    ``numRowsDroppedByWatermark``."""
    return (
        events_stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(*session_row_aggs())
        .select("user_id", "session_start", "n_events", "duration_sec", "total_value")
    )
