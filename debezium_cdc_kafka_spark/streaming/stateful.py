"""Per-key streaming state kept in Spark's own stateful operators.

The reference's only state is the Kafka consumer offset. These streams add
per-key state that outlives a micro-batch, and each is a built-in
Structured Streaming aggregate, so the state lives in the JVM's versioned
state store and no Python worker runs per batch:

- `running_user_stats`: per-user running (count, sum, max) as an
  update-mode ``groupBy``, one updated row per key per batch; the same
  numbers as the batch ``groupBy`` over every event seen so far, NaN and
  null included.
- `session_stream`: 30-minute gap sessions as a watermarked
  ``session_window`` in append mode; a session row appears once, when the
  watermark passes its end. The row is `windows.session_row_aggs`, the
  batch `q_sessionize_30m`'s own aggregates.
- `strict_replay_stream`: the reference's no-PK replay (duplicate
  inserts, no-op updates/deletes of an absent key) as an update-mode
  ``groupBy``: `cdc.strict_replay`, the aggregate the batch
  `cdc_strict_replay_state` runs, so stream and batch share one rule.
  Its state holds every insert of a key, also those a later delete
  covers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.cdc import strict_replay
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


def strict_replay_stream(decoded: DataFrame) -> DataFrame:
    """Well-formed decoded change stream → per-key strict multiset
    emissions (update mode): one (id, value, n_rows, version) row per
    value of each key a batch touched, all tagged with the key's new
    ``version``. A key whose multiset became empty emits one row with
    null ``value`` and ``n_rows``, so a max-version reader sees the
    deletion."""
    return strict_replay(decoded).select(
        "id", F.explode_outer("multiset").alias("m"), "version"
    ).select("id", "m.value", "m.n_rows", "version")


def latest_multiset(emissions: DataFrame) -> DataFrame:
    """Memory-sink emissions → current multiset (max version per key)."""
    w = W.partitionBy("id")
    return (
        emissions.withColumn("_maxv", F.max("version").over(w))
        .filter((F.col("version") == F.col("_maxv")) & F.col("n_rows").isNotNull())
        .select("id", "value", "n_rows")
    )
