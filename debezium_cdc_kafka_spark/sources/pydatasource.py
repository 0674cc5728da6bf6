"""Spark-4 Python DataSource: the CDC workload generator as a NATIVE source.

The reference's producer is a standalone process writing envelopes to a
broker (reference app/utils/generate.py + producer). workload.py maps it
onto DataFrame algebra; this module goes one step further and plugs the
same generator into Spark's pluggable-source seam (`pyspark.sql.
datasource`, new in Spark 4): after ``spark.dataSource.register(
DebeziumWorkloadDataSource)`` the stream is just

    spark.read.format("debezium_workload").option("rows_per_partition", 500)
    spark.readStream.format("debezium_workload")...

and emits the engine's Kafka record (`cdc_events.RECORD_SCHEMA`), decodable
by operators.cdc.decode_envelope, with `workload.person_columns`' person per id.

The source reproduces the broker contract the CDC pipeline depends on:

- **Keyed partitioning**: a key lives on exactly one partition for its
  lifetime (Debezium's PK-keyed topic guarantee — what makes per-key
  offset order total, operators/cdc.py:106).
- **Dense per-partition offsets** with the stream reader speaking Spark's
  offset-range protocol (initialOffset/latestOffset/partitions/commit) —
  the same shape a Kafka source reports, so the at-least-once
  checkpoint/replay semantics are exercised end-to-end in pure Python.
- **Anti-double-delete** (generate.py:133–134): a delete immediately
  following a delete for the same key is rewritten to an insert —
  applied serially per partition exactly like the reference's serial
  generator, the behavior assign_ops() re-expresses per-key.

Each partition generates its rows independently from (partition, offset)
hashes — no driver state, no cross-partition coordination; scale by
raising n_partitions.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .cdc_events import RECORD_SCHEMA, TOPIC
from .workload import FIRST_NAMES, LAST_NAMES

_EPOCH = 1_700_000_000  # fixed base so timestamps are deterministic


def _h(*parts) -> int:
    """60-bit md5-derived hash of the joined parts (pure-Python analogue of
    functions/hashing.py's md5_long — deterministic everywhere)."""
    raw = ":".join(str(p) for p in parts).encode()
    return int(hashlib.md5(raw).hexdigest()[:15], 16)


def _person(partition: int, n_partitions: int, offset: int, n_people: int) -> int:
    """Key choice that respects keyed partitioning: partition p only ever
    emits person_ids ≡ p (mod n_partitions)."""
    per = max(1, n_people // n_partitions)
    return (_h("who", partition, offset) % per) * n_partitions + partition


def _row(partition: int, n_partitions: int, offset: int, n_people: int,
         last_op: dict) -> tuple:
    person = _person(partition, n_partitions, offset, n_people)
    op = "cud"[_h("op", partition, offset) % 3]
    if op == "d" and last_op.get(person) == "d":
        op = "c"  # the reference's anti-double-delete rewrite
    last_op[person] = op
    first = FIRST_NAMES[_h("f", person) % len(FIRST_NAMES)]
    last = LAST_NAMES[_h("l", person) % len(LAST_NAMES)]
    after = (
        {
            "id": person,
            "first_name": first,
            "last_name": last,
            "email": f"{first.lower()}.{last.lower()}@example.com",
        }
        if op in ("c", "u")
        else None
    )
    before = {"id": person} if op == "d" else None
    seq = offset * n_partitions + partition
    value = json.dumps(
        {"payload": {"op": op, "before": before, "after": after, "ts_ms": seq}},
        separators=(",", ":"),
    )
    ts = datetime.fromtimestamp(_EPOCH + seq, tz=timezone.utc).replace(tzinfo=None)
    return (str(person), value, TOPIC, partition, offset, ts)


@dataclass
class _RangePartition(InputPartition):
    partition: int
    start: int
    end: int


class _Opts:
    def __init__(self, options):
        self.n_partitions = int(options.get("n_partitions", "2"))
        self.rows_per_partition = int(options.get("rows_per_partition", "100"))
        self.n_people = int(options.get("n_people", "50"))
        self.batch_rows = int(options.get("batch_rows", "25"))


class _WorkloadBatchReader(DataSourceReader):
    def __init__(self, opts: _Opts):
        self.opts = opts

    def partitions(self):
        o = self.opts
        return [
            _RangePartition(p, 0, o.rows_per_partition)
            for p in range(o.n_partitions)
        ]

    def read(self, part: _RangePartition):
        o = self.opts
        last_op: dict = {}
        for off in range(part.start, part.end):
            yield _row(part.partition, o.n_partitions, off, o.n_people, last_op)


class _WorkloadStreamReader(DataSourceStreamReader):
    """Offset-range protocol over the same deterministic generator: each
    micro-batch advances every partition by batch_rows until
    rows_per_partition is exhausted (a bounded stream, so availableNow
    drains it — mirroring a topic with a fixed backlog)."""

    def __init__(self, opts: _Opts):
        self.opts = opts

    def initialOffset(self) -> dict:
        return {str(p): 0 for p in range(self.opts.n_partitions)}

    def latestOffset(self) -> dict:
        return {
            str(p): self.opts.rows_per_partition
            for p in range(self.opts.n_partitions)
        }

    def partitions(self, start: dict, end: dict):
        return [
            _RangePartition(int(p), start.get(p, 0), end[p])
            for p in sorted(end, key=int)
            if end[p] > start.get(p, 0)
        ]

    def read(self, part: _RangePartition):
        o = self.opts
        # anti-double-delete state is rebuilt from offset 0 so a batch
        # boundary can't change the emitted ops (replay-stable)
        last_op: dict = {}
        for off in range(0, part.end):
            row = _row(part.partition, o.n_partitions, off, o.n_people, last_op)
            if off >= part.start:
                yield row

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing external to ack


class DebeziumWorkloadDataSource(DataSource):
    """``spark.dataSource.register(DebeziumWorkloadDataSource)`` then read
    format ``debezium_workload`` (batch or stream)."""

    @classmethod
    def name(cls) -> str:
        return "debezium_workload"

    def schema(self) -> StructType:
        return RECORD_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _WorkloadBatchReader(_Opts(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _WorkloadStreamReader(_Opts(self.options))
