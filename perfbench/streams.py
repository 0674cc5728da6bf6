"""Change-stream workload cdc_update.

It drains a staged Debezium topic with `run_cdc_stream(...,
available_now=True)` at maxFilesPerTrigger=1 (one micro-batch per topic
file) into the default `ParquetSnapshotTarget`, closed-loop: the next drain
starts when the previous one has stopped. Every drain starts from an empty
target and checkpoint, and its final replica is compared with the DuckDB
oracle `operators.cdc.CDC_FINAL_ORACLE`.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.operators.cdc import CDC_FINAL_ORACLE
from debezium_cdc_kafka_spark.sources.cdc_events import derive_change_events
from debezium_cdc_kafka_spark.streaming.cdc_stream import (
    ParquetSnapshotTarget,
    file_change_stream,
    run_cdc_stream,
)

import datagen
from common import Bench, work_cpu_s
from tracing import job_metrics, median, percentile

DRAIN_TIMEOUT_S = 150
WARM_DRAINS = 2  # untimed drains before timing
DRAIN_S = 5.0  # nominal seconds per drain: --seconds / DRAIN_S drains are timed


@dataclass(frozen=True)
class StreamSpec:
    sf: float  # events = 1,000,000 x sf, keyed on user_id (15,000 x sf users)
    files: int  # topic files = micro-batches per drain


# about 80 events per key, 20 per key in each batch: the reduction collapses
# every batch to its keys and the replicated state stays small
SPEC = StreamSpec(0.01, 4)
SMOKE = StreamSpec(0.001, 3)


@dataclass
class Topic:
    dir: str
    records: int
    expected: list[tuple]  # oracle replica, sorted by id


def stage(b: Bench, spec: StreamSpec, i: int) -> Topic:
    """Generate the events, derive the change records with the engine's
    own source, and write them as `spec.files` topic files whose
    modification times give the file source its replay order."""
    src = b.path(f"events{i}")
    os.makedirs(src)
    pq.write_table(datagen.events(spec.sf, b.seed), os.path.join(src, "events.parquet"))
    records = derive_change_events(b.spark, src).toArrow().sort_by("offset")
    n = records.num_rows
    file_of = np.random.default_rng(b.seed).integers(0, spec.files, n)
    topic = b.path(f"topic{i}")
    os.makedirs(topic)
    t0 = time.time() - spec.files
    for f in range(spec.files):
        path = os.path.join(topic, f"part-{f:05d}.parquet")
        pq.write_table(records.filter(pa.array(file_of == f)), path)
        os.utime(path, (t0 + f, t0 + f))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{src}/events.parquet'")
    expected = sorted(con.execute(CDC_FINAL_ORACLE).fetchall())
    con.close()
    return Topic(topic, n, expected)


class TracedTarget:
    """A `ParquetSnapshotTarget` whose `read` and `commit` calls are timed.

    `merge_epoch` runs the wrapped target class's own `merge_epoch` with
    this object as the target, so the engine's merge code path is the one
    measured; the apply step's driver time is the merge span's self time.
    Per-batch counts (decoded, malformed, keys out) come from one extra
    aggregate job run under its own job group; its wall time is recorded
    so it can be taken out of the engine's addBatch duration.

    `merge_epoch` runs on the stream's callback thread, so its spans name
    the drain's span as their parent explicitly."""

    def __init__(self, inner: ParquetSnapshotTarget, b: Bench, parent: int):
        self._inner = inner
        self._b = b
        self._parent = parent
        self.batches: dict[int, dict] = {}

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def read(self, spark, before_version=None):
        with self._b.tracer.span("cdc_stream.read"):
            return self._inner.read(spark, before_version)

    def commit(self, df, version: int) -> None:
        with self._b.tracer.span("cdc_stream.commit"):
            self._inner.commit(df, version)
        vdir = os.path.join(self._inner.path, f"v={version}")
        files = [os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")]
        self.batches[version].update(
            rows_written=sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            bytes_written=sum(os.path.getsize(f) for f in files),
        )

    def _count(self, changes, epoch_id: int) -> None:
        sc = changes.sparkSession.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"perfbench-count-{self._b.tracer.run_id}", "benchmark counts")
        t0 = time.perf_counter()
        try:
            row = changes.agg(
                F.count(F.lit(1)).alias("decoded"),
                F.sum(F.col("is_malformed").cast("long")).alias("malformed"),
                F.count_distinct(F.when(~F.col("is_malformed"), F.col("id"))).alias("keys"),
            ).first()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)
        self.batches[epoch_id] = {
            "decoded": row["decoded"],
            "malformed": row["malformed"] or 0,
            "keys_out": row["keys"],
            "count_ms": (time.perf_counter() - t0) * 1000,
        }

    def merge_epoch(self, changes, epoch_id: int, after_cols=("value", "ts")) -> None:
        self._count(changes, epoch_id)
        tracer = self._b.tracer
        with tracer.span("cdc_stream.merge_epoch", parent=self._parent, epoch=epoch_id) as s:
            type(self._inner).merge_epoch(self, changes, epoch_id, after_cols)
        children = [x for x in tracer.spans if x["parent"] == s["id"]]
        self.batches[epoch_id]["apply_build_ms"] = 1000 * (
            s["dur_s"] - sum(x["dur_s"] for x in children)
        )


@dataclass
class Drain:
    wall_s: float
    cpu_s: float  # see `work_cpu_s`
    batches: list[dict]  # progress event of each micro-batch that read input
    run_id: str  # the stream run's id, which is also its Spark job group
    target: TracedTarget | None


def _start(b: Bench, topic: Topic, name: str, target=None):
    """Start a drain of the whole topic into a fresh target and checkpoint."""
    return run_cdc_stream(b.spark, file_change_stream(b.spark, topic.dir),
                          b.path(name, "target"), b.path(name, "ckpt"), target=target)


def _await(q, name: str) -> None:
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"drain {name} did not finish in {DRAIN_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(f"drain {name} failed: {q.exception()}")


def _checked(b: Bench, topic: Topic, name: str, q, wall: float, cpu: float,
             target=None) -> Drain:
    """The finished drain, after checking it consumed every staged record
    and left a replica equal to the oracle's."""
    d = Drain(wall, cpu, b.progress.batches(str(q.id)), str(q.runId), target)
    b.result.attempted += len(d.batches)
    consumed = sum(p["numInputRows"] for p in d.batches)
    # a traced batch is read twice (its count job re-reads the source)
    if consumed != topic.records * (1 if target is None else 2):
        b.result.mismatch(f"{name}: consumed {consumed} of {topic.records} records")
    view = ParquetSnapshotTarget(b.path(name, "target")).read_view(b.spark)
    got = view.select("id", F.round("value", 2).alias("value"), "ts").toArrow()
    rows = sorted(zip(*(got.column(c).to_pylist() for c in ("id", "value", "ts"))))
    if rows != topic.expected:
        diff = next((x for x in zip(rows, topic.expected) if x[0] != x[1]), None)
        b.result.mismatch(f"{name}: replica has {len(rows)} rows, oracle "
                          f"{len(topic.expected)}; first difference {diff}")
    return d


def drain(b: Bench, topic: Topic, name: str, traced: bool) -> Drain:
    """One closed-loop drain, timed from its start until it has stopped."""
    with b.tracer.span("cdc_stream.drain", drain=name) if traced else nullcontext() as s:
        target = (TracedTarget(ParquetSnapshotTarget(b.path(name, "target")), b, s["id"])
                  if traced else None)
        c0, t0 = work_cpu_s(), time.perf_counter()
        q = _start(b, topic, name, target)
        _await(q, name)
        wall, cpu = time.perf_counter() - t0, work_cpu_s() - c0
    return _checked(b, topic, name, q, wall, cpu, target)


def _drains(b: Bench, topic: Topic, label: str, seconds: float, traced: bool) -> list[Drain]:
    """A fixed number of drains for `seconds`, so that a slow machine does
    not get fewer, colder drains than a fast one."""
    n = max(1, round(seconds / DRAIN_S))
    return [drain(b, topic, f"{label}{i}", traced) for i in range(n)]


def _events_per_s(topic: Topic, drains: list[Drain]) -> float:
    return median([topic.records / d.wall_s for d in drains])


def _stored_bytes(target_path: str) -> int:
    """Bytes of the target's newest version: the replica a reader sees."""
    target = ParquetSnapshotTarget(target_path)
    vdir = os.path.join(target_path, f"v={target.versions()[-1]}")
    return sum(os.path.getsize(os.path.join(vdir, f)) for f in os.listdir(vdir))


def run(b: Bench) -> None:
    spec = SMOKE if b.smoke else SPEC
    r = b.result
    topic = b.set_up(lambda i: stage(b, spec, i))
    r.note(f"topic: {topic.records} records in {spec.files} files, "
           f"{len(topic.expected)} rows in the final replica")

    for i in range(WARM_DRAINS):
        r.note(f"warm-up drain {i}: {drain(b, topic, f'warm{i}', traced=False).wall_s:.2f} s")

    span = b.seconds / 2 if b.trace else b.seconds
    timed = _drains(b, topic, "timed", span, traced=False)
    cpu = [1000 * d.cpu_s / topic.records for d in timed]
    r.put("cpu_ms_per_op", median(cpu), "ms")
    r.note(f"cpu_ms_per_event {median(cpu):.4f} ms (median of {len(timed)} drains: "
           + ", ".join(f"{c:.4f}" for c in cpu) + ")")
    eps = _events_per_s(topic, timed)
    r.note(f"events_per_s {eps:.1f} events/s (median of {len(timed)} drains: "
           + ", ".join(f"{topic.records / d.wall_s:.0f}" for d in timed) + ")")
    commits = [float(p["durationMs"]["triggerExecution"]) for d in timed for p in d.batches]
    r.note(f"commit_p50_ms {percentile(commits, 50):.1f} ms, commit_p90_ms "
           f"{percentile(commits, 90):.1f} ms (n={len(commits)} micro-batches)")
    stored = _stored_bytes(b.path(f"timed{len(timed) - 1}", "target"))
    r.note(f"stored_bytes_per_event {stored / topic.records:.3f} B/event")

    if b.trace:
        traced = _drains(b, topic, "traced", span, traced=True)
        _layers(b, topic, traced, eps)
        _single_thread_reference(b, topic)


def _layers(b: Bench, topic: Topic, traced: list[Drain], untraced_eps: float) -> None:
    r, n = b.result, len(traced)
    progress = [p for d in traced for p in d.batches]
    per_batch = [t for d in traced for t in d.target.batches.values()]
    count_ms = {(d.run_id, e): t["count_ms"] for d in traced for e, t in d.target.batches.items()}
    dms = [p["durationMs"] for p in progress]
    r.put("engine.source_ms", median([x["latestOffset"] + x["getBatch"] for x in dms]), "ms")
    r.put("engine.planning_ms", median([x["queryPlanning"] for x in dms]), "ms")
    r.put("engine.checkpoint_ms", median([x["walCommit"] + x["commitOffsets"] for x in dms]), "ms")
    r.put("engine.add_batch_ms", median([
        p["durationMs"]["addBatch"] - count_ms[(p["runId"], p["batchId"])] for p in progress
    ]), "ms")
    r.put("cdc_stream.read_ms", 1000 * median(b.tracer.durations("cdc_stream.read")), "ms")
    r.put("cdc_stream.commit_ms", 1000 * median(b.tracer.durations("cdc_stream.commit")), "ms")
    total = {k: sum(t[k] for t in per_batch) / n
             for k in ("rows_written", "bytes_written", "keys_out", "decoded", "malformed")}
    r.put("cdc_stream.rows_written", total["rows_written"], "count")
    r.put("cdc_stream.bytes_written", total["bytes_written"], "B")
    r.put("cdc_stream.write_amplification", total["rows_written"] / total["keys_out"], "ratio")
    r.put("cdc_stream.stored_bytes_per_event", median([
        _stored_bytes(b.path(f"traced{i}", "target")) / topic.records for i in range(n)
    ]), "B/event")
    r.put("cdc.apply_build_ms", median([t["apply_build_ms"] for t in per_batch]), "ms")
    r.put("cdc.decoded_rows", total["decoded"], "count")
    r.put("cdc.malformed_rows", total["malformed"], "count")
    r.put("cdc.reduce_ratio", total["keys_out"] / (total["decoded"] - total["malformed"]), "ratio")
    jobs = [job_metrics(b.spark, d.run_id) for d in traced]
    for key, name, unit in (("jobs", "jobs", "count"), ("tasks", "tasks", "count"),
                            ("shuffle_bytes", "shuffle_bytes", "B"), ("run_ms", "run_ms", "ms")):
        r.put(f"exec.{name}_per_batch", sum(j[key] for j in jobs) / len(progress), unit)
    traced_eps = _events_per_s(topic, traced)
    r.put("trace.overhead_pct", 100 * (untraced_eps - traced_eps) / untraced_eps, "%")
    r.note(f"tracing overhead: traced - untraced events_per_s = "
           f"{traced_eps - untraced_eps:.1f} events/s")
    _expect_counts(b, topic, total["decoded"], total["malformed"])


def _expect_counts(b: Bench, topic: Topic, decoded: float, malformed: float) -> None:
    """The traced counts must equal what the oracle's rules give for the
    staged records: tombstones are not decoded, corrupt bodies are
    flagged malformed."""
    con = duckdb.connect()
    want = con.execute(
        "SELECT count(value), count(*) FILTER (WHERE value LIKE '%<corrupt>%') "
        f"FROM '{topic.dir}/*.parquet'"
    ).fetchone()
    con.close()
    if (decoded, malformed) != tuple(float(x) for x in want):
        b.result.mismatch(f"traced counts decoded={decoded} malformed={malformed}, oracle {want}")


def _single_thread_reference(b: Bench, topic: Topic) -> None:
    """One drain on local[1], recorded as a reference only."""
    b.new_session(cpus="1")
    d = drain(b, topic, "single", traced=False)
    b.result.note(f"reference: local[1] drain {d.wall_s:.2f} s, "
                  f"{topic.records / d.wall_s:.1f} events/s over {len(d.batches)} batches")
