"""State shared by the workloads: the session, set-up timing, the result."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

from debezium_cdc_kafka_spark.session import get_spark, release_persisted

from tracing import ProgressCollector, Tracer, median

SETUPS = 3  # set-ups per run; setup_s is their median
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _comm(path: str) -> str:
    with open(path) as fh:
        return fh.read().strip()


def work_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it
    (the JVM and its Python workers), less the JVM's JIT compiler threads:
    the compute the workload costs, without the compiler's warm-up work.
    Read from /proc; CPU time leaves out time the machine gave to others."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                stats[int(pid)] = _stat(f"/proc/{pid}/stat")
            except OSError:
                continue  # the process ended while /proc was read
    # fields after the name: [1] ppid, [11:15] utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
            ticks -= _compiler_ticks(pid)
        todo.extend(children.get(pid, []))
    return ticks * _TICK_S


def _compiler_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            if " CompilerThre" in _comm(f"/proc/{pid}/task/{tid}/comm"):
                ticks += sum(int(x) for x in _stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue
    return ticks


@dataclass
class Result:
    """What one run reports. `metrics` maps name -> (value, unit)."""

    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def note(self, text: str) -> None:
        self.notes.append(text)

    def mismatch(self, what: str) -> None:
        self.failed += 1
        self.mismatches.append(what)


class Bench:
    """One run: owns the SparkSession, the work directory and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 smoke: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke
        self.work = work
        self.spark = None
        self.progress = ProgressCollector()
        self.tracer = Tracer(run_id=f"{workload}-s{seed}-{os.getpid()}")
        self.result = Result()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def new_session(self, cpus: str | None = None):
        """Stop the current session (if any) and start a fresh one with the
        progress listener attached."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=cpus)
        self.spark.streams.addListener(self.progress)
        return self.spark

    def set_up(self, stage):
        """Run `SETUPS` set-ups (fresh session + `stage(i)`), timing each;
        returns the last set-up's staged inputs. The first one also pays
        the JVM launch, so the median is a warm set-up."""
        staged, times = None, []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            self.new_session()
            staged = stage(i)
            times.append(time.perf_counter() - t0)
        self.result.put("setup_s", median(times), "s")
        self.result.note("set-ups: " + ", ".join(f"{t:.2f}" for t in times)
                         + " s (first includes JVM launch)")
        return staged

    def release(self) -> None:
        release_persisted(self.spark)

    def close(self) -> None:
        """Stop the session, then the JVM it ran in, and wait for it."""
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
