"""CDC replication benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload cdc_update --seed 1 --seconds 10 --trace 0

BENCHMARK.json at the repository root lists the workloads and metrics.

Workloads (see README.md beside this file for why each exists):

- cdc_update: Debezium change stream keyed on user_id (about 80 events per
  key), drained into the snapshot target one file per micro-batch.
- queries_modules: ten `bench.HEADLINE` queries, one or two per operator
  module, run serially.

All inputs are generated from `--seed` inside the checkout. `--trace 0`
measures the end-to-end metrics; `--trace 1` also runs traced passes and
reports the per-layer metrics and the tracing overhead, and writes its
spans to `.perfbench/out/`. Lines starting with `#` are a human-readable
record of the run; the last line is the JSON result. The exit code is 1
when any output differs from its DuckDB oracle.

Resources are pinned here, not in the engine: local[<cpus available>] and
a 2 GB driver heap (the engine's 16 GB default pre-touches most of a
16 GB machine's memory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from metrics import E2E, LAYERS, QUERY_LAYERS, STREAM_LAYERS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"

WORKLOADS = ("cdc_update", "queries_modules")


def _layers_of(workload: str) -> set[str]:
    own = QUERY_LAYERS if workload == "queries_modules" else STREAM_LAYERS
    return set(own) | {"trace.overhead_pct"}


def _pin_environment(work: str) -> dict:
    """Resources and scratch locations for the engine, set before Spark
    starts; returns the settings recorded with the result."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # a fixed set of JIT compiler threads, so that `common.work_cpu_s`
        # can leave their CPU time out: none exits with its time uncounted
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(1, ROOT)
    return {"cpus": int(cpus), "driver_mem": DRIVER_MEM}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001), for checking the benchmark itself")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "debezium_cdc_kafka_spark")):
        print("the engine package is not beside perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    config = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "smoke": args.smoke, **_pin_environment(work)}

    from common import Bench  # imports the engine, so after the environment is set

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke, work)
    try:
        if args.workload == "queries_modules":
            import queries

            config["sf"] = queries.SMOKE_SF if args.smoke else queries.SF
            queries.run(b)
        else:
            import streams

            spec = streams.SMOKE if args.smoke else streams.SPEC
            config.update(sf=spec.sf, files=spec.files)
            streams.run(b)
        if args.trace:
            b.tracer.write(os.path.join(out_dir, f"{b.tracer.run_id}.jsonl"),
                           {"config": config, "notes": b.result.notes,
                            "metrics": b.result.metrics})
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)
    return _report(b.result, config, args)


def _report(r, config: dict, args) -> int:
    metrics = {}
    correct = not r.failed
    for name, unit in (LAYERS if args.trace else E2E).items():
        if name in r.metrics:
            value, got_unit = r.metrics[name]
            if got_unit != unit:
                raise ValueError(f"{name} measured in {got_unit}, declared {unit}")
        elif not correct:
            continue  # a failed run reports what it measured before failing
        elif args.trace and name not in _layers_of(args.workload):
            value = 0.0  # this workload makes no call into that layer
        else:
            raise ValueError(f"{args.workload} did not measure {name}")
        metrics[name] = {"value": value, "unit": unit}
    print("# config " + json.dumps(config))
    for line in r.notes:
        print("# " + line)
    rate = r.failed / max(1, r.attempted)
    print(f"# error_rate {rate:.6f} ({r.failed} failed of {r.attempted} attempted)")
    for m in r.mismatches:
        print("# MISMATCH " + m)
    print(json.dumps({"correct": correct, "attempted": r.attempted, "failed": r.failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
