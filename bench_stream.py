"""CDC streaming throughput + recovery benchmark (VERDICT r7 item 2).

The reference's entire identity is a poll-one-message-at-a-time consumer
loop (reference app/consumer/consumer.py:55-75) whose measured ceiling is
~1 msg/s (BASELINE.md: a 0.2 ops/s demo; the loop sleeps and applies one
SQL statement per message). Our engine's equivalent path —
file-transport change stream → decode_envelope → foreachBatch MERGE into
a versioned snapshot target — is correctness-pinned by
tests/test_cdc.py, test_strict_replay_stream.py and test_rate_compaction
but had no measured events/s until this harness.

What it measures, per (batch-size config × rep):

- sustained drain throughput: wall time for an availableNow run over N
  staged envelope files (maxFilesPerTrigger=1 → N micro-batches),
  events/s = decoded records / wall.
- per-batch latency: p50/p95 of triggerExecution over the data-carrying
  micro-batches (from the query's own progress telemetry).
- cold-restart catch-up: stop, stage `delta_frac` more files, start a
  NEW query from the same checkpoint, wall time until the delta is
  drained (includes checkpoint recovery + source re-listing — the
  crash-recovery number).

Prints ONE BENCH-style JSON line. Run: python bench_stream.py
[--reps 3] [--sf DIR]. The driver does not invoke this file; its output
is committed as artifacts_r8/bench_stream.json and summarized in
SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from debezium_cdc_kafka_spark.session import get_spark
from debezium_cdc_kafka_spark.sources.cdc_events import derive_change_events
from debezium_cdc_kafka_spark.streaming.bucketed import BucketedSnapshotTarget
from debezium_cdc_kafka_spark.streaming.cdc_stream import (
    ParquetSnapshotTarget,
    file_change_stream,
    run_cdc_stream,
)

# batch-size sweep: files → micro-batches (maxFilesPerTrigger=1), so the
# per-batch event count is total/files. 32 is the canonical config the
# headline number comes from; 8 shows the large-batch end of the curve.
FILE_CONFIGS = (8, 32)
CANONICAL_FILES = 32
DELTA_FRAC = 0.25  # fraction of files arriving after the "crash"


def _progress_batches(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        out.append(d)
    return out


def _drain(spark, env_dir: str, target_path: str, ckpt: str) -> tuple[float, list[dict]]:
    t0 = time.perf_counter()
    q = run_cdc_stream(spark, file_change_stream(spark, env_dir), target_path, ckpt)
    if not q.awaitTermination(1800):
        q.stop()
        raise SystemExit("stream did not drain within 30 min")
    wall = time.perf_counter() - t0
    return wall, _progress_batches(q)


def _link_files(src: str, dst: str, names: list[str]) -> None:
    for n in names:
        os.link(os.path.join(src, n), os.path.join(dst, n))


IH_MULT = 4  # insert-heavy stream volume: events × this

# trigger-knee sweep (VERDICT r8 item 4): the canonical 32-file /
# maxFilesPerTrigger=1 config reports ~3.7× below the 8-file config —
# per-batch fixed costs (plan, checkpoint commit, target version)
# dominate at tiny per-batch state. Sweep the batch-sizing knob at a
# FIXED staged topic (32 files) × snapshot target, and let the numbers
# name the knee instead of guessing it.
KNEE_TRIGGERS = (1, 2, 4, 8)
KNEE_TARGETS = ("flat", "bucketed")


def _knee_target(kind: str, path: str):
    if kind == "flat":
        return ParquetSnapshotTarget(path)
    return BucketedSnapshotTarget(path, mode="hash", n_buckets=64)


def _trigger_knee(spark, work: str, src: str, parts: list[str], reps: int) -> dict:
    """maxFilesPerTrigger × target grid over the full 32-file staged
    stream: events/s per cell, so the knee (where batch-cost
    amortization stops paying) and the target crossover are read off
    one table."""
    n_rows = spark.read.parquet(src).count()
    grid: dict[str, dict] = {}
    for mft in KNEE_TRIGGERS:
        for kind in KNEE_TARGETS:
            walls: list[float] = []
            for rep in range(reps):
                rd = os.path.join(work, f"knee_{mft}_{kind}_{rep}")
                env_dir = os.path.join(rd, "topic")
                os.makedirs(env_dir)
                _link_files(src, env_dir, parts)
                tgt_path = os.path.join(rd, "target")
                target = _knee_target(kind, tgt_path)
                t0 = time.perf_counter()
                q = run_cdc_stream(
                    spark,
                    file_change_stream(spark, env_dir, max_files_per_trigger=mft),
                    tgt_path,
                    os.path.join(rd, "ckpt"),
                    target=target,
                )
                if not q.awaitTermination(1800):
                    q.stop()
                    raise SystemExit("knee stream did not drain")
                walls.append(time.perf_counter() - t0)
                final = target.read_view(spark).count()
                shutil.rmtree(rd, ignore_errors=True)
            cell = {
                "events_per_sec_median": round(
                    n_rows / statistics.median(walls), 1
                ),
                "events_per_sec_best": round(n_rows / min(walls), 1),
                "final_rows": final,
                "batches": -(-len(parts) // mft),
            }
            grid[f"mft={mft},target={kind}"] = cell
            print(f"# knee mft={mft} {kind}: {cell}", file=sys.stderr)
    finals = {c["final_rows"] for c in grid.values()}
    if len(finals) != 1:
        raise SystemExit(f"trigger-knee final state diverged: {finals}")
    best = max(grid, key=lambda k: grid[k]["events_per_sec_median"])
    return {
        "n_events": n_rows,
        "files_staged": len(parts),
        "grid": grid,
        "best_config": best,
    }


def _insert_heavy_ab(
    spark, work: str, sf_dir: str, reps: int, ih_mult: int = IH_MULT
) -> dict:
    """Flat vs range-bucketed snapshot target under the autoincrement-PK
    INSERT-heavy workload (key = event_id, keys monotone with offset,
    files staged in offset order): the flat target rewrites the FULL
    accumulated state every epoch (O(N·|state|) total over a backfill),
    the range-bucketed one only its batch's tail buckets (O(|stream|)).

    The stream is events × IH_MULT (the make_scale_fixtures event_id
    construction, so keys stay unique and monotone): the flat target's
    per-epoch cost is proportional to ACCUMULATED state, so the gap vs
    the bucketed target is a function of stream length — ×{IH_MULT}
    makes the crossover visible at local scale (at sf0.01-sized state
    the flat rewrite is cheaper than the bucketed bookkeeping; that
    break-even is part of the measurement, not noise)."""
    ih_dir = os.path.join(work, "ih_src")
    os.makedirs(ih_dir)
    import duckdb

    duckdb.connect().execute(
        f"""COPY (
          SELECT event_id + 100000*i.i AS event_id, ts, user_id,
                 event_type, value, props
          FROM '{sf_dir}/events.parquet',
               (SELECT unnest(range(0,{ih_mult})) AS i) i
        ) TO '{ih_dir}/events.parquet' (FORMAT PARQUET)"""
    )
    src = os.path.join(work, "staged_insert_heavy")
    (
        derive_change_events(spark, ih_dir, key_col="event_id")
        .repartitionByRange(CANONICAL_FILES, "offset")
        .write.parquet(src)
    )
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    # distinct mtimes in range order so the file source's (mtime, path)
    # ordering delivers epochs offset-ordered, like a Kafka consumer would
    base_t = time.time() - len(parts)
    for i, p in enumerate(parts):
        os.utime(os.path.join(src, p), (base_t + i, base_t + i))
    n_rows = spark.read.parquet(src).count()

    out: dict[str, list] = {"flat": [], "bucketed": []}
    for rep in range(reps):
        for kind in ("flat", "bucketed"):
            rd = os.path.join(work, f"ih_{kind}_{rep}")
            env_dir = os.path.join(rd, "topic")
            os.makedirs(env_dir)
            _link_files(src, env_dir, parts)
            tgt_path = os.path.join(rd, "target")
            target = (
                ParquetSnapshotTarget(tgt_path)
                if kind == "flat"
                else BucketedSnapshotTarget(
                    tgt_path, mode="range", range_width=4096
                )
            )
            t0 = time.perf_counter()
            q = run_cdc_stream(
                spark,
                file_change_stream(spark, env_dir),
                tgt_path,
                os.path.join(rd, "ckpt"),
                target=target,
            )
            if not q.awaitTermination(1800):
                q.stop()
                raise SystemExit("insert-heavy stream did not drain")
            wall = time.perf_counter() - t0
            final = target.read_view(spark).count()
            # total bytes on disk across ALL versions = cumulative write
            # I/O of the backfill (neither target auto-compacts) — the
            # quantity the bucketed layout exists to shrink; at local
            # state sizes wall time is floored by per-epoch fixed costs
            # (decode/plan/checkpoint ~0.5 s), so the I/O ratio is the
            # scale-faithful signal
            written = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(tgt_path)
                for f in files
            )
            out[kind].append(
                {"drain_sec": round(wall, 3), "final_rows": final,
                 "events_per_sec": round(n_rows / wall, 1),
                 "bytes_written": written}
            )
            print(f"# insert_heavy {kind} rep={rep}: {out[kind][-1]}",
                  file=sys.stderr)
            shutil.rmtree(rd, ignore_errors=True)
    finals = {r["final_rows"] for k in out for r in out[k]}
    if len(finals) != 1:
        raise SystemExit(f"insert-heavy final state diverged: {finals}")
    med = {
        k: statistics.median(r["events_per_sec"] for r in out[k]) for k in out
    }
    bw = {
        k: statistics.median(r["bytes_written"] for r in out[k]) for k in out
    }
    return {
        "n_events": n_rows,
        "events_mult": ih_mult,
        "final_rows": finals.pop(),
        "reps": out,
        "flat_events_per_sec_median": med["flat"],
        "bucketed_events_per_sec_median": med["bucketed"],
        "bucketed_speedup": round(med["bucketed"] / med["flat"], 2),
        "flat_bytes_written": int(bw["flat"]),
        "bucketed_bytes_written": int(bw["bucketed"]),
        "write_io_reduction": round(bw["flat"] / bw["bucketed"], 1),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=None)
    ap.add_argument("--workdir", default="/tmp/bench_stream")
    ap.add_argument(
        "--ih-mult", type=int, default=IH_MULT,
        help="insert-heavy stream volume multiplier (events × N); larger "
        "values grow the accumulated state the flat target must rewrite "
        "per epoch — the bucketed-target crossover knob",
    )
    ap.add_argument(
        "--insert-heavy-only", action="store_true",
        help="run ONLY the flat-vs-bucketed insert-heavy A/B (one JSON "
        "line with just that section) — for crossover measurements at "
        "large --ih-mult without re-running the drain/knee phases",
    )
    args = ap.parse_args(argv)
    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("bench_stream")
    work = args.workdir
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    if args.insert_heavy_only:
        insert_heavy = _insert_heavy_ab(
            spark, work, sf_dir, args.reps, ih_mult=args.ih_mult
        )
        print(json.dumps({"insert_heavy_ab": insert_heavy,
                          "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1]}))
        return 0

    # stage the topic once per config: the full envelope stream split
    # into `files` parquet files (round-robin, so batch sizes are even)
    staged: dict[int, tuple[str, int]] = {}
    for files in FILE_CONFIGS:
        d = os.path.join(work, f"staged_{files}")
        derive_change_events(spark, sf_dir).repartition(files).write.parquet(d)
        n = spark.read.parquet(d).count()
        staged[files] = (d, n)
    n_events = staged[CANONICAL_FILES][1]

    # warm the streaming path once (sf0.001 mini-topic) so the first
    # timed batch isn't charged stream-engine/codegen first-touch cost —
    # the same discipline as bench.py's warm phase
    warm_src = os.path.join(work, "warm_topic")
    derive_change_events(spark, "/root/testdata/sf0.001").repartition(2).write.parquet(
        warm_src
    )
    _drain(
        spark,
        warm_src,
        os.path.join(work, "warm_target"),
        os.path.join(work, "warm_ckpt"),
    )

    results: dict[str, dict] = {}
    for files in FILE_CONFIGS:
        src, total = staged[files]
        parts = sorted(
            f for f in os.listdir(src) if f.endswith(".parquet")
        )
        n_delta = max(1, int(len(parts) * DELTA_FRAC))
        initial, delta = parts[: len(parts) - n_delta], parts[len(parts) - n_delta:]
        per_rep: list[dict] = []
        for rep in range(args.reps):
            rd = os.path.join(work, f"run_{files}_{rep}")
            env_dir = os.path.join(rd, "topic")
            os.makedirs(env_dir)
            tgt, ckpt = os.path.join(rd, "target"), os.path.join(rd, "ckpt")

            # phase 1: sustained drain over the initial files
            _link_files(src, env_dir, initial)
            wall, prog = _drain(spark, env_dir, tgt, ckpt)
            data_batches = [p for p in prog if p.get("numInputRows", 0) > 0]
            rows1 = sum(p["numInputRows"] for p in data_batches)
            durs = sorted(
                p["durationMs"]["triggerExecution"] for p in data_batches
            )
            # phase 2: "crash", delta arrives, cold restart from checkpoint
            _link_files(src, env_dir, delta)
            t0 = time.perf_counter()
            wall2, prog2 = _drain(spark, env_dir, tgt, ckpt)
            rows2 = sum(p.get("numInputRows", 0) for p in prog2)
            final_rows = ParquetSnapshotTarget(tgt).read_view(spark).count()
            per_rep.append(
                {
                    "drain_sec": round(wall, 3),
                    "drain_rows": rows1,
                    "events_per_sec": round(rows1 / wall, 1),
                    "batches": len(data_batches),
                    "p50_batch_ms": durs[len(durs) // 2] if durs else None,
                    "p95_batch_ms": durs[min(len(durs) - 1, int(len(durs) * 0.95))]
                    if durs
                    else None,
                    "catchup_sec": round(wall2, 3),
                    "catchup_rows": rows2,
                    "final_state_rows": final_rows,
                }
            )
            print(f"# files={files} rep={rep}: {per_rep[-1]}", file=sys.stderr)
            shutil.rmtree(rd, ignore_errors=True)
        eps = [r["events_per_sec"] for r in per_rep]
        results[str(files)] = {
            "reps": per_rep,
            "events_per_sec_best": max(eps),
            "events_per_sec_median": statistics.median(eps),
            "catchup_sec_median": statistics.median(
                r["catchup_sec"] for r in per_rep
            ),
            "rows_staged": total,
        }
        # every rep must apply the identical full stream — a rep whose
        # final state diverges means the harness (not the engine) broke
        finals = {r["final_state_rows"] for r in per_rep}
        if len(finals) != 1:
            raise SystemExit(f"final state diverged across reps: {finals}")

    insert_heavy = _insert_heavy_ab(
        spark, work, sf_dir, args.reps, ih_mult=args.ih_mult
    )

    knee_src, _ = staged[CANONICAL_FILES]
    knee_parts = sorted(
        f for f in os.listdir(knee_src) if f.endswith(".parquet")
    )
    trigger_knee = _trigger_knee(spark, work, knee_src, knee_parts, args.reps)

    canonical = results[str(CANONICAL_FILES)]
    print(
        json.dumps(
            {
                "insert_heavy_ab": insert_heavy,
                "trigger_knee": trigger_knee,
                "metric": "cdc_stream_events_per_sec",
                "value": canonical["events_per_sec_median"],
                "unit": "events/s",
                "stat": "median_of_reps",
                "reps": args.reps,
                "n_events_full_stream": n_events,
                "canonical_files": CANONICAL_FILES,
                "configs": results,
                "catchup_sec_median": canonical["catchup_sec_median"],
                "reference_msgs_per_sec": 1.0,
                "speedup_vs_reference": round(
                    canonical["events_per_sec_median"] / 1.0
                ),
                "notes": (
                    "file-transport change stream -> decode_envelope -> "
                    "foreachBatch MERGE into ParquetSnapshotTarget, "
                    "availableNow, maxFilesPerTrigger=1; reference ceiling "
                    "~1 msg/s (consumer.py:55-75 poll loop). catchup = "
                    "cold restart from checkpoint after 25% more files "
                    "arrive, including source re-list + recovery."
                ),
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
