"""Registry-wide plan and stage audits: one session, one query loop.

Run: python tools/audit.py <command> [--sf DIR] [--only a,b] [--skip a,b]
                           [--json OUT] [command options]

Commands: plans, exchange, pushdown, broadcast, analysis, serial, sweep,
profile; `audit.py <command> -h` says what each one finds.

Each query runs under its own job group, an error is recorded and the
audit goes on, and pinned localCheckpoint blocks are released after each
query so its leftovers never tax the next. Structural commands default
to the sf0.01 fixture, timing commands to sf0.1. Not benchmarks: one session, one rep.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import threading
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import EXTENDED, HEADLINE  # noqa: E402
from debezium_cdc_kafka_spark import catalog, registry  # noqa: E402
from debezium_cdc_kafka_spark.__main__ import DEFAULT_SF  # noqa: E402
from debezium_cdc_kafka_spark.diskguard import SpillWatchdog, preflight  # noqa: E402
from debezium_cdc_kafka_spark.plans import inspect as pi  # noqa: E402
from debezium_cdc_kafka_spark.session import get_spark, release_persisted  # noqa: E402

SF_TIMING = catalog.DEFAULT_SF_DIR  # $SPARK_GRAFT_SF_DIR, else the sf0.1 fixture
# the fixed sf0.01 fixture (next to the CLI's sf0.001), never derived from
# $SPARK_GRAFT_SF_DIR: a scale fixture there has no sf0.01 beside it
SF_STRUCTURE = str(pathlib.Path(DEFAULT_SF).with_name("sf0.01"))
REPORT_CPUS = "8"  # PLANS.md's byte columns depend on the AQE partition count
TIMING = {"analysis", "serial", "sweep", "profile"}
SERIAL_MIN_MS = 500      # ignore sub-0.5s single-task stages: scheduling noise
SERIAL_MIN_SHARE = 0.5   # flag only when the serial stage dominates the query


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    def names(s: str) -> list[str]:
        return [n for n in s.split(",") if n]

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--sf", help="fixture dir (default sf0.01; timing commands sf0.1)")
    common.add_argument("--only", type=names, default=[], metavar="N1,N2")
    common.add_argument("--skip", type=names, default=[], metavar="N1,N2")
    common.add_argument("--json", metavar="OUT", help="write the rows as JSON")
    ap = argparse.ArgumentParser(
        prog="audit.py", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = {c: sub.add_parser(c, parents=[common], description=f.__doc__)
         for c, f in COMMANDS.items()}
    p["plans"].add_argument("--round", help="dump plans into plans/<ROUND>/")
    p["plans"].add_argument("--suffix", default="before")
    p["plans"].add_argument("--report", action="store_true", help="rewrite PLANS.md")
    p["sweep"].add_argument("--min-free-gb", type=float, default=8.0)
    p["sweep"].add_argument("--timeout-s", type=float)
    p["profile"].add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)
    if args.sf is None:
        args.sf = SF_TIMING if args.cmd in TIMING else SF_STRUCTURE
    if args.cmd == "plans" and not (args.round or args.report):
        ap.error("plans needs --round and/or --report")
    if args.cmd == "plans" and args.report and (args.only or args.skip):
        ap.error("--report rewrites all of PLANS.md: it takes no --only/--skip")
    if args.cmd == "profile" and not args.only:
        ap.error("profile needs --only")
    queries = registry.all_queries()
    unknown = sorted(set(args.only + args.skip) - set(queries))
    if unknown:
        ap.error(f"--only/--skip names not in the registry: {unknown}")
    default = HEADLINE + EXTENDED if args.cmd == "plans" else list(queries)
    args.names = [n for n in args.only or default if n not in args.skip]
    if not args.names:
        ap.error("nothing to run: every query is skipped")
    return args


def each_query(spark, sf_dir: str, names: list[str], body, warm: bool = False):
    """Yield (name, body(name, build)) per query, `build()` constructing
    its frame. `warm` first runs the body once, unrecorded, on the first
    query, so query 1 isn't charged JVM start-up, JIT and footer reads."""
    queries = registry.all_queries()
    sc = spark.sparkContext
    for i, name in enumerate(([names[0]] if warm and names else []) + names):
        is_warm = warm and i == 0
        sc.setJobGroup("_warm" if is_warm else name, name)
        try:
            row = body(name, lambda fn=queries[name]: fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — the audit must finish
            print(f"ERR {name}: {type(e).__name__}: {e}", file=sys.stderr)
            row = {"error": type(e).__name__}
        finally:
            release_persisted(spark)
        if not is_warm:
            yield name, row


def _fmt_bytes(n: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if n < 1024 or unit == "GiB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024


def plans(spark, args, names):
    """Default queries: bench.py HEADLINE + EXTENDED. --round R writes each
    explain(formatted) to plans/R/<query>_<suffix>.txt, the before/after
    evidence of an optimization; --report regenerates PLANS.md."""
    out_dir = REPO / "plans" / args.round if args.round else None

    def body(name, build):
        df = build()
        if out_dir:
            out_dir.mkdir(parents=True, exist_ok=True)
            plan = pi.formatted_plan(df)
            path = out_dir / f"{name}_{args.suffix}.txt"
            path.write_text(
                f"# {name} — explain(formatted) at {args.sf} [{args.suffix}]\n{plan}"
            )
            print(f"{name}: {plan.count('Exchange')} Exchange, wrote {path}",
                  file=sys.stderr)
        if not args.report:
            return {}
        f = pi.plan_facts(df)
        # build jobs ran under this query's group too, so the bytes count
        # construction-time work (two-pass offsets, bloom builds, Gram
        # collects) alongside the execution
        df.count()
        stages = pi.group_stages(spark, name)
        return {
            "pushed": "; ".join(p for p in f.pushed_filters if p)[:120] or "—",
            "cols": ",".join(str(s.count(":")) for s in f.read_schemas) or "—",
            "joins": f"{f.broadcast_joins}/{f.sort_merge_joins}/{f.nested_loop_joins}",
            "exchanges": f.exchanges,
            **{k: sum(s[k] for s in stages)
               for k in ("shuffle_write_bytes", "input_bytes", "spill_bytes")},
        }

    rows = dict(each_query(spark, args.sf, names, body))
    if args.report:
        lines = [
            "# PLANS — physical-plan audit of the headline queries",
            "",
            f"Generated by `python tools/audit.py plans --report --sf {args.sf}`",
            f"(local[{REPORT_CPUS}]).",
            "Per query: pushed filters, columns read, join strategies, exchanges, and",
            "the MEASURED bytes shuffled / scanned / spilled by one build + execution",
            "(its completed stages). Zero spill everywhere is the headline scale",
            "invariant. Regression-guarded by tests/test_plans.py.",
            "",
            "| query | pushed filters | read columns | joins (bcast/smj/nlj) "
            "| exchanges | shuffled | scanned | spilled |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for name, r in rows.items():
            if "error" in r:
                lines.append(f"| {name} | ERROR {r['error']} | | | | | | |")
                continue
            lines.append(
                f"| {name} | {r['pushed']} | {r['cols']} | {r['joins']} | {r['exchanges']} "
                f"| {_fmt_bytes(r['shuffle_write_bytes'])} | {_fmt_bytes(r['input_bytes'])} "
                f"| {_fmt_bytes(r['spill_bytes'])} |"
            )
        (REPO / "PLANS.md").write_text("\n".join(lines) + "\n")
        print(f"wrote PLANS.md ({len(rows)} queries)")
    return rows


def exchange(spark, args, names):
    """Duplicate-shuffle fingerprints and per-table scan census over every
    FINAL adaptive plan. At 100 TB a shuffle computed twice is a wasted full pass. Exchange
    reuse breaks silently: an alias/ordering difference between identical
    subtrees, or a localCheckpoint re-materialized per reference."""

    def body(name, build):
        df = build()
        # collect() is an action on the frame's OWN QueryExecution, so AQE
        # finalizes that instance in place. A noop-sink write executes a
        # separate QueryExecution and leaves this one at isFinalPlan=false,
        # which silently reports the pre-reuse initial plan.
        df.collect()
        n, reused, dups, scans = pi.audit_plan(pi.executed_plan(df))
        if dups:
            print(f"DUP {name}: {n} shuffles, {len(dups)} duplicated subtree(s)")
            for g in dups:
                print(f"    x{len(g)}: {g[0]}")
        return {"shuffles": n, "reused": reused, "dup_groups": len(dups),
                "dups": dups, "scans": scans}

    rows = dict(each_query(spark, args.sf, names, body))
    ok = {n: r for n, r in rows.items() if "error" not in r}
    print(f"\n{len(ok)} queries audited; total materialized shuffles "
          f"{sum(r['shuffles'] for r in ok.values())} "
          f"(+{sum(r['reused'] for r in ok.values())} reused); "
          f"{sum(1 for r in ok.values() if r['dup_groups'])} queries with duplicate shuffles")
    print("top shuffle counts (materialized/reused):")
    for n, r in sorted(ok.items(), key=lambda kv: -kv[1]["shuffles"])[:15]:
        print(f"  {r['shuffles']:3d}/{r['reused']:<3d}  {n}")
    print("top repeated-scan counts (max scans of one table):")
    worst = {n: max(r["scans"].items(), key=lambda kv: kv[1], default=("-", 0))
             for n, r in ok.items()}
    for n, (table, k) in sorted(worst.items(), key=lambda kv: -kv[1][1])[:20]:
        print(f"  {k:3d}x {table:12s}  {n}")
    return rows


def pushdown(spark, args, names):
    """A wrapper like `year(ts) = 1996` silently defeats parquet pushdown:
    the plan still works, it just decodes every row. Builds only (the
    initial plan carries the scans). Flags are candidates, not verdicts."""

    def body(name, build):
        resid = pi.scan_residuals(pi.executed_plan(build()))
        for table, preds in resid:
            print(f"RESID {name} [{table}]: {preds[:3]}")
        return {"residuals": resid}

    rows = dict(each_query(spark, args.sf, names, body))
    n = sum(len(r.get("residuals", ())) for r in rows.values())
    print(f"# done; {n} scans with residual-only predicates")
    return rows


def broadcast(spark, args, names):
    """Catalyst's size estimate is explode-blind, so a broadcast side fed by
    an unbounded Generate can blow past the 8 GB broadcast limit."""

    def body(name, build):
        return {"flagged": pi.unbounded_broadcast_generates(pi.executed_plan(build()))}

    rows = dict(each_query(spark, args.sf, names, body))
    hit = {n: r["flagged"] for n, r in sorted(rows.items()) if r.get("flagged")}
    print(f"\n== unbounded Generate under BroadcastExchange ({len(hit)} queries) ==")
    for n, v in hit.items():
        print(f"{n}\n   {v[0]}")
    print("\nJudge each against the envelope: broadcast bytes are capped at "
          "threshold x expansion; only expansion > 8GB/threshold can hard-fail.")
    return rows


def analysis(spark, args, names):
    """At 1000 executors a query whose planning takes seconds serializes
    every concurrent submitter. build_s: Python-side construction, build
    jobs included; plan_s: Catalyst up to the physical plan, no tasks."""

    def body(name, build):
        t0 = time.monotonic()
        df = build()
        t1 = time.monotonic()
        df._jdf.queryExecution().executedPlan()
        t2 = time.monotonic()
        return {"build_s": round(t1 - t0, 3), "plan_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3)}

    rows = dict(each_query(spark, args.sf, names, body, warm=True))
    ok = sorted(((n, r) for n, r in rows.items() if "error" not in r),
                key=lambda kv: -kv[1]["total_s"])
    print(f"\n== driver-side build+plan, {len(rows)} queries, "
          f"total {sum(r['total_s'] for _, r in ok):.1f}s ==")
    for n, r in ok[:25]:
        print(f"{r['total_s']:7.2f}s  (build {r['build_s']:.2f} + plan {r['plan_s']:.2f})  {n}")
    return rows


def serial(spark, args, names):
    """AQE coalesces post-shuffle partitions by BYTES, blind to compute
    expansion: q_knn_graph's whole pair scan once ran as one task."""

    def body(name, build):
        build().count()
        stages = pi.group_stages(spark, name)
        total = sum(s["cpu_ms"] for s in stages)
        return {"cpu_ms": total, "serial": [
            {"stage": s["stage"], "serial_cpu_ms": s["cpu_ms"],
             "share": round(s["cpu_ms"] / total, 3),
             "shuffle_read": s["shuffle_read_bytes"],
             "shuffle_write": s["shuffle_write_bytes"]}
            for s in stages
            if s["tasks"] == 1 and s["cpu_ms"] >= SERIAL_MIN_MS
            and s["cpu_ms"] / total >= SERIAL_MIN_SHARE
        ]}

    rows = dict(each_query(spark, args.sf, names, body, warm=True))
    hot = sorted(((n, s) for n, r in rows.items() for s in r.get("serial", ())),
                 key=lambda ns: -ns[1]["serial_cpu_ms"])
    print(f"# {len(rows)} queries audited, {len(hot)} serial hot stages")
    for n, s in hot:
        print(f"  {n:40s} stage={s['stage']:>5} cpu={s['serial_cpu_ms']:>6}ms "
              f"share={s['share']:.2f} shR={s['shuffle_read']:>9} shW={s['shuffle_write']:>9}")
    return rows


def sweep(spark, args, names):
    """Catches a pathological plan in the long tail bench.py never runs.
    Every query ends completed or classified: a scratch-floor breach
    cancels the query, not the machine (DISK_BUDGET), and so does an
    expired wall budget (TIMEOUT). Rows are written after every query."""
    sc = spark.sparkContext
    out = {"sf_dir": args.sf, "skipped": args.skip, "min_free_gb": args.min_free_gb,
           "timeout_s": args.timeout_s, "complete": False, "rows": {}}

    def body(name, build):
        wd = SpillWatchdog(spark, min_free_gb=args.min_free_gb)
        timer = threading.Timer(args.timeout_s or 0, sc.cancelAllJobs)
        t0 = time.monotonic()

        def over() -> bool:
            return bool(args.timeout_s) and time.monotonic() - t0 >= args.timeout_s

        c0 = pi.codegen_stats(spark)["compiles"]
        try:
            with wd:
                if args.timeout_s:
                    timer.start()
                build().write.format("noop").mode("overwrite").save()
        except Exception:
            if not (wd.tripped or over()):
                raise
        finally:
            timer.cancel()
        # a query still running at its deadline is TIMEOUT even if the
        # cancel landed between two of its jobs and it went on to finish
        status = "DISK_BUDGET" if wd.tripped else "TIMEOUT" if over() else "ok"
        row = {"status": status, "time_s": round(time.monotonic() - t0, 3),
               "scratch_peak_mb": round(wd.peak_scratch_bytes / 2**20, 1),
               "compiles": pi.codegen_stats(spark)["compiles"] - c0}
        print(f"{status} {name}: {row['time_s']}s "
              f"(scratch peak {row['scratch_peak_mb']:.0f} MB, "
              f"{row['compiles']} classes compiled)", file=sys.stderr)
        return row

    for name, row in each_query(spark, args.sf, names, body, warm=True):
        out["rows"][name] = row
        if args.json:
            pathlib.Path(args.json).write_text(json.dumps(out, indent=1))
    rows = out["rows"]
    out["total_s"] = round(sum(r["time_s"] for r in rows.values() if r.get("status") == "ok"), 1)
    out["complete"] = True
    print(f"# {len(rows)} queries run ({len(args.skip)} skipped: "
          f"{','.join(args.skip) or 'none'}), ok total {out['total_s']:.1f}s at {args.sf}")
    for n, r in sorted(rows.items(), key=lambda kv: -kv[1].get("time_s", 0)):
        print(f"{r.get('time_s', -1):8.3f}  {r.get('status', 'ERROR'):11s}  {n}")
    return out


def profile(spark, args, names):
    """Which stage burns the time: per-stage tasks, wall, run and CPU time
    and bytes for the last of --reps runs (plus one discarded warm-up), and
    the classes each run compiled: a query that still compiles after the
    warm-up generates different code each run, so it misses the
    generated-class cache every time."""
    sc = spark.sparkContext

    def body(name, build):
        times, compiles = [], []
        for i in range(args.reps + 1):
            sc.setJobGroup(f"{name}@{i}", name)
            c0 = pi.codegen_stats(spark)["compiles"]
            t0 = time.monotonic()
            build().count()
            times.append(round(time.monotonic() - t0, 3))
            compiles.append(pi.codegen_stats(spark)["compiles"] - c0)
            release_persisted(spark)
        stages = pi.group_stages(spark, f"{name}@{args.reps}")
        print(f"{name}: reps={times[1:]} min={min(times[1:]):.3f} "
              f"(warm-up {times[0]}); compiles per rep={compiles[1:]} "
              f"(warm-up {compiles[0]}); last rep: {len(stages)} stages")
        print(" stage  tasks  wallMs  runMs  cpuMs     shWr      shRd     input  name")
        for s in stages:
            print(f" {s['stage']:>5}  {s['tasks']:>5}  {s['wall_ms']:>6}  {s['run_ms']:>5}  "
                  f"{s['cpu_ms']:>5}  {s['shuffle_write_bytes']:>8}  "
                  f"{s['shuffle_read_bytes']:>8}  {s['input_bytes']:>8}  {s['name']}")
        return {"reps_s": times[1:], "compiles": compiles[1:], "stages": stages}

    return dict(each_query(spark, args.sf, names, body))


COMMANDS = {f.__name__: f for f in
            (plans, exchange, pushdown, broadcast, analysis, serial, sweep, profile)}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.cmd == "sweep":
        # refuse to start without scratch headroom, before the JVM exists
        free = preflight(args.min_free_gb)
        print(f"# preflight: {free / 2**30:.1f} GiB scratch free "
              f"(floor {args.min_free_gb:.1f} GiB)", file=sys.stderr)
    report = args.cmd == "plans" and args.report
    spark = get_spark(f"audit-{args.cmd}", cpus=REPORT_CPUS if report else None)
    rows = COMMANDS[args.cmd](spark, args, args.names)
    if args.json:
        pathlib.Path(args.json).write_text(json.dumps(rows, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
