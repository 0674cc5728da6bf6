"""queries_modules: ten `bench.HEADLINE` registry queries, run serially.

`QUERIES` takes at least one query from each operator module the headline
set calls, so every module's layer metrics are measured; the other eleven
headline queries are left out to make room for two timed passes per run
(see README.md).

Each call is timed as build (the registry function call, including any
Spark jobs it runs while constructing the plan) plus execute (`.count()`).
The untimed warm-up pass runs every query through
`oracle_check.compare_one` against its DuckDB oracle; every timed
execution must then return the oracle's row count.
"""

from __future__ import annotations

import time

from debezium_cdc_kafka_spark import oracle_check, registry

import datagen
from common import Bench, work_cpu_s
from metrics import MODULE_METRICS, QUERY_MODULES
from tracing import job_metrics, median, percentile

SF = 0.01
SMOKE_SF = 0.001
PASS_S = 7.0  # nominal seconds per timed pass: --seconds / PASS_S passes are timed

QUERIES = (
    "q01_pricing_summary",  # relational: scan + grouped aggregate
    "q05_local_supplier_volume",  # relational: six-way join
    "cdc_final_state",  # cdc
    "q_sessionize_30m",  # windows
    "dedup_minhash_lsh",  # dedup
    "ann_bruteforce_topk",  # similarity
    "text_quality_stats",  # text
    "q02_min_cost_supplier",  # partsupp
    "q_funnel_3step",  # behavior
    "q_dsir_weights",  # curation
)


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def _check_rows(b: Bench, name: str, n: int, rows: dict) -> None:
    b.result.attempted += 1
    if n != rows[name]:
        b.result.mismatch(f"{name}: {n} rows, oracle {rows[name]}")


def _timed_pass(b: Bench, data: str, queries: dict, rows: dict, samples: dict) -> float:
    """One pass; returns its CPU seconds (see `work_cpu_s`)."""
    c0 = work_cpu_s()
    for name, fn in queries.items():
        t0 = time.perf_counter()
        n = fn(b.spark, data).count()
        samples[name].append(time.perf_counter() - t0)
        b.release()
        _check_rows(b, name, n, rows)
    return work_cpu_s() - c0


def _traced_pass(b: Bench, data: str, queries: dict, rows: dict, samples: dict) -> dict:
    """One pass with a span per call and a job group per phase; returns
    per-module totals."""
    sc, tracer = b.spark.sparkContext, b.tracer
    p = len(tracer.durations("query"))
    groups = []
    for name, fn in queries.items():
        mod = _module(fn)
        gid = f"perfbench-{tracer.run_id}-{p}-{name}"
        with tracer.span("query", query=name) as q:
            sc.setJobGroup(f"{gid}-build", name)
            with tracer.span(f"{mod}.build", query=name):
                df = fn(b.spark, data)
            sc.setJobGroup(f"{gid}-execute", name)
            with tracer.span(f"{mod}.execute", query=name):
                n = df.count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        samples[name].append(q["dur_s"])
        b.release()
        _check_rows(b, name, n, rows)
        groups.append((mod, name, gid))
    totals = {m: dict.fromkeys(MODULE_METRICS, 0.0) for m in QUERY_MODULES}
    for mod, name, gid in groups:
        t = totals[mod]
        for phase in ("build", "execute"):
            t[f"{phase}_s"] += tracer.durations(f"{mod}.{phase}", query=name)[-1]
            jm = job_metrics(b.spark, f"{gid}-{phase}")
            t[f"{phase}_jobs"] += jm["jobs"]
            t["shuffle_bytes"] += jm["shuffle_bytes"]
    return totals


def _passes(seconds: float, names, one_pass) -> tuple[dict, list]:
    """A fixed number of passes over all queries for `seconds` (so that a
    slow machine does not get fewer, colder passes than a fast one);
    returns each query's samples and what each pass returned."""
    samples: dict[str, list[float]] = {n: [] for n in names}
    return samples, [one_pass(samples) for _ in range(max(1, round(seconds / PASS_S)))]


def _summarise(samples: dict) -> tuple[float, dict]:
    per_query = {n: median(s) for n, s in samples.items()}
    return sum(per_query.values()), per_query


def run(b: Bench) -> None:
    r = b.result
    sf = SMOKE_SF if b.smoke else SF
    every = registry.all_queries()
    oracles = registry.all_oracles()
    queries = {n: every[n] for n in QUERIES}
    data = b.set_up(lambda i: datagen.write_tables(b.path(f"data{i}"), sf, b.seed))

    t0 = time.perf_counter()
    con = oracle_check.duckdb_connect(data)
    rows: dict[str, int] = {}
    for name, fn in queries.items():
        r.attempted += 1
        try:
            res = oracle_check.compare_one(b.spark, con, data, name, fn, oracles[name])
        except Exception as e:  # noqa: BLE001 - a failing query is a reported failure
            r.mismatch(f"{name}: {type(e).__name__}: {e}")
            continue
        finally:
            b.release()
        rows[name] = res["oracle_rows"]
        if not res["ok"]:
            r.mismatch(f"{name}: differs from oracle: {res}")
    con.close()
    r.note(f"warm-up pass with oracle comparison: {time.perf_counter() - t0:.2f} s")
    if r.failed:
        return

    span = b.seconds / 2 if b.trace else b.seconds
    samples, cpus = _passes(span, queries, lambda s: _timed_pass(b, data, queries, rows, s))
    cpu = [1000 * c / len(queries) for c in cpus]
    r.put("cpu_ms_per_op", median(cpu), "ms")
    r.note(f"cpu_ms_per_query {median(cpu):.1f} ms (median of {len(cpus)} passes: "
           + ", ".join(f"{c:.1f}" for c in cpu) + ")")
    total, per_query = _summarise(samples)
    r.note(f"queries_per_s {len(queries) / total:.4f}, query_p50_ms "
           f"{percentile([1000 * v for v in per_query.values()], 50):.1f} ms")
    r.note(f"queries_total_s {total:.3f} s (sum of per-query medians over "
           f"{len(samples[QUERIES[0]])} passes; pass totals "
           + ", ".join(f"{sum(p):.3f}" for p in zip(*samples.values())) + " s)")
    for name, v in per_query.items():
        r.note(f"  {name}: {v:.3f} s")

    if b.trace:
        t_samples, totals = _passes(
            span, queries, lambda s: _traced_pass(b, data, queries, rows, s)
        )
        t_total, _ = _summarise(t_samples)
        for mod in QUERY_MODULES:
            for key, unit in MODULE_METRICS.items():
                r.put(f"{mod}.{key}", median([t[mod][key] for t in totals]), unit)
        r.put("trace.overhead_pct", 100 * (1 - total / t_total), "%")
        r.note(f"tracing overhead: traced - untraced queries_total_s = {t_total - total:.3f} s")
