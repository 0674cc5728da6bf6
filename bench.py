"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver records this as BENCH_r{N}.json and grades against BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from debezium_cdc_kafka_spark import registry
from debezium_cdc_kafka_spark.session import get_spark, release_persisted

# Headline set: one per operator family, weighted toward the shuffling /
# joining plans that dominate at scale. Extended as operator phases land.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q10_returned_items",
    "q13_customer_distribution",
    "q_distinct_agg",
    "q_topk_parts_per_brand",
    "q_running_total",
    "q_setops_repeat_customers",
    "cdc_final_state",
    "q_sessionize_30m",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "ann_lsh_multiprobe",
    "text_quality_stats",
    "q02_min_cost_supplier",
    "q_funnel_3step",
    "q_dsir_weights",
    "text_tfidf_doc_similarity",
    "q_label_centroid_outliers",
]

# Extended set (r5, VERDICT item 6): the 5 slowest non-graph-module entries
# from the r5 full-registry sweep (`tools/audit.py sweep` at sf0.1) — the
# 21-query HEADLINE set predates ~250 of the 292 registered queries, so
# regressions in the heavy tail were invisible round-over-round. These are
# benched and reported per-query alongside the headline set; `value` stays
# the HEADLINE-only total so BENCH_rN remains comparable to BASELINE.md and
# BENCH_r01..r04, and `value_ext26` adds the extended set.
EXTENDED = [
    "q_label_propagation",   # label-blocked mutual-kNN vote (brute eval form)
    "q_knn_graph",           # label-blocked O(n^2/L) cosine kNN build
    "semdedup_survivors",    # k-means-cell-bounded SemDeDup pair prune
    "q_bootstrap_ci",        # 32x Poisson-explode over orders (map-local)
    "q_jl_projection",       # 1024-literal projection tree (compile-bound)
    "ann_pq_adc",            # build-time PQ codebook + one broadcast ADC join
]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="headline bench; prints one BENCH-format JSON line"
    )
    ap.add_argument(
        "--reps",
        type=int,
        default=max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "10"))),
        help="timed reps per HEADLINE query; value = sum of per-query MINs "
        "(VERDICT r7 item 4: reps=10-min canonical mode — the min over 10 "
        "reps strips the ±10%% cross-session scheduler/GC envelope that "
        "dominated the r6→r7 total comparison at identical HEAD)",
    )
    ap.add_argument("--sf", default=None, help="override $SPARK_GRAFT_SF_DIR")
    args = ap.parse_args(argv)
    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, args.reps)
    # the extended set's members run 5-20x longer per rep than headline
    # queries; 3 reps keeps their min stable enough (they are tail
    # visibility, not the BASELINE-comparable total) without doubling
    # total bench wall time
    ext_reps = min(reps, 3)
    spark = get_spark("bench")
    queries = registry.all_queries()

    # Warm the JVM once per query shape at the smallest SF (codegen/JIT for
    # the big expression trees costs seconds on first run), then once per
    # query AT THE TARGET SF: allocation-heavy stages (JSON decode, shingle
    # passes) JIT/GC-converge over the first large-data run, and without a
    # full-size warm rep the min-of-reps below still carries 30-60% of that
    # first-touch cost (observed bimodal reps at sf0.1). Steady-state per
    # query is what BASELINE comparisons need.
    #
    # min over `reps` runs per query: single-run wall time at 1–2s scale
    # has ±20% scheduler/GC jitter (observed across rounds 1–2); the min is
    # the steady-state cost. Cache is cleared after every run so a query's
    # internal persist() neither leaks into its neighbours nor lets a
    # repeat ride the previous rep's cache.
    def run_set(
        set_names: list[str],
        times: dict[str, float],
        medians: dict[str, float],
        n_reps: int,
    ) -> None:
        found = [n for n in set_names if n in queries]
        for name in found:
            queries[name](spark, "/root/testdata/sf0.001").count()
        release_persisted(spark)
        for name in found:
            queries[name](spark, sf_dir).count()
            release_persisted(spark)
        for name in found:
            samples: list[float] = []
            for _ in range(n_reps):
                t0 = time.perf_counter()
                df = queries[name](spark, sf_dir)
                n = df.count()
                samples.append(time.perf_counter() - t0)
                release_persisted(spark)
            times[name] = round(min(samples), 3)
            medians[name] = round(statistics.median(samples), 3)
            print(
                f"# {name}: min={times[name]}s median={medians[name]}s "
                f"rows={n}",
                file=sys.stderr,
            )

    # The HEADLINE warm+time cycle runs COMPLETELY BEFORE the extended set
    # touches the JVM: warming the extended set's giant plans (the
    # 1024-literal JL tree, the O(n^2/L) pair joins) first fills the JIT
    # code cache and inflated every headline rep ~2-4x when measured after
    # them — which would break comparability with BENCH_r01..r04.
    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    run_set(HEADLINE, times, medians, reps)
    headline = set(HEADLINE) & set(times)
    run_set(EXTENDED, times, medians, ext_reps)

    total = round(sum(t for n, t in times.items() if n in headline), 3)
    total_median = round(sum(m for n, m in medians.items() if n in headline), 3)
    total_ext = round(sum(times.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": times,
                "queries_median": medians,
                "value_median": total_median,
                "value_ext26": total_ext,
                "n_headline": len(headline),
                "n_extended": len([n for n in times if n not in headline]),
                "stat": "min",
                "reps": reps,
                "reps_extended": ext_reps,
                "notes": (
                    "r9 measurement-hygiene fix (guide §1): the between-rep "
                    "cleanup now also unpersists pinned localCheckpoint "
                    "blocks (session.release_persisted) - clearCache() alone "
                    "leaked them, so rep N's checkpoint blocks taxed rep N+1 "
                    "(and earlier queries taxed later ones). Cleanup is "
                    "OUTSIDE the timed region; the timed work per rep is "
                    "unchanged. "
                    "CANONICAL timing source for round-over-round deltas "
                    "(incl. the 5 extended entries): this file; value = sum "
                    "of per-query MIN over `reps` timed reps (r8: default "
                    "10, was 3 - VERDICT r7 item 4), medians alongside; "
                    "extended phase after headline. SCALE.md sweep numbers "
                    "(single rep, shared warm session) differ by harness - "
                    "e.g. r5 q_knn_graph 11.97s bench vs 9.4s sweep; compare "
                    "bench to bench only (VERDICT r5 item 4, SCALE.md "
                    "'Canonical timing sources')"
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
