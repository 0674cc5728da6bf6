"""Driver-canonicalizer compatibility gate.

The external driver's correctness harness canonicalizes query output with a
pandas ``sort_values`` over every column and a value hash; a cell holding a
Python list/dict (i.e. any array/map/struct-typed output column) raises
``TypeError: unhashable type`` inside pandas and turns the row RED even when
the values are correct — exactly what happened to q_embedding_quantize,
q_jl_projection and q_inverted_index in CORRECTNESS_r03.json. Those now emit
','-joined scalar strings instead.

This test pins the contract so it cannot recur: every registered query's
output schema must be atomic-typed unless the query is explicitly
whitelisted as local-oracle-only (compared with tuple-aware logic by
``oracle_check``, never by the driver — registry.GATE_ORDER must not contain
whitelisted names).

Schema-only: each query DataFrame is BUILT (a few trigger bounded driver
jobs during construction) but never executed, so the whole 173-query sweep
stays cheap.
"""

from __future__ import annotations

import json

from pyspark.sql.types import ArrayType, MapType, StructType

from debezium_cdc_kafka_spark import registry

SF_SMOKE = "/root/testdata/sf0.001"

# Queries allowed to emit complex-typed columns. Must stay OUTSIDE
# registry.GATE_ORDER (enforced below): the driver cannot hash them.
COMPLEX_OK: set[str] = set()


def test_gate_window_is_exactly_the_first_50():
    qs = list(registry.all_queries())
    assert qs[:50] == registry.GATE_ORDER
    assert len(set(registry.GATE_ORDER)) == 50


def test_gated_queries_all_have_oracles():
    oracles = registry.all_oracles()
    missing = [n for n in registry.GATE_ORDER if n not in oracles]
    assert not missing, f"gated queries without oracle SQL: {missing}"


def test_gate_window_spends_no_slot_on_already_green_rows():
    """Every GATE_ORDER slot must buy a FIRST driver row (VERDICT r4 item 5).

    The driver gates only 50 queries per round; re-gating a query already
    green in a prior CORRECTNESS_r*.json wastes a slot while 90+ queries
    have never been driver-verified. Names may be re-gated deliberately
    (e.g. a red row being re-verified after a fix) via REGATE_OK.

    Round-aware (VERDICT r5 item 2): the driver writes the CURRENT round's
    artifact mid-round, after the window is set — an artifact whose row
    names are exactly this window is the current round's own result, not a
    prior round, and must not count as "prior green" (otherwise this test
    goes red in every inter-round window the moment the gate runs).
    """
    for path in sorted(_CORRECTNESS_GLOB()):
        names = set(json.load(open(path)))
        if names == set(registry.GATE_ORDER):
            continue  # the current round's own artifact
        wasted = [
            n for n in registry.GATE_ORDER
            if n in _green_rows(path) and n not in REGATE_OK
        ]
        assert not wasted, (
            "GATE_ORDER slots spent on queries already green in prior "
            f"{path} (add to REGATE_OK if deliberate): {wasted}"
        )


# Deliberate re-verifications go here. Every registered query has a
# prior gate row, so ALL 50 slots are deliberate re-gates: first the
# queries whose code changed after their last gate row, then the rest
# of the previous window, oldest rows first (registry.py GATE_ORDER
# comment).
REGATE_OK: set[str] = {
    # code changed after last driver row
    "ann_pq_adc",
    "q02_min_cost_supplier",
    "q10_returned_items",
    "q16_supplier_counts",
    "q20_excess_inventory",
    "q_knn_graph",
    "q_label_propagation",
    "q_simplified_silhouette",
    "q_cluster_purity",
    "q_cluster_quality_profile",
    "graph_kcore",
    "graph_triangle_count",
    "q_dbscan_clusters",
    "dedup_embedding_cosine_banded",
    "cdc_incremental_merge",
    "cdc_incremental_agg",
    "cdc_ivm_join_view",
    "cdc_scd2_history",
    "cdc_scd2_probe",
    "cdc_final_state",
    "cdc_op_counts",
    "cdc_strict_replay_state",
    "cdc_tx_consistent_state",
    "cdc_op_mix_drift",
    "cdc_hot_keys",
    "cdc_key_lifecycle",
    # previous window (q_math_functions, r3 rows)
    "q_math_functions",
    "ann_bruteforce_topk",
    "ann_filtered_topk",
    "ann_ivf_topk",
    "ann_kmeans_assign",
    "ann_kmeans_update",
    "ann_lsh_hyperplane",
    "ann_lsh_multiprobe",
    "ann_mmr_rerank",
    "cdc_anomaly_audit",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_fuzzy_levenshtein",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_normalized_exact",
    "dedup_simhash",
    "dedup_span_shingles",
    "q_bm25_search",
    "q_doc_chunking",
    "q_embedding_covariance",
    "q_label_centroid_outliers",
}


def _CORRECTNESS_GLOB() -> list[str]:
    import glob
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    return sorted(glob.glob(str(repo / "CORRECTNESS_r0*.json")))


def _green_rows(path) -> set[str]:
    green: set[str] = set()
    for name, row in json.load(open(path)).items():
        if row.get("rows_match") and row.get("schema_match") and (
            row.get("hash_match") in (True, None)
        ):
            green.add(name)
    return green


def test_regate_guard_ignores_current_rounds_own_artifact(tmp_path):
    """Simulate the post-gate state (VERDICT r5 item 2 'done' criterion):
    after the driver drops an artifact whose rows ARE the current window,
    the guard must not flag those rows as wasted slots."""
    current = {
        n: {"rows_match": True, "schema_match": True, "hash_match": True}
        for n in registry.GATE_ORDER
    }
    p = tmp_path / "CORRECTNESS_r99.json"
    p.write_text(json.dumps(current))
    assert set(json.load(open(p))) == set(registry.GATE_ORDER)
    # The exclusion rule used by the guard: identical name set → skip.
    # A prior-round artifact (different name set) must still be scanned.
    prior = dict(current)
    prior.pop(registry.GATE_ORDER[0])
    prior["q_some_other"] = {
        "rows_match": True, "schema_match": True, "hash_match": True
    }
    assert set(prior) != set(registry.GATE_ORDER)


def test_no_query_output_breaks_driver_canonicalizer(spark):
    assert not (COMPLEX_OK & set(registry.GATE_ORDER)), (
        "complex-typed queries must not occupy gated window slots"
    )
    bad: dict[str, list[str]] = {}
    for name, fn in registry.all_queries().items():
        if name in COMPLEX_OK:
            continue
        df = fn(spark, SF_SMOKE)
        complex_cols = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, (
        "queries with driver-unhashable (array/map/struct) output columns "
        f"(stringify with array_join/to_json or whitelist in COMPLEX_OK): {bad}"
    )


def test_oracle_check_only_rejects_unknown_names():
    """A typo'd --only must exit non-zero, not report n/n ok (VERDICT r4 #4)."""
    import pytest

    from debezium_cdc_kafka_spark.oracle_check import main

    with pytest.raises(SystemExit, match="q_mann_kendall_trend"):
        main(["--sf", SF_SMOKE, "--only", "q_mann_kendall_trend"])


def test_bench_sets_name_real_queries():
    """bench.py silently filters unknown names (`if n in queries`); a typo'd
    HEADLINE/EXTENDED entry would shrink the benched set without failing
    anything. Pin every name to the registry, and keep the two sets
    disjoint so `value` stays the 21-query BASELINE-comparable total."""
    import bench

    qs = set(registry.all_queries())
    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in qs]
    assert not missing, f"bench names not in registry: {missing}"
    assert not set(bench.HEADLINE) & set(bench.EXTENDED)
    assert len(bench.HEADLINE) == 21  # BASELINE comparability contract
