"""Merged query/oracle registry — the single source for __spark_entry__.py.

Each operator module gets its QUERIES/ORACLES dicts and `query` decorator
from `registrar()`; this module unions them in `MODULES` order and fails
fast on duplicate names or oracle entries without queries.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession


# Operator modules in registry iteration order. A module that calls
# `registrar()` but is missing here registers nothing (tests/test_registry.py
# guards that); a broken module fails loudly on import, it is not skipped.
MODULES = (
    "cdc",
    "dedup",
    "similarity",
    "text",
    "curation",
    "corpus",
    "multimodal",
    "graph",
    "audit",
    "timeseries",
    "behavior",
    "approx",
    "stats",
    "asof",
    "reshape",
    "partsupp",
    "layout",
    "windows",
    "incremental",
    "relational3",
    "relational2",
    "relational",
)


def registrar():
    """One module's query registry: ``(queries, oracles, query)``.

    ``query(name, oracle)`` is the decorator that files a query function
    under ``name`` in ``queries`` and its DuckDB oracle SQL, if any, in
    ``oracles``. Registration order is the module's iteration order.
    """
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}

    def query(name: str, oracle: str | None = None):
        def deco(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, query


def _modules():
    return [import_module(f"{__package__}.operators.{m}") for m in MODULES]


# The external driver's correctness gate records the FIRST 50 queries in
# registry iteration order. Per round-3 ADVICE (registry.py:68), gating is
# now decoupled from module iteration order: this explicit list IS the
# round's gated window — all_queries() yields these names first, then every
# other query in module order. Editing an operator module can therefore no
# longer rotate it out of the gate as a side effect; changing the window is
# an explicit edit to this list.
#
# Current window: every slot is a deliberate re-gate (REGATE_OK in
# tests/test_driver_canon.py). First the queries whose code changed
# after their last correctness-gate row: ann_pq_adc (NaN/null
# embeddings now raise in _pq_codebook), then the r9/r10 shuffle-removal
# rewrites (TPC-H q02/q10/q16/q20, the k-means-cell graph and
# cluster-quality family, graph_kcore and graph_triangle_count), and
# q_dbscan_clusters / dedup_embedding_cosine_banded (their cosine verify
# joins now share dedup.cosine_pairs), five CDC queries (event split,
# `cdc._key_history`), then every other query over `cdc.decode_envelope`
# (its parse moved into a one-element explode so a well-formed filter no
# longer parses each record twice). Then the previous window in its order
# (q_math_functions and the oldest r3 rows), truncated to 50 slots.
GATE_ORDER: list[str] = [
    # --- changed-code re-gates (code changed after last driver row) ---
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
    # --- previous window, oldest rows first ---
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
]

GATE_SLOTS = 50


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in merged:
                raise ValueError(f"duplicate query name {name!r} in {mod.__name__}")
            merged[name] = fn
    if len(GATE_ORDER) != GATE_SLOTS:
        raise ValueError(f"GATE_ORDER has {len(GATE_ORDER)} names, want {GATE_SLOTS}")
    if len(set(GATE_ORDER)) != len(GATE_ORDER):
        raise ValueError("GATE_ORDER contains duplicates")
    missing = [n for n in GATE_ORDER if n not in merged]
    if missing:
        raise ValueError(f"GATE_ORDER names not registered: {missing}")
    gated = {n: merged[n] for n in GATE_ORDER}
    gated.update((n, fn) for n, fn in merged.items() if n not in gated)
    return gated


def all_oracles() -> dict[str, str]:
    queries = all_queries()
    merged: dict[str, str] = {}
    for mod in _modules():
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name not in queries:
                raise ValueError(f"oracle {name!r} in {mod.__name__} has no matching query")
            merged[name] = sql
    # Every gated slot must be hash-verifiable: an oracle-less query inside
    # the window burns a slot on a row the driver can't check (the r3
    # q_pca_top2_project mistake).
    unhashable = [n for n in GATE_ORDER if n not in merged]
    if unhashable:
        raise ValueError(f"GATE_ORDER queries without oracles: {unhashable}")
    return merged
