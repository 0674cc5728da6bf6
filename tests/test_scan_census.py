"""Scan-census regression guard (r6).

`tools/audit.py exchange` found the lazy-multi-consumer class: an
intermediate frame with N consumers re-executes its whole upstream —
including the base-table scan — once per consumer. The worst offenders
were fixed with bounded localCheckpoints or inline window caps
(SCALE.md "scan census"); this test pins their per-table FileScan
counts in the INITIAL adaptive plan — deliberate here: the initial plan
is a deterministic structural ceiling, unaffected by AQE's runtime
stage-reuse variance (the EXECUTED-plan numbers live in
`tools/audit.py exchange`; see SCALE.md "Correction: the audit now reads
the EXECUTED plan") — so an innocent-looking refactor can't silently
reintroduce a 20-scans-of-lineitem plan. No action is run: the initial
plan is readable straight off the unexecuted QueryExecution (the r6
version executed a noop-sink write first, which runs a SEPARATE
QueryExecution and so never affected the audited plan anyway — ADVICE
r6; dropped as pure waste).

Ceilings are the post-fix counts measured at sf0.001 (+0 slack — the
point is to fail on regression, and scan counts are plan-structural,
not data-dependent). The census also dedupe-guards: no query may
materialize the same exchange subtree twice except the documented
semdedup single-file spread.
"""

from __future__ import annotations

import pytest

from debezium_cdc_kafka_spark import registry
from debezium_cdc_kafka_spark.plans.inspect import executed_plan, scan_census

SF = "/root/testdata/sf0.001"

# query -> (table, max FileScans of that table in the INITIAL plan)
CEILINGS = {
    "q_referential_audit": ("lineitem", 1),
    "dedup_ngram_jaccard_capped": ("documents", 8),
    "q_minhash_containment": ("documents", 16),
    "graph_jaccard_neighbors": ("lineitem", 2),
    # purity/incremental/bloom/pq keep their LAZY initial-plan counts:
    # checkpoints there measured slower because AQE stage reuse already
    # collapses the duplicates at runtime (SCALE.md correction section)
    "q_cluster_purity": ("embeddings", 15),
    "q_kmv_sketch_ops": ("lineitem", 4),
    "q_incremental_distinct": ("events", 11),
    "q_bloom_fpr_audit": ("orders", 9),
    "dedup_source_overlap": ("documents", 4),
    "dedup_lsh_recall_eval": ("documents", 4),
    "q_acf_lags": ("events", 2),
    # 8 -> 10 in r7: the ADC array-fold rewrite adds the seed_idx remap
    # as a consumer of the seeds subtree (runtime exchange reuse
    # collapses the duplicates — the EXECUTED plan is in the r7 exchange
    # audit; the rewrite cut x64 wall 1160s -> 205s, SCALE.md r7).
    # r8: past _PQ_DIRECT_MAX_PAIRS (engages around x128 on this
    # fixture shape) the top-k switches to the sketch-threshold
    # two-pass, whose initial plan reads the lazy ADC subtree twice
    # (20 scans) so the pair frame is never SHUFFLED — the x256 sweep
    # killed the JVM on the direct window's ~50+ GB shuffle. At
    # sf0.001 the engage rule picks the direct plan, so the ceiling
    # stays 10; two-pass parity is pinned in test_pq_dense_qtab.py.
    "ann_pq_adc": ("embeddings", 10),
    "q_kaplan_meier": ("events", 3),
    # r7 banded companion: bw-count + proj scans duplicate across the two
    # sig self-join sides (identical REPARTITION_BY_NUM subtrees — AQE
    # exchange reuse collapses them at runtime) + the two verify
    # join-backs. 6 is the lazy initial-plan ceiling.
    "dedup_embedding_cosine_banded": ("embeddings", 6),
}

@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_scan_count_ceiling(spark, name):
    table, ceiling = CEILINGS[name]
    plan = executed_plan(registry.all_queries()[name](spark, SF))
    n = scan_census(plan).get(table, 0)
    assert n <= ceiling, (
        f"{name} scans {table} {n}x (ceiling {ceiling}) — a lazy "
        "multi-consumer frame is re-executing its upstream again; see "
        "SCALE.md 'scan census' and `tools/audit.py exchange`"
    )
