"""Unit tests for the plan-audit parsers and the audit tool's plumbing.

SCALE.md's scan-census and duplicate-shuffle claims are produced by
`tools/audit.py exchange`, the pushdown triage by `audit.py pushdown`
and the broadcast triage by `audit.py broadcast`. Their value is
entirely in the parsing: a regex regression would silently turn every
future audit into a false "all clean". The parser tests pin
plans/inspect.py on synthetic plan strings — no Spark session needed.
"""

from __future__ import annotations

import importlib
import pathlib
import sys

import pytest

from debezium_cdc_kafka_spark import catalog
from debezium_cdc_kafka_spark.plans.inspect import (
    _cols,
    _norm,
    _split_preds,
    audit_plan,
    residual_preds,
    unbounded_broadcast_generates,
)
from tests.conftest import SF_SMOKE

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

import audit  # noqa: E402


def _plan(*lines: str) -> str:
    return "\n".join(lines)


def test_duplicate_exchange_detected_across_lambda_renames():
    # identical subtrees up to expression ids and lambda variable names
    plan = _plan(
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- Union",
        "   :- Exchange hashpartitioning(doc_id#12L, 32), ENSURE_REQUIREMENTS, [plan_id=1]",
        "   :  +- Project [aggregate(x#3, lambda x_1#4, ...) AS y#5]",
        "   :     +- FileScan parquet [doc_id#12L] Location: InMemoryFileIndex(1 paths)[file:/t/documents.parquet]",
        "   +- Exchange hashpartitioning(doc_id#92L, 32), ENSURE_REQUIREMENTS, [plan_id=9]",
        "      +- Project [aggregate(x#83, lambda x_7#84, ...) AS y#85]",
        "         +- FileScan parquet [doc_id#92L] Location: InMemoryFileIndex(1 paths)[file:/t/documents.parquet]",
    )
    n, reused, dups, scans = audit_plan(plan)
    assert n == 2
    assert reused == 0
    assert len(dups) == 1 and len(dups[0]) == 2
    assert scans == {"documents": 2}


def test_distinct_subtrees_not_flagged():
    plan = _plan(
        "+- Join",
        "   :- Exchange hashpartitioning(a#1L, 32), ENSURE_REQUIREMENTS, [plan_id=1]",
        "   :  +- FileScan parquet [a#1L] Location: X[file:/t/orders.parquet]",
        "   +- Exchange hashpartitioning(b#2L, 32), ENSURE_REQUIREMENTS, [plan_id=2]",
        "      +- FileScan parquet [b#2L] Location: X[file:/t/lineitem.parquet]",
    )
    n, reused, dups, scans = audit_plan(plan)
    assert n == 2
    assert dups == []
    assert scans == {"orders": 1, "lineitem": 1}


def test_reused_exchange_counted_not_flagged():
    plan = _plan(
        "+- Join",
        "   :- Exchange hashpartitioning(a#1L, 32), ENSURE_REQUIREMENTS, [plan_id=1]",
        "   :  +- FileScan parquet [a#1L] Location: X[file:/t/orders.parquet]",
        "   +- ReusedExchange [a#9L], Exchange hashpartitioning(a#1L, 32)",
    )
    n, reused, dups, _ = audit_plan(plan)
    assert (n, reused) == (1, 1)
    assert dups == []


def test_initial_plan_section_is_cut():
    plan = _plan(
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- Exchange hashpartitioning(a#1L, 32), ENSURE_REQUIREMENTS, [plan_id=1]",
        "   +- FileScan parquet [a#1L] Location: X[file:/t/events.parquet]",
        "+- == Initial Plan ==",
        "   Exchange hashpartitioning(a#1L, 32), ENSURE_REQUIREMENTS, [plan_id=0]",
        "   +- FileScan parquet [a#1L] Location: X[file:/t/events.parquet]",
    )
    n, _, dups, scans = audit_plan(plan)
    assert n == 1
    assert dups == []
    assert scans == {"events": 1}


def test_norm_strips_ids_and_lambda_instance_numbers():
    s = "aggregate(zip_with(e#1, lambdafunction(lambda x_1#18, lambda y_7#19)))"
    t = "aggregate(zip_with(e#9, lambdafunction(lambda x_3#52, lambda y_9#53)))"
    assert _norm(s) == _norm(t)
    # anchored to the `lambda ` prefix: a genuine column named x_1 must
    # survive normalization (ADVICE r6) ...
    assert "x_1" in _norm("Project [x_1#4 AS out#5]")
    # ... and distinct lambda vars must stay distinct (x vs y), so two
    # different two-arg lambdas can't false-fingerprint as duplicates
    assert _norm("lambda x_1#4") != _norm("lambda y_1#4")


def test_split_preds_respects_nesting():
    preds = _split_preds(
        "IsNotNull(a), Or(EqualTo(n_name,X),EqualTo(n_name,Y)), (b#3 > 1)"
    )
    assert preds == [
        "IsNotNull(a)",
        "Or(EqualTo(n_name,X),EqualTo(n_name,Y))",
        "(b#3 > 1)",
    ]


def test_cols_extracts_catalyst_column_refs():
    assert _cols("(year(cast(l_shipdate#3492 as date)) IN (1996,1997))") == {
        "l_shipdate"
    }
    assert _cols("((vec_id#1035L % 100) = 0)") == {"vec_id"}
    assert _cols("(1 = 1)") == set()


def test_residual_preds_catches_mixed_wrapper():
    # ADVICE r6 blind spot: pushed range + unpushed year() wrapper on the
    # SAME column must still flag the wrapper
    data = [
        "(o_orderdate#5 >= 1996-01-01 00:00:00)",
        "(year(cast(o_orderdate#5 as date)) = 1996)",
    ]
    pushed = (
        "IsNotNull(o_orderdate), "
        "GreaterThanOrEqual(o_orderdate,1996-01-01 00:00:00.0)"
    )
    assert residual_preds(data, pushed) == [
        "(year(cast(o_orderdate#5 as date)) = 1996)"
    ]
    # fully-pushed range pair: two pushed filters fund two data predicates
    assert residual_preds(
        ["(o_orderdate#5 >= X)", "(o_orderdate#5 < Y)"],
        "GreaterThanOrEqual(o_orderdate,X), LessThan(o_orderdate,Y)",
    ) == []
    # wrapper-shaped but genuinely pushed (constructor filter)
    assert residual_preds(
        ["StartsWith(p_type#9, PROMO)"],
        "IsNotNull(p_type), StringStartsWith(p_type,PROMO)",
    ) == []
    # IN rewritten as Or(): one pushed filter funds one data predicate
    assert residual_preds(
        ["n_name#2 IN (FRANCE,GERMANY)"],
        "Or(EqualTo(n_name,FRANCE),EqualTo(n_name,GERMANY))",
    ) == []
    # nothing pushed at all
    assert residual_preds(["(year(ts#1) = 1996)"], "") == [
        "(year(ts#1) = 1996)"
    ]


def test_trailing_flag_without_value_exits_with_usage(capsys):
    """`--json` as the last argument (or followed by another flag) must
    exit with a usage message, not IndexError, and must not silently
    consume a flag as its value (ADVICE r7)."""
    for bad in (["exchange", "--json"], ["sweep", "--json"],
                ["sweep", "--skip", "--json", "out"]):
        with pytest.raises(SystemExit) as e:
            audit.parse_args(bad)
        assert e.value.code != 0
        assert "usage" in capsys.readouterr().err


def test_flag_value_is_not_taken_as_sf():
    # ADVICE r6: the per-script parsers left `--json OUT` / `--only a,b`
    # values among the positionals, so OUT became sf_dir
    args = audit.parse_args(["analysis", "--json", "o.json"])
    assert (args.sf, args.json) == (audit.SF_TIMING, "o.json")
    args = audit.parse_args(["serial", "--only", "q01_pricing_summary", "--json", "o"])
    assert args.sf == audit.SF_TIMING and args.names == ["q01_pricing_summary"]


def test_structural_default_sf_ignores_env_fixture(monkeypatch):
    # $SPARK_GRAFT_SF_DIR may name a scale fixture with no sf0.01 beside
    # it; the structural commands must still default to the sf0.01 fixture
    monkeypatch.setattr(catalog, "DEFAULT_SF_DIR", "/tmp/scale_fixtures/full256")
    try:
        importlib.reload(audit)
        assert audit.parse_args(["analysis"]).sf == "/tmp/scale_fixtures/full256"
        sf = audit.parse_args(["exchange"]).sf
        assert sf.endswith("/sf0.01") and "scale_fixtures" not in sf
    finally:
        monkeypatch.undo()
        importlib.reload(audit)


def test_report_refuses_a_partial_query_set(capsys):
    # --report rewrites the whole PLANS.md table
    for bad in (["plans", "--report", "--only", "q01_pricing_summary"],
                ["plans", "--report", "--skip", "q01_pricing_summary"]):
        with pytest.raises(SystemExit) as e:
            audit.parse_args(bad)
        assert e.value.code != 0
        assert "--report" in capsys.readouterr().err


def test_unknown_only_name_exits_naming_it(capsys):
    with pytest.raises(SystemExit) as e:
        audit.main(["exchange", "--only", "q01_pricing_summary,no_such_query"])
    assert e.value.code != 0
    assert "no_such_query" in capsys.readouterr().err


def _bcast(*below: str) -> str:
    return _plan(
        "+- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight",
        "   :- FileScan parquet [k#1] Location: X[file:/t/orders.parquet]",
        "   +- BroadcastExchange HashedRelationBroadcastMode(List(k#2)), [plan_id=3]",
        *below,
    )


def test_broadcast_over_unbounded_explode_is_flagged():
    plan = _bcast(
        "      +- Generate explode(parts#5), [k#1], false, [part#6]",
        "         +- FileScan parquet [k#1,parts#5] Location: X[file:/t/lineitem.parquet]",
    )
    assert unbounded_broadcast_generates(plan) == [
        "+- Generate explode(parts#5), [k#1], false, [part#6]"
    ]


@pytest.mark.parametrize("bound", ["HashAggregate(keys=[k#2], functions=[])",
                                   "GlobalLimit 100, 0"])
def test_broadcast_over_bounded_explode_not_flagged(bound):
    plan = _bcast(
        f"      +- {bound}",
        "         +- Generate explode(parts#5), [k#1], false, [part#6]",
        "            +- FileScan parquet [k#1,parts#5] Location: X[file:/t/lineitem.parquet]",
    )
    assert unbounded_broadcast_generates(plan) == []
    # a Generate beside the broadcast (not under it) is not its input
    assert unbounded_broadcast_generates(_plan(
        "+- BroadcastExchange HashedRelationBroadcastMode(List(k#2))",
        "   +- FileScan parquet [k#2] Location: X[file:/t/part.parquet]",
        "+- Generate explode(parts#5), [k#1], false, [part#6]",
    )) == []


def test_query_loop_releases_pinned_blocks(spark):
    """text_tfidf_doc_similarity localCheckpoints at build time; the
    audit loop must free those blocks before the next query (the r9 leak:
    ann_pq_adc read 64 s mid-sweep against 5.1 s isolated)."""
    jsc = spark.sparkContext._jsc
    pinned = []

    def build_only(name, build):
        build()
        pinned.append(len(jsc.getPersistentRDDs()))
        return {}

    try:
        rows = dict(audit.each_query(spark, SF_SMOKE, ["text_tfidf_doc_similarity"], build_only))
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert rows == {"text_tfidf_doc_similarity": {}}
    assert pinned and pinned[0] > 0  # the build really pinned blocks
    assert len(jsc.getPersistentRDDs()) == 0
