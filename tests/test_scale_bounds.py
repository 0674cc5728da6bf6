"""Asymptote guards: `pytest -m scale` (deselected by default).

VERDICT r7 item 7: the r6/r7 manual ×4–×64 sweeps caught every real
scale defect in this engine (the tfidf df-cap leak, the AQE pair-scan
serialization, the DBSCAN n²/10 pair join, the PQ 5.2B-row ADC join) —
but only because someone ran them. These tests wire the fixture
generator (tools/make_scale_fixtures.py) into a marked suite so a
regression in any family's documented growth shape fails a TEST at ×4
instead of waiting for the next manual sweep.

Methodology: each family's representative runs at ×1 (sf0.1) and at the
generator-built ×4 fixture through the same noop sink as the sweeps;
the assertion is t(×4) ≤ ceiling × max(t(×1), floor). Ceilings are
2–3× the documented ×4 growth ratio (SCALE.md) so scheduler noise can't
flake the suite, and the 2 s floor keeps sub-second ×1 times from
inflating ratios; a real asymptote break (linear → quadratic shows up
as ≥16× the linear time with these corpus sizes) clears any ceiling.

Run: python -m pytest tests/test_scale_bounds.py -m scale -v
(~5–10 min: builds the ×4 fixture once, then one timed pair per family).
To keep each test's outcome and wall time as a round artifact:
python -m pytest tests/test_scale_bounds.py -m scale --junitxml=artifacts_rN/scale_bounds.xml
"""

from __future__ import annotations

import pathlib
import sys
import time

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

from debezium_cdc_kafka_spark import registry
from debezium_cdc_kafka_spark.diskguard import SpillWatchdog, preflight

X1 = "/root/testdata/sf0.1"
FLOOR_SEC = 2.0

pytestmark = pytest.mark.scale

# (query, x4-time ceiling as a multiple of max(x1, floor), documented shape)
FAMILIES = [
    # pair family: label-blocked O(n²/L) kNN build — SCALE.md r6
    # three-point law measured ~n^0.9–1.1 end-to-end (cell blocking)
    ("q_knn_graph", 12.0, "~n^0.9-1.1 (SCALE.md r6 three-point law)"),
    # banded cosine companion: adaptive-width SimHash — measured ~n^0.52
    ("dedup_embedding_cosine_banded", 8.0, "~n^0.52 (SCALE.md r7)"),
    # DBSCAN: adaptive (label, band, bits) blocking — measured 2.1x/step
    ("q_dbscan_clusters", 8.0, "2.1x per 4x step (SCALE.md r7 fix)"),
    # PQ-ADC: O(q·n·M) with q sampled ∝ n — quadratic overall BY DESIGN
    # (documented exact-eval baseline); the guard catches the 32x-worse
    # per-subspace row-explosion form the r7 fix removed
    ("ann_pq_adc", 30.0, "O(q·n), 16x/step documented (SCALE.md r7 fix)"),
    # fixed-budget matryoshka companion: O(cap·n) = O(n) once engaged
    # (cap 256 > pool at x4 — the LIMIT plumbing still bounds the probe
    # frame; the engaged path is pinned in test_matryoshka_capped.py)
    ("q_matryoshka_recall_capped", 20.0, "O(n) at cap; pool<cap at x4"),
    # text near-dup: banded MinHash bucket join + df-cap — ~linear
    ("dedup_minhash_lsh", 10.0, "~linear (SCALE.md r6 x16 check)"),
    # relational fact family: scan + partial agg — linear
    ("q01_pricing_summary", 10.0, "linear scan+agg"),
]


@pytest.fixture(scope="module")
def x4_dir(tmp_path_factory):
    from make_scale_fixtures import main as make_fixtures

    # r9: don't start a spill-heavy suite the disk can't absorb (both
    # r8 ×256 failures burned the volume before erroring)
    preflight(8.0)
    d = tmp_path_factory.mktemp("x4_fixture")
    assert make_fixtures([str(d), "4"]) == 0
    return str(d)


def _timed(spark, fn, sf_dir: str) -> float:
    t0 = time.monotonic()
    with SpillWatchdog(spark, min_free_gb=8.0) as wd:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert not wd.tripped, (
        f"disk-budget watchdog cancelled the query at "
        f"{wd.peak_scratch_bytes / 2**20:.0f} MB scratch — spill regression"
    )
    dt = time.monotonic() - t0
    spark.catalog.clearCache()
    return dt


@pytest.mark.parametrize(
    "name,ceiling,shape", FAMILIES, ids=[f[0] for f in FAMILIES]
)
def test_family_growth_bound_at_x4(spark, x4_dir, name, ceiling, shape):
    fn = registry.all_queries()[name]
    # warm the plan shape at the smallest SF so x1 isn't charged codegen
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()
    t1 = _timed(spark, fn, X1)
    t4 = _timed(spark, fn, x4_dir)
    bound = ceiling * max(t1, FLOOR_SEC)
    assert t4 <= bound, (
        f"{name} broke its documented scale shape ({shape}): "
        f"x1={t1:.1f}s, x4={t4:.1f}s > ceiling {bound:.1f}s"
    )
