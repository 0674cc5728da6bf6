"""Property-based tests (Hypothesis) for the CDC merge algebra.

The engine's central correctness claim is that the batch merge is a
commutative, idempotent monoid over change batches: ANY partition of the
event log into batches, applied in ANY order, with ANY batches repeated,
converges to serial-replay-with-upsert semantics. Hypothesis searches for
counterexamples instead of trusting the three hand-picked cases.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from debezium_cdc_kafka_spark.operators.cdc import (
    apply_changes,
    decode_envelope,
    empty_state,
    state_view,
)
from debezium_cdc_kafka_spark.sources.cdc_events import RECORD_SCHEMA


def _env(op, key, val):
    before = {"id": key} if op == "d" else None
    after = {"id": key, "value": val, "ts": "t"} if op in ("c", "u") else None
    return json.dumps({"payload": {"op": op, "before": before, "after": after, "ts_ms": 0}})


# an event = (op, key, value)
events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["c", "u", "d"]),
        st.integers(min_value=0, max_value=4),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=12,
)

# how to cut the sequence into batches: sorted unique cut points
cuts_strategy = st.lists(st.integers(min_value=1, max_value=11), max_size=3, unique=True)


def serial_upsert_replay(events):
    """The spec: replay serially with upsert semantics (c/u set, d removes)."""
    state: dict[int, float] = {}
    for op, key, val in events:
        if op == "d":
            state.pop(key, None)
        else:
            state[key] = float(val)
    return state


def batches_of(spark, events, cut_points):
    cuts = sorted({c for c in cut_points if c < len(events)})
    bounds = [0, *cuts, len(events)]
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        rows = [
            ("k", _env(op, key, val), "t", 0, offset, None)
            for offset, (op, key, val) in list(enumerate(events))[lo:hi]
        ]
        if rows:
            out.append(decode_envelope(spark.createDataFrame(rows, RECORD_SCHEMA)))
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=events_strategy, cut_points=cuts_strategy, order=st.randoms())
def test_any_batching_any_order_converges(spark, events, cut_points, order):
    batches = batches_of(spark, events, cut_points)
    # apply in a shuffled order, with the first batch applied twice (retry)
    order.shuffle(batches)
    state = empty_state(spark)
    for b in batches:
        state = apply_changes(state, b)
    state = apply_changes(state, batches[0])  # redelivery
    got = {r.id: r.value for r in state_view(state).collect()}
    assert got == serial_upsert_replay(events)


# ---------------------------------------------------------------------------
# As-of join property: for random event/order timelines, the attached row
# is exactly the spec's "latest at-or-before" (resp. "earliest at-or-after").
# ---------------------------------------------------------------------------

asof_strategy = st.tuples(
    # left events: (key, time)
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=10
    ),
    # right rows: (key, time, rowid)  — rowid unique via enumerate below
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=10
    ),
)


def _spec_asof(lefts, rights, direction):
    out = {}
    for li, (lk, lt) in enumerate(lefts):
        cands = [
            (rt, rid)
            for rid, (rk, rt) in enumerate(rights)
            if rk == lk and (rt <= lt if direction == "backward" else rt >= lt)
        ]
        if not cands:
            out[li] = None
        elif direction == "backward":
            out[li] = max(cands)[1]  # latest time, then max rowid
        else:
            out[li] = min(cands, key=lambda c: (c[0], -c[1]))[1]  # earliest, max rowid
    return out


@given(asof_strategy, st.sampled_from(["backward", "forward"]))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_spec(spark, data, direction):
    from debezium_cdc_kafka_spark.operators.asof import asof_join

    lefts, rights = data
    left_df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "lid long, k long, t long"
    )
    right_df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rights)], "rid long, rk long, rt long"
    )
    joined = asof_join(
        left_df,
        right_df,
        key_left="k",
        key_right="rk",
        time_left="t",
        time_right="rt",
        right_cols=["rid"],
        tiebreak="rid",
        direction=direction,
    )
    got = {r.lid: r.rid for r in joined.collect()}
    want = _spec_asof(lefts, rights, direction)
    assert got == want
