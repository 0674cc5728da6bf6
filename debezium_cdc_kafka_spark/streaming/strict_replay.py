"""Strict-replay CDC as a STREAMING stateful operator.

`operators.cdc.cdc_strict_replay_state` computes the reference-faithful
final multiset (duplicate inserts, no-op updates/deletes on missing keys —
postgres.py:100–107 has no PK) in batch window algebra. This module keeps
the same semantics incrementally over an unbounded stream with
`applyInPandasWithState`: a no-PK multiset has no built-in stateful
operator, so this is the engine's one Python state machine (the other
per-key streams are Spark aggregates, streaming/stateful.py).

- state per key = only what the multiset reads: the highest delete
  offset, the non-null update with the highest offset, the inserts above
  that delete, and ``version``. O(live rows) per key, not O(events): an insert
  at or below the delete offset can never come back, so it is dropped.
  Every field is a max or a filter against a max, so late or out-of-order
  micro-batches fold to the same state — the batch monoid's guarantee.
- each batch emits the key's current multiset rows tagged with a
  monotonically increasing `version`; readers take max-version per key.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "id long, value double, n_rows long, version long"
STATE_SCHEMA = (
    "last_delete long, update_offset long, update_value double, "
    "insert_offsets array<long>, insert_values array<double>, version long"
)

# (last_delete, update_offset, update_value, insert_offsets, insert_values);
# a null value is carried as None, so null inserts count as one value
EMPTY = (-1, -1, None, [], [])


def _compact(state: tuple, events: Iterable[tuple[int, str, float]]) -> tuple:
    """Fold one key's new (offset, op, value) events into its compacted
    state, in any order. A null-valued update sets nothing: the oracle's
    ``first_value(... IGNORE NULLS)`` skips it."""
    last_delete, update_offset, update_value, offsets, values = state
    inserts = list(zip(offsets, values))
    for off, op, val in events:
        if op == "d":
            last_delete = max(last_delete, off)
        elif op in ("c", "r"):
            inserts.append((off, val))
        elif op == "u" and val is not None and off > update_offset:
            update_offset, update_value = off, val
    live = [(off, val) for off, val in inserts if off > last_delete]
    return (
        last_delete,
        update_offset,
        update_value,
        [off for off, _ in live],
        [val for _, val in live],
    )


def _strict_multiset(state: tuple) -> dict[float, int]:
    """A compacted state → {value: row_count}: each live insert, valued at
    the last update if that came after it. Mirrors
    operators.cdc.CDC_STRICT_ORACLE."""
    _, update_offset, update_value, offsets, values = state
    out: dict[float, int] = {}
    for off, val in zip(offsets, values):
        eff = update_value if update_offset > off else val
        out[eff] = out.get(eff, 0) + 1
    return out


def _update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (kid,) = key
    if state.exists:
        *compacted, version = state.get
    else:
        compacted, version = EMPTY, 0
    for pdf in pdfs:
        events = zip(
            (int(x) for x in pdf["offset"]),
            pdf["op"],
            (float(x) if pd.notna(x) else None for x in pdf["value"]),
        )
        compacted = _compact(compacted, events)
    version += 1
    state.update((*compacted, version))
    multiset = _strict_multiset(compacted)
    if multiset:
        yield pd.DataFrame(
            {
                "id": [kid] * len(multiset),
                "value": list(multiset.keys()),
                "n_rows": list(multiset.values()),
                "version": [version] * len(multiset),
            }
        )
    else:
        # emit an explicit empty marker so downstream max-version readers
        # see deletions (a key whose multiset became empty)
        yield pd.DataFrame(
            {"id": [kid], "value": [None], "n_rows": [0], "version": [version]}
        )


def strict_replay_stream(decoded: DataFrame) -> DataFrame:
    """decoded change stream (id, op, offset, after.value) → per-key strict
    multiset emissions."""
    flat = decoded.select(
        "id", "op", "offset", F.col("after.value").alias("value")
    )
    return flat.groupBy("id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_multiset(emissions: DataFrame) -> DataFrame:
    """Memory-sink emissions → current multiset (max version per key)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("id")
    return (
        emissions.withColumn("_maxv", F.max("version").over(w))
        .filter(F.col("version") == F.col("_maxv"))
        .filter(F.col("n_rows") > 0)
        .select("id", "value", "n_rows")
    )
