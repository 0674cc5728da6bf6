"""Seeded generator for the engine's input tables.

Writes the ten tables `catalog.TABLES` names (TPC-H-style star schema plus
`events`, `documents` and `embeddings`) as one Parquet file each, with the
schemas and value domains of the fixtures the engine is tested on. Row
counts scale with `sf` the same way: 1,000,000 x sf events, 6,000,000 x sf
line items, and so on. The same (seed, sf) always gives the same bytes of
data, so every benchmark input follows from the `--seed` argument.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIM = 64
N_LABELS = 10

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH).astype(int)
    hi = (np.datetime64(end, "D") - _EPOCH).astype(int)
    days = rng.integers(lo, hi + 1, n)
    return (days.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(choices, n: int, rng, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _events(n: int, n_users: int, rng) -> pa.Table:
    start = np.datetime64(datetime(2024, 1, 1), "us").astype("int64")
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(start, start + span, n)).astype("datetime64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n).astype("int64"),
            "event_type": _pick(EVENT_TYPES, n, rng),
            "value": np.round(rng.gamma(2.0, 30.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(n: int, rng) -> pa.Table:
    # Every document has an odd number of tokens: per-document means of
    # integer scores (q_dsir_weights) then never land exactly halfway
    # between two rounding steps, where Spark's and DuckDB's round differ.
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as dedup queries expect
            texts.append(texts[int(rng.integers(0, i))].rsplit(" ", 1)[0] + " dup")
        else:
            k = 2 * int(rng.integers(5, 50)) + 1
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": pa.array(texts),
            "lang": _pick(LANGS, n, rng, p=LANG_P),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(n: int, rng) -> pa.Table:
    centres = rng.normal(0.0, 0.02, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    # Odd label sizes, for the same reason as odd document lengths: the
    # per-label centroid is a mean that is rounded (q_label_centroid_outliers).
    # `n` is even, so labels of even size come in pairs; move one vector of
    # each pair's first label to its second.
    even = [lab for lab in range(N_LABELS) if np.count_nonzero(labels == lab) % 2 == 0]
    for a, b in zip(even[::2], even[1::2]):
        labels[np.flatnonzero(labels == a)[0]] = b
    x = centres[labels] + rng.normal(0.0, 0.12, (n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )


def events(sf: float, seed: int) -> pa.Table:
    """The `events` table alone, as the change-stream workloads use it."""
    return _events(int(1_000_000 * sf), max(15, int(15_000 * sf)), np.random.default_rng(seed))


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
                "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(PART_TYPES, n_part, rng),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": _pick(("F", "O", "P"), n_ord, rng),
                "o_totalprice": _money(1000, 500_000, n_ord, rng),
                "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
                "o_orderpriority": _pick(PRIORITIES, n_ord, rng),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(900, 105_000, n_li, rng),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(("A", "N", "R"), n_li, rng),
                "l_linestatus": _pick(("F", "O"), n_li, rng),
                "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
            }
        ),
        "events": _events(int(1_000_000 * sf), max(15, int(15_000 * sf)), rng),
        "documents": _documents(max(500, int(50_000 * sf)), rng),
        "embeddings": _embeddings(max(500, int(20_000 * sf)), rng),
    }
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write every table to `<out_dir>/<name>.parquet`; returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
