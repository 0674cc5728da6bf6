"""Graph analytics: PageRank over the part co-purchase graph.

The reference has no graph surface (it moves single rows, reference:
app/consumer/consumer.py:55–75); this is north-star widening into the
iterative-algorithm genre. The engine runs the textbook damped PageRank
as a Python-side loop of DataFrame joins; the oracle UNROLLS the same
iterations into chained CTEs, which works because every iteration is
made exact: ranks live as nano-scaled integers, per-edge contributions
are rounded to integers BEFORE the incoming-edge sum, so no
floating-point sum order can differ between engines.

Scale shape per iteration: one join (ranks ⋈ edges, both hash-
partitioned on the same key so the partitioning is reused across
iterations) + one aggregation. Lineage grows linearly with iterations —
at real scale each iteration's result is localCheckpoint()ed (or
written) to truncate the plan; at test scale 8 iterations compose fine.
Dangling mass is not redistributed (nodes without co-purchases keep the
teleport term only) — documented divergence from the matrix form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


_ITERS = 8
_DAMP = 0.85
_SCALE = 1_000_000_000  # ranks as nano-integers


def _oracle_sql() -> str:
    head = f"""
WITH nodes AS (
  SELECT p_partkey AS node FROM part
), pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY src, dst
), outdeg AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM pairs GROUP BY src
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
pr0 AS (
  SELECT node, CAST(round({_SCALE}.0 / n_nodes) AS BIGINT) AS r9
  FROM nodes CROSS JOIN n
)"""
    steps = []
    for k in range(1, _ITERS + 1):
        steps.append(f""",
contrib{k} AS (
  SELECT p.dst AS node,
         CAST(sum(CAST(round(CAST(r.r9 AS DOUBLE) * p.w / o.deg) AS BIGINT))
              AS BIGINT) AS s9
  FROM pr{k - 1} r JOIN pairs p ON p.src = r.node
  JOIN outdeg o ON o.src = p.src
  GROUP BY p.dst
),
pr{k} AS (
  SELECT nodes.node,
         CAST(round({1 - _DAMP} * {_SCALE}.0 / n.n_nodes) AS BIGINT)
         + CAST(round({_DAMP} * coalesce(c.s9, 0)) AS BIGINT) AS r9
  FROM nodes CROSS JOIN n LEFT JOIN contrib{k} c ON c.node = nodes.node
)""")
    tail = f"""
SELECT node AS p_partkey, round(r9 / {_SCALE}.0, 6) AS pagerank
FROM pr{_ITERS}
"""
    return head + "".join(steps) + tail


PAGERANK_ORACLE = _oracle_sql()


@query("graph_pagerank_copurchase", PAGERANK_ORACLE)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, {_ITERS} iterations) over the directed
    co-purchase graph: parts are nodes, an edge src→dst weighted by how
    often the two parts share an order. The engine loops DataFrame
    join+agg iterations; the oracle unrolls the identical iterations as
    chained CTEs — equality is exact because ranks are nano-integers and
    contributions are rounded before summation (every iteration is
    integer-exact, so engines can't drift)."""
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outdeg = pairs.groupBy("src").agg(F.sum("w").alias("deg"))
    # r9 (guide §2.4 "two operations keyed the same way share one
    # exchange"): the edge frame is persisted HASH-PARTITIONED ON src
    # (persist preserves outputPartitioning; the former localCheckpoint's
    # LogicalRDD reported none, so EVERY iteration re-exchanged the edges
    # — the plan showed Exchange over Scan ExistingRDD per round). The
    # rank vector keeps hash(node) partitioning through the loop for the
    # same reason, so the per-iteration joins need no exchange on either
    # pre-partitioned side; only the contribution aggregate and the tiny
    # rank vector move.
    fan = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    edges = pairs.join(outdeg, "src").repartition(fan, "src").persist()
    edges.count()  # materialize once (the former eager checkpoint's job)
    n_nodes = part.count()
    part_p = part.repartition(fan, "node").persist()
    base9 = round((1 - _DAMP) * _SCALE / n_nodes)
    ranks = part_p.select(
        "node", F.lit(round(_SCALE / n_nodes)).cast("long").alias("r9")
    )
    for it in range(_ITERS):
        # shuffle_hash: build on the tiny rank vector, stream the edges —
        # sort-merge re-SORTED the persisted edge partitions every
        # iteration (the partitions are cached, their sort order is not).
        contrib = (
            ranks.hint("shuffle_hash").join(edges, ranks.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("r9").cast("double") * F.col("w") / F.col("deg"))
                .cast("long")
                .alias("c9"),
            )
            .groupBy("node")
            .agg(F.sum("c9").alias("s9"))
        )
        ranks = part_p.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base9).cast("long")
                + F.round(_DAMP * F.coalesce(F.col("s9"), F.lit(0))).cast("long")
            ).alias("r9"),
        )
        # Bound plan/lineage depth (same hygiene as dedup_clusters /
        # graph_kcore): flatten every 2 rounds, values unchanged. persist
        # + eager count instead of localCheckpoint so hash(node)
        # partitioning survives the flatten.
        if (it + 1) % 2 == 0 and (it + 1) < _ITERS:
            ranks = ranks.persist()
            ranks.count()
    return ranks.select(
        F.col("node").alias("p_partkey"),
        F.round(F.col("r9") / float(_SCALE), 6).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules over the same co-purchase pairs.
# ---------------------------------------------------------------------------

_RULE_MIN_PAIR = 3
_RULE_TOPK = 50

# Relative min-support (r5): the absolute floor of 3 co-purchases is kept,
# but beyond ~150k orders the threshold tracks the corpus — 2 per 100k
# orders — so the support-pruned co-purchase graph keeps ~constant density
# instead of densifying superlinearly as order volume grows over a fixed
# catalog (the r5 4x-facts sweep measured graph_jaccard_neighbors at 5.0x
# for 4x orders; with relative support the edge set is pruned back).
# ceil(150000 * 2e-5) = 3 exactly, so every checked-in SF (orders <= 150k)
# keeps threshold 3 and every oracle hash is unchanged.
_SUPPORT_RATE = 0.00002

_SUPPORT_SQL = (
    "greatest({floor}, CAST(ceil((SELECT count(*) FROM orders) * 0.00002)"
    " AS BIGINT))"
)


def _min_support(spark: SparkSession, sf_dir: str, floor: int) -> int:
    import math

    n = load_table(spark, sf_dir, "orders").count()
    return max(floor, math.ceil(n * _SUPPORT_RATE))

ASSOC_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM d),
items AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS item_n FROM d GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS pair_n
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY src, dst
  HAVING count(*) >= {_SUPPORT_SQL.format(floor=_RULE_MIN_PAIR)}
), rules AS (
  SELECT p.src, p.dst, p.pair_n,
         round(p.pair_n * 1.0 / si.item_n, 6) AS confidence,
         round(p.pair_n * 1.0 / si.item_n / (di.item_n * 1.0 / n.n_orders), 6)
           AS lift
  FROM pairs p
  JOIN items si ON si.l_partkey = p.src
  JOIN items di ON di.l_partkey = p.dst
  CROSS JOIN n
)
SELECT src, dst, pair_n, confidence, lift,
       CAST(row_number() OVER (ORDER BY lift DESC, src, dst) AS INT) AS rk
FROM rules
QUALIFY rk <= {_RULE_TOPK}
"""


@query("graph_association_rules", ASSOC_ORACLE)
def graph_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules src→dst over order baskets:
    support (pair count), confidence (pair/src-item count) and lift
    (confidence over dst base rate), top-{_RULE_TOPK} by lift. The pair
    generation is the Apriori candidate step restricted to 2-itemsets —
    the distinct (order, part) table self-joins on the order key, so
    cost is Σ|basket|², bounded by basket size, not corpus size; the
    min-support HAVING prunes before the stats joins (both broadcast).
    Division chains are written identically on both engines and rounded
    before ranking, with (src, dst) as the deterministic tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    d = li.distinct()
    n_orders = d.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    items = d.groupBy(F.col("l_partkey")).agg(F.count(F.lit(1)).alias("item_n"))
    a = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= _min_support(spark, sf_dir, _RULE_MIN_PAIR))
    )
    si = items.select(F.col("l_partkey").alias("src"), F.col("item_n").alias("src_n"))
    di = items.select(F.col("l_partkey").alias("dst"), F.col("item_n").alias("dst_n"))
    conf = F.col("pair_n") * 1.0 / F.col("src_n")
    lift = conf / (F.col("dst_n") * 1.0 / F.col("n_orders"))
    rules = (
        pairs.join(F.broadcast(si), "src")
        .join(F.broadcast(di), "dst")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "src",
            "dst",
            "pair_n",
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
    )
    w = W.orderBy(F.col("lift").desc(), "src", "dst")
    return (
        rules.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _RULE_TOPK)
    )


# ---------------------------------------------------------------------------
# Triangle counting over the undirected co-purchase graph.
# ---------------------------------------------------------------------------

TRIANGLE_ORACLE = """
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
"""


@query("graph_triangle_count", TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected co-purchase graph
    (parts are nodes; an edge connects two parts that ever share an
    order). Distributed node-iterator with DEGREE-BASED ORIENTATION
    (Cohen / Schank-Wagner): orient every edge from its lower-(degree,
    id) endpoint to the higher one, enumerate wedges as ordered pairs of
    out-neighbors of a shared source, and close each wedge with one join
    back to the oriented edge set. Each triangle is found exactly once
    (its minimum-key corner is the wedge source), then credited to all
    three corners.

    Scale shape: degree orientation caps every out-degree at O(sqrt(m)),
    so the wedge count is O(m^1.5) REGARDLESS of hub nodes — the bound
    id-orientation cannot give (a hub's id is arbitrary; its degree is
    not). The co-purchase graph is dense (avg degree ~70 at sf0.1), and
    this cut the wedge join's input ~3x versus id-orientation. The
    oriented edge table feeds three consumers (both wedge sides + the
    closing join), so it is persisted — the materialize-the-edge-list
    step every distributed triangle counter does; harness callers
    clearCache(). Basket-capped edge generation (distinct pairs per
    order) bounds the self-join at sum(|basket|^2) like
    [[graph_association_rules]]."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    d = li.distinct()
    a = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("x"))
    b = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("y"))
    und = (
        a.join(b, "ok").filter(F.col("x") < F.col("y")).select("x", "y").distinct()
    )
    sym = und.unionAll(und.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = sym.groupBy("x").agg(F.count(F.lit(1)).alias("dg"))
    dx = deg.select(F.col("x").alias("x"), F.col("dg").alias("dgx"))
    dy = deg.select(F.col("x").alias("y"), F.col("dg").alias("dgy"))
    keyed = und.join(dx, "x").join(dy, "y")
    x_first = (F.col("dgx") < F.col("dgy")) | (
        (F.col("dgx") == F.col("dgy")) & (F.col("x") < F.col("y"))
    )
    # r9: persist the oriented edges HASH-PARTITIONED ON src — both wedge
    # sides then read the cache with the join's required partitioning, so
    # the wedge self-join adds NO exchange (was: two exchanges of the
    # same frame; persist alone reported its scan partitioning but each
    # side re-shuffled because the per-side aliases below the exchange
    # made the subtrees differ).
    fan = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = keyed.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("dst"),
        F.when(x_first, F.col("dgy")).otherwise(F.col("dgx")).alias("dgd"),
    ).repartition(fan, "src").persist()
    ea = e.select("src", F.col("dst").alias("u"), F.col("dgd").alias("du"))
    eb = e.select("src", F.col("dst").alias("w"), F.col("dgd").alias("dw"))
    wedges = (
        ea.join(eb, "src")
        .filter(
            (F.col("du") < F.col("dw"))
            | ((F.col("du") == F.col("dw")) & (F.col("u") < F.col("w")))
        )
        .select(F.col("src").alias("v"), "u", "w")
    )
    closing = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    # r9 (guide §3.1): the closing join streams the O(m^1.5) wedge frame
    # against the O(m) edge set — shuffle_hash builds the hash table on
    # the EDGE side and never sorts the wedges (sort-merge sorted the
    # biggest intermediate in the query for no benefit).
    tri = wedges.join(closing.hint("shuffle_hash"), ["u", "w"]).select(
        "u", "v", "w"
    )
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    ).select(F.col("node").alias("p_partkey"), "n_triangles")


# ---------------------------------------------------------------------------
# Neighborhood Jaccard over co-purchase edges (link-prediction feature).
# ---------------------------------------------------------------------------

_JN_MIN_PAIR = 3
_JN_TOPK = 50

JACCNBR_ORACLE = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_SUPPORT_SQL.format(floor=_JN_MIN_PAIR)}
),
und AS (
  SELECT u, v AS w FROM pairs UNION ALL SELECT v AS u, u AS w FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
cn AS (
  SELECT p.u, p.v, CAST(count(*) AS BIGINT) AS common
  FROM pairs p
  JOIN und a ON a.u = p.u
  JOIN und b ON b.u = p.v AND b.w = a.w
  GROUP BY p.u, p.v
),
scored AS (
  SELECT p.u, p.v,
         coalesce(cn.common, 0) AS common, du.deg AS deg_u, dv.deg AS deg_v,
         round(CAST(coalesce(cn.common, 0) AS DOUBLE)
               / (du.deg + dv.deg - coalesce(cn.common, 0)), 6) AS jaccard
  FROM pairs p
  LEFT JOIN cn ON cn.u = p.u AND cn.v = p.v
  JOIN deg du ON du.u = p.u
  JOIN deg dv ON dv.u = p.v
)
SELECT u, v, common, deg_u, deg_v, jaccard
FROM scored
ORDER BY jaccard DESC, u, v LIMIT {_JN_TOPK}
"""


@query("graph_jaccard_neighbors", JACCNBR_ORACLE)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity for every co-purchase edge —
    |N(u) and N(v)| / |N(u) or N(v)| — the classic link-prediction /
    graph-dedup feature (two products whose co-purchase neighborhoods
    coincide are substitutes). Edges need >= {mp} co-purchases, so the
    graph is support-pruned BEFORE any traversal, the same guard the
    association rules use ([[graph_association_rules]]).

    Scale: common-neighbor counting is edge - adjacency - adjacency:
    each edge (u,v) expands to deg(u) candidate wedges, hash-joined on
    (v, w) — cost sum over edges of deg(u), never |V|^2; degree and the
    final Jaccard are integer arithmetic. Top-{k} with (u, v) tiebreak
    keeps the output bounded. The triangle orientation trick
    ([[graph_triangle_count]]) applies when degrees skew; at this graph's
    support threshold the plain expansion wins.""".format(
        mp=_JN_MIN_PAIR, k=_JN_TOPK
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    d = li.distinct()
    a = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # The support-pruned edge set is SMALL by construction and feeds ten
    # plan consumers (und×6 via deg/na/nb, cn, the final join) — lazy, the
    # basket self-join re-executed ten times (r6 scan census: 20 lineitem
    # scans; AQE stage reuse did NOT collapse them here, unlike
    # [[graph_triangle_count]] where it does and a checkpoint measured
    # slower). Measured: first call 16.0s → 11.8s, warm 2.4s → 2.2s at
    # sf0.1; at 100 TB this is nine avoided fact⋈fact passes.
    pairs = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("pn"))
        .filter(F.col("pn") >= _min_support(spark, sf_dir, _JN_MIN_PAIR))
        .drop("pn")
        .localCheckpoint(eager=True)
    )
    und = pairs.select("u", F.col("v").alias("w")).unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("w"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    na = und.select(F.col("u").alias("_eu"), F.col("w").alias("_w"))
    nb = und.select(F.col("u").alias("_ev"), F.col("w").alias("_w"))
    cn = (
        pairs.join(na, pairs["u"] == na["_eu"])
        .join(nb, (pairs["v"] == nb["_ev"]) & (na["_w"] == nb["_w"]))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    du = deg.select(F.col("u").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    common = F.coalesce(F.col("common"), F.lit(0))
    jac = common.cast("double") / (F.col("deg_u") + F.col("deg_v") - common)
    return (
        pairs.join(cn, ["u", "v"], "left")
        .join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            common.alias("common"),
            "deg_u",
            "deg_v",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(_JN_TOPK)
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-budget peel) over the co-purchase graph.
# ---------------------------------------------------------------------------

_KCORE_K = 80
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    head = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg0 AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg0 FROM pairs GROUP BY src
), alive0 AS (
  SELECT node FROM deg0
)"""
    steps = []
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(f""",
alive{r} AS (
  SELECT p.src AS node
  FROM pairs p
  JOIN alive{r - 1} x ON p.src = x.node
  JOIN alive{r - 1} y ON p.dst = y.node
  GROUP BY p.src
  HAVING count(*) >= {_KCORE_K}
)""")
    tail = f"""
SELECT p_partkey,
       coalesce(d.deg0, 0) AS deg0,
       CAST(a.node IS NOT NULL AS INTEGER) AS in_core
FROM part
LEFT JOIN deg0 d ON d.node = p_partkey
LEFT JOIN alive{_KCORE_ROUNDS} a ON a.node = p_partkey
"""
    return head + "".join(steps) + tail


KCORE_ORACLE = _kcore_oracle()


@query("graph_kcore", KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership (k={_KCORE_K}) of the co-purchase graph by
    iterative peeling: each round drops every node whose degree WITHIN
    the surviving subgraph is below k, for a fixed budget of
    {_KCORE_ROUNDS} rounds — the density screen that isolates the
    mutually-reinforcing cluster of products ([[graph_pagerank_copurchase]]
    ranks globally; the core is the cohesive subgraph itself, the classic
    precursor to community mining and graph-sampling curricula).

    The budget is part of the operator contract (both engines run the
    SAME {_KCORE_ROUNDS} rounds, so the gate is exact regardless);
    peeling at this k empirically reaches its fixpoint in <= 6 rounds at
    every shipped SF (pinned in tests) — at new data, raise the budget or
    loop to fixpoint with the identical per-round plan.

    Scale per round: edges ⨝ alive ⨝ alive (both hash joins on node keys,
    partitioning reused across rounds) + one degree aggregate with a
    HAVING — the shrinking `alive` side makes later rounds cheaper; each
    round is localCheckpoint()ed so lineage stays flat (same hygiene as
    [[dedup_clusters]])."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    # r9: persist the pair frame hash-partitioned on src (was: an eager
    # localCheckpoint whose LogicalRDD reported no partitioning AND
    # unknown size, so every round re-exchanged the pairs twice and
    # sort-merge-joined the tiny alive set). With hash(src) preserved,
    # the per-round degree aggregate needs NO exchange at all, and the
    # alive set — bounded by the part-catalog node count — is broadcast
    # into both membership joins (same bound class as the DBSCAN/banded
    # ε-verify: a node set ≤ 2M rows; past that the pre-r9 shuffle shape
    # is the right one anyway, see _VERIFY_BROADCAST_MAX in dedup.py).
    fan = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .repartition(fan, "src")
        .persist()
    )
    pairs.count()  # materialize once (the former eager checkpoint's job)
    small_nodes = part.count() <= 2_000_000
    deg0 = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg0")).select(
        F.col("src").alias("node"), "deg0"
    )
    alive = deg0.select("node")
    for _ in range(_KCORE_ROUNDS):
        a_src = alive.withColumnRenamed("node", "src")
        a_dst = alive.withColumnRenamed("node", "dst")
        if small_nodes:
            a_src, a_dst = F.broadcast(a_src), F.broadcast(a_dst)
        alive = (
            pairs.join(a_src, "src")
            .join(a_dst, "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
    core = alive.withColumn("in_core_flag", F.lit(1))
    return (
        part.join(deg0, part.p_partkey == deg0.node, "left")
        .drop("node")
        .join(core, part.p_partkey == core.node, "left")
        .select(
            "p_partkey",
            F.coalesce(F.col("deg0"), F.lit(0)).alias("deg0"),
            F.coalesce(F.col("in_core_flag"), F.lit(0)).cast("int").alias("in_core"),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph.
# ---------------------------------------------------------------------------

ASSORT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM pairs GROUP BY src
), e AS (
  SELECT du.d AS x, dv.d AS y
  FROM pairs p JOIN deg du ON du.node = p.src JOIN deg dv ON dv.node = p.dst
), sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(x) AS HUGEINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM e
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS assortativity
FROM sums
"""


@query("graph_assortativity", ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the co-purchase graph: the
    Pearson correlation of endpoint degrees over every directed edge —
    positive means hubs buy with hubs (a core-periphery market,
    [[graph_kcore]]'s core will be dense), negative means hubs bridge
    niches (star topology; sampling by edge oversamples hubs). One
    scalar that tells you which graph-sampling curriculum is safe.

    Exactness: degrees are integers; the moment sums widen to
    decimal/HUGEINT before products and convert to double once
    (the [[q_spearman_corr]] discipline).

    Scale: degree table = one groupBy over edges; the edge⋈degree⋈degree
    expansion is two hash joins on node keys; the correlation collapses
    in ONE map-side-combinable aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("src").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("src").alias("v"), F.col("d").alias("y"))
    e = pairs.join(du, pairs.src == F.col("u")).join(dv, pairs.dst == F.col("v"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Degree distribution of the co-purchase graph (log2-binned histogram).
# ---------------------------------------------------------------------------

DEGDIST_ORACLE = """
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT u AS node, count(*) AS dg FROM (
    SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
  ) GROUP BY u
), binned AS (
  SELECT CAST(floor(log2(dg)) AS INT) AS log2_bin, dg FROM deg
)
SELECT log2_bin,
       CAST(power(2, log2_bin) AS BIGINT) AS min_degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS node_share,
       CAST(max(dg) AS BIGINT) AS max_degree_in_bin
FROM binned GROUP BY log2_bin
"""


@query("graph_degree_distribution", DEGDIST_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree histogram of the co-purchase graph — the
    first thing to read off any graph before running
    [[graph_triangle_count]] / [[graph_pagerank_copurchase]] on it: a
    heavy tail here is the skew that degree-ORIENTED triangle counting
    and salted joins exist for, and the bin populations are the evidence
    behind SCALE.md's O(m^1.5) wedge-bound claim. floor(log2(d)) on
    exact integer degrees is an integer in both engines (log2 of an
    int is well clear of representation boundaries at graph scales).

    Scale: basket-capped edge generation as in the other graph ops,
    one degree aggregate, then a ≤log2(max-degree)-row histogram with
    its share window on that bounded frame."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    d = li.distinct()
    a = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = d.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    und = a.join(b, "ok").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    sym = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    binned = deg.select(F.floor(F.log2("dg")).cast("int").alias("log2_bin"), "dg")
    wg = W.partitionBy()
    return binned.groupBy("log2_bin").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("dg").alias("mx"),
    ).select(
        "log2_bin",
        F.pow(F.lit(2.0), F.col("log2_bin")).cast("bigint").alias("min_degree"),
        "n_nodes",
        F.round(
            F.col("n_nodes") / F.sum("n_nodes").over(wg).cast("double"), 6
        ).alias("node_share"),
        F.col("mx").cast("bigint").alias("max_degree_in_bin"),
    )
