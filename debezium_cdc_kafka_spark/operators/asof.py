"""As-of join — the canonical operator Spark lacks natively.

Semantics: for each left row (event), attach the most recent right row
(order) with the same key and right.time <= left.time.

Implementation is the SCALE pattern, not per-group pandas: union both
sides tagged, one shuffle on the key, one ordered window pass carrying
the last-seen right row forward (`last(..., ignorenulls)`), keep left
rows. Cost: one exchange + one sort — identical shape to a sort-merge
join, no driver loops, no `merge_asof` memory cliffs. (A Pandas-UDF
`merge_asof` per group is the fallback when the window state per key
must stay bounded; not needed here.)

The oracle uses the SAME union+window construction in SQL (DuckDB's
native ASOF JOIN breaks ties unspecified; this construction pins the
tiebreak to the highest o_orderkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import registrar

QUERIES, ORACLES, query = registrar()


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_left: str,
    key_right: str,
    time_left: str,
    time_right: str,
    right_cols: list[str],
    tiebreak: str,
    direction: str = "backward",
) -> DataFrame:
    """Generic as-of join via union + keyed window. `tiebreak` is a right
    column making equal-timestamp matches deterministic (the MAX tiebreak
    wins in both directions). direction='backward' attaches the most
    recent right row at-or-before the left time; 'forward' the earliest
    right row at-or-after it (same single window pass, traversed in
    descending time)."""
    lt = left.select(
        F.col(key_left).alias("_k"),
        F.col(time_left).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast("long").alias("_tb"),
        "*",
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(c) for c in right_cols],
    )
    rt = right.select(
        F.col(key_right).alias("_k"),
        F.col(time_right).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.col(tiebreak).cast("long").alias("_tb"),
        *[F.lit(None).cast(t).alias(c) for c, t in left.dtypes],
        *right_cols,
    )
    unioned = lt.unionByName(rt)
    # order: time, then right-before-left at equal times (an order AT the
    # event time matches), then tiebreak ASC so the winning right row —
    # the last one carried into the window — is the MAX tiebreak in both
    # directions (forward traverses time descending, but the within-tie
    # order is the same)
    if direction == "backward":
        order = [F.col("_t"), F.col("_is_left"), F.col("_tb").asc_nulls_last()]
    elif direction == "forward":
        order = [F.col("_t").desc(), F.col("_is_left"), F.col("_tb").asc_nulls_last()]
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    w = (
        W.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in right_cols
        ],
    )
    return (
        carried.filter(F.col("_is_left") == 1)
        .drop("_k", "_t", "_is_left", "_tb", *right_cols)
        .select(
            *[c for c, _ in left.dtypes],
            *[F.col(f"_asof_{c}").alias(c) for c in right_cols],
        )
    )


ASOF_ORACLE = """
WITH tagged AS (
  SELECT user_id AS k, ts AS t, 1 AS is_left, NULL::BIGINT AS tb,
         event_id, event_type, NULL::BIGINT AS o_orderkey, NULL::TIMESTAMP AS o_orderdate
  FROM events
  UNION ALL
  SELECT o_custkey AS k, o_orderdate AS t, 0 AS is_left, o_orderkey AS tb,
         NULL::BIGINT AS event_id, NULL::VARCHAR AS event_type, o_orderkey, o_orderdate
  FROM orders
),
carried AS (
  SELECT *,
    last_value(o_orderkey IGNORE NULLS) OVER w   AS asof_orderkey,
    last_value(o_orderdate IGNORE NULLS) OVER w  AS asof_orderdate
  FROM tagged
  WINDOW w AS (PARTITION BY k ORDER BY t, is_left, tb ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, k AS user_id, event_type,
       asof_orderkey AS last_orderkey,
       strftime(asof_orderdate, '%Y-%m-%d') AS last_orderdate
FROM carried WHERE is_left = 1 AND event_id % 10 = 0
"""


@query("q_asof_last_order", ASOF_ORACLE)
def q_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each (10th) event joined as-of to the user's most recent order at
    event time — stream-to-dimension temporal enrichment (FIXTURES.md's
    events.user_id→customer key ride)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join(
        ev,
        orders,
        key_left="user_id",
        key_right="o_custkey",
        time_left="ts",
        time_right="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    )
    return joined.filter(F.col("event_id") % 10 == 0).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("o_orderkey").alias("last_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_orderdate"),
    )


ASOF_FWD_ORACLE = """
WITH tagged AS (
  SELECT user_id AS k, ts AS t, 1 AS is_left, NULL::BIGINT AS tb,
         event_id, event_type, NULL::BIGINT AS o_orderkey, NULL::TIMESTAMP AS o_orderdate
  FROM events
  UNION ALL
  SELECT o_custkey AS k, o_orderdate AS t, 0 AS is_left, o_orderkey AS tb,
         NULL::BIGINT AS event_id, NULL::VARCHAR AS event_type, o_orderkey, o_orderdate
  FROM orders
),
carried AS (
  SELECT *,
    last_value(o_orderkey IGNORE NULLS) OVER w   AS asof_orderkey,
    last_value(o_orderdate IGNORE NULLS) OVER w  AS asof_orderdate
  FROM tagged
  WINDOW w AS (PARTITION BY k ORDER BY t DESC, is_left, tb ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, k AS user_id, event_type,
       asof_orderkey AS next_orderkey,
       strftime(asof_orderdate, '%Y-%m-%d') AS next_orderdate
FROM carried WHERE is_left = 1 AND event_id % 10 = 0
"""


@query("q_asof_next_order", ASOF_FWD_ORACLE)
def q_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each (10th) event joined to the user's EARLIEST
    order at-or-after the event — attribution's "did the signup convert"
    shape. Same one-shuffle union+window plan as the backward join,
    traversed in descending time."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join(
        ev,
        orders,
        key_left="user_id",
        key_right="o_custkey",
        time_left="ts",
        time_right="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
        direction="forward",
    )
    return joined.filter(F.col("event_id") % 10 == 0).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("o_orderkey").alias("next_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("next_orderdate"),
    )


# ---------------------------------------------------------------------------
# Nearest as-of with tolerance (the pandas merge_asof direction='nearest'
# shape, distributed).
# ---------------------------------------------------------------------------

_NEAREST_TOL_DAYS = 30

ASOF_NEAREST_ORACLE = f"""
WITH tagged AS (
  SELECT user_id AS k, ts AS t, 1 AS is_left, NULL::BIGINT AS tb,
         event_id, NULL::BIGINT AS o_orderkey, NULL::TIMESTAMP AS o_orderdate
  FROM events
  UNION ALL
  SELECT o_custkey AS k, o_orderdate AS t, 0 AS is_left, o_orderkey AS tb,
         NULL::BIGINT AS event_id, o_orderkey, o_orderdate
  FROM orders
),
bwd AS (
  SELECT event_id, k,
    last_value(o_orderkey IGNORE NULLS) OVER w  AS b_key,
    last_value(o_orderdate IGNORE NULLS) OVER w AS b_date
  FROM tagged
  WINDOW w AS (PARTITION BY k ORDER BY t, is_left, tb ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  QUALIFY is_left = 1
),
fwd AS (
  SELECT event_id,
    last_value(o_orderkey IGNORE NULLS) OVER w  AS f_key,
    last_value(o_orderdate IGNORE NULLS) OVER w AS f_date
  FROM tagged
  WINDOW w AS (PARTITION BY k ORDER BY t DESC, is_left, tb ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  QUALIFY is_left = 1
),
ev AS (
  SELECT b.event_id, b.k AS user_id,
         b.b_key, b.b_date, f.f_key, f.f_date,
         CASE WHEN b.b_key IS NULL THEN NULL
              ELSE date_diff('day', CAST(b.b_date AS DATE), CAST(e.ts AS DATE))
         END AS db,
         CASE WHEN f.f_key IS NULL THEN NULL
              ELSE date_diff('day', CAST(e.ts AS DATE), CAST(f.f_date AS DATE))
         END AS df
  FROM bwd b JOIN fwd f USING (event_id)
  JOIN events e USING (event_id)
),
pick AS (
  SELECT event_id, user_id,
    CASE
      WHEN db IS NOT NULL AND db <= {_NEAREST_TOL_DAYS}
           AND (df IS NULL OR df > {_NEAREST_TOL_DAYS} OR db <= df) THEN 'b'
      WHEN df IS NOT NULL AND df <= {_NEAREST_TOL_DAYS} THEN 'f'
      ELSE 'none'
    END AS side, b_key, b_date, f_key, f_date, db, df
  FROM ev
)
SELECT event_id, user_id, side,
  CASE side WHEN 'b' THEN b_key WHEN 'f' THEN f_key END AS nearest_orderkey,
  CASE side WHEN 'b' THEN strftime(b_date, '%Y-%m-%d')
            WHEN 'f' THEN strftime(f_date, '%Y-%m-%d') END AS nearest_orderdate,
  CAST(CASE side WHEN 'b' THEN db WHEN 'f' THEN df END AS INT) AS delta_days
FROM pick WHERE event_id % 10 = 0
"""


@query("q_asof_nearest_tolerance", ASOF_NEAREST_ORACLE)
def q_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join with a tolerance window — pandas
    ``merge_asof(direction='nearest', tolerance=...)`` semantics,
    distributed: each (10th) event attaches whichever of the user's
    latest-at-or-before / earliest-after orders is closer in days, ties
    to the backward side, and matches farther than 30 days on BOTH
    sides report side='none'. This is the sensor-alignment shape
    (align a reading to the closest calibration within tolerance) that
    neither Spark nor most engines ship natively.

    Scale: two keyed union+window passes (one backward, one forward —
    each the [[q_asof_last_order]] plan, a single shuffle on the key)
    and an event_id-keyed join of their 3-column outputs; no pair
    blowup, no per-group pandas, tolerance applied as a post-map."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    common = dict(
        key_left="user_id",
        key_right="o_custkey",
        time_left="ts",
        time_right="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    )
    bwd = asof_join(ev, orders, direction="backward", **common).select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderdate").alias("b_date"),
    )
    fwd = asof_join(ev, orders, direction="forward", **common).select(
        "event_id",
        F.col("o_orderkey").alias("f_key"),
        F.col("o_orderdate").alias("f_date"),
    )
    j = bwd.join(fwd, "event_id")
    db = F.when(
        F.col("b_key").isNotNull(), F.datediff(F.to_date("ts"), F.to_date("b_date"))
    )
    df_ = F.when(
        F.col("f_key").isNotNull(), F.datediff(F.to_date("f_date"), F.to_date("ts"))
    )
    tol = _NEAREST_TOL_DAYS
    side = (
        F.when(
            db.isNotNull()
            & (db <= tol)
            & (df_.isNull() | (df_ > tol) | (db <= df_)),
            F.lit("b"),
        )
        .when(df_.isNotNull() & (df_ <= tol), F.lit("f"))
        .otherwise(F.lit("none"))
    )
    j = j.select(
        "event_id", "user_id", side.alias("side"), "b_key", "b_date", "f_key", "f_date",
        db.alias("db"), df_.alias("df")
    )
    pick = lambda b, f: F.when(F.col("side") == "b", F.col(b)).when(  # noqa: E731
        F.col("side") == "f", F.col(f)
    )
    return j.filter(F.col("event_id") % 10 == 0).select(
        "event_id",
        "user_id",
        "side",
        pick("b_key", "f_key").alias("nearest_orderkey"),
        F.date_format(pick("b_date", "f_date"), "yyyy-MM-dd").alias("nearest_orderdate"),
        pick("db", "df").cast("int").alias("delta_days"),
    )
