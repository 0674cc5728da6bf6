"""Cogrouped applyInPandas: the two-sided grouped-Pandas API (the last
uncovered corner of the Python UDF matrix — scalar pandas_udf, grouped
applyInPandas/mapInPandas and UDTF are covered elsewhere). The pandas
cogroup must reproduce exactly what the equivalent JVM join+aggregate
computes."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.catalog import load_table
from tests.conftest import SF_SMOKE


def test_cogroup_apply_matches_join_aggregate(spark):
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_custkey").alias("key"), "o_totalprice"
    )
    events = load_table(spark, SF_SMOKE, "events").select(
        F.col("user_id").alias("key"), "value"
    )

    def summarize(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        key = left["key"].iloc[0] if len(left) else right["key"].iloc[0]
        return pd.DataFrame(
            {
                "key": [key],
                "n_orders": [len(left)],
                "n_events": [len(right)],
                "max_order_cents": [
                    int(round(left["o_totalprice"].max() * 100)) if len(left) else 0
                ],
            }
        )

    got = {
        tuple(r)
        for r in orders.groupby("key")
        .cogroup(events.groupby("key"))
        .applyInPandas(
            summarize, "key long, n_orders long, n_events long, max_order_cents long"
        )
        .collect()
    }

    jvm = (
        orders.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.max("o_totalprice") * 100).cast("long").alias("max_order_cents"),
        )
        .join(
            events.groupBy("key").agg(F.count(F.lit(1)).alias("n_events")),
            "key",
            "full_outer",
        )
        .select(
            "key",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("max_order_cents", F.lit(0)).alias("max_order_cents"),
        )
    )
    expected = {tuple(r) for r in jvm.collect()}
    assert got == expected
    assert len(expected) > 0
