"""Running per-user stats stream + dead-letter sink tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.catalog import load_table
from debezium_cdc_kafka_spark.streaming.stateful import running_user_stats
from tests.conftest import SF_SMOKE, drop_last_commit


def _final_user_stats(spark, schema, d, name):
    """Drain `running_user_stats` over the files in ``d`` (one per batch)
    and return each user's final row."""
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per key per batch; the LAST emission per key
    # is the final running aggregate
    return spark.sql(
        f"""
        SELECT user_id, n_events, total_value, max_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM {name}
        ) WHERE rn = 1
        """
    ).collect()


def test_running_user_stats_accumulates_across_batches(spark, tmp_path):
    d = str(tmp_path / "stream")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(4).write.parquet(d)

    final = _final_user_stats(spark, ev.schema, d, "user_stats")
    got = {r.user_id: (r.n_events, r.total_value, r.max_value) for r in final}
    expected = {
        r.user_id: (r.n, round(r.s, 2), r.m)
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"), F.max("value").alias("m"))
        .collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0], k
        assert abs(got[k][1] - expected[k][1]) < 0.05, k
        assert got[k][2] == expected[k][2], k


def test_running_user_stats_null_and_nan_match_batch_groupby(spark, tmp_path):
    """A null value counts as an event and adds nothing; a NaN makes its
    user's sum and max NaN, as the batch groupBy has them."""
    nan = float("nan")
    rows = [(1, 1.0), (1, None), (2, 1.0), (2, nan), (3, None), (1, 2.5), (2, 3.0), (3, None)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    d = str(tmp_path / "stream")
    df.coalesce(1).write.parquet(d)
    for part in (df.filter("user_id = 1"), df.filter("user_id > 1")):
        part.coalesce(1).write.mode("append").parquet(d)
    final = _final_user_stats(spark, df.schema, d, "user_stats_nan")
    want = (
        spark.read.parquet(d)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    )
    # NaN != NaN: compare through repr
    as_set = lambda rs: {tuple(map(repr, r)) for r in rs}  # noqa: E731
    assert as_set(final) == as_set(want)
    got = {r.user_id: r for r in final}
    assert {k: r.n_events for k, r in got.items()} == {1: 6, 2: 6, 3: 4}
    assert (got[1].total_value, got[1].max_value) == (7.0, 2.5)
    assert math.isnan(got[2].total_value) and math.isnan(got[2].max_value)
    assert (got[3].total_value, got[3].max_value) == (None, None)


def test_dead_letter_sink_quarantines_malformed(spark, tmp_path):
    from debezium_cdc_kafka_spark.sources.cdc_events import (
        MALFORMED_MOD,
        MALFORMED_REM,
        RECORD_SCHEMA,
        derive_change_events,
    )
    from debezium_cdc_kafka_spark.streaming.cdc_stream import (
        file_change_stream,
        run_cdc_stream,
    )

    env_dir = str(tmp_path / "env")
    derive_change_events(spark, SF_SMOKE).repartition(3).write.parquet(env_dir)
    dl_dir = str(tmp_path / "dead_letter")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = run_cdc_stream(
            spark,
            file_change_stream(spark, env_dir),
            str(tmp_path / "target"),
            ckpt,
            dead_letter_path=dl_dir,
        )
        q.awaitTermination(120)

    drain()
    dead = spark.read.parquet(dl_dir)
    n_expected = (
        load_table(spark, SF_SMOKE, "events")
        .filter((F.col("event_id") % MALFORMED_MOD) == MALFORMED_REM)
        .count()
    )
    assert dead.count() == n_expected
    # each dead letter is the whole record, with why and when it was kept
    assert dead.columns == [*RECORD_SCHEMA.names, "reason", "epoch"]
    assert {r.reason for r in dead.select("reason").distinct().collect()} == {"malformed"}
    assert {r.value for r in dead.select("value").distinct().collect()} == {'{"payload": <corrupt>'}
    bad_events = {(r.offset // 2) % MALFORMED_MOD for r in dead.select("offset").collect()}
    assert bad_events == {MALFORMED_REM}

    # crash between apply and checkpoint commit: the last epoch replays on
    # restart and must not quarantine its rows a second time
    drop_last_commit(ckpt)
    drain()
    assert spark.read.parquet(dl_dir).count() == n_expected
