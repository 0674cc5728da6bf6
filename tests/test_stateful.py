"""applyInPandasWithState + dead-letter sink tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_cdc_kafka_spark.catalog import load_table
from debezium_cdc_kafka_spark.streaming.stateful import running_user_stats
from tests.conftest import SF_SMOKE, drop_last_commit


def test_running_user_stats_accumulates_across_batches(spark, tmp_path):
    d = str(tmp_path / "stream")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(4).write.parquet(d)

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per key per batch; the LAST emission per key
    # is the final running aggregate
    final = spark.sql(
        """
        SELECT user_id, n_events, total_value, max_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM user_stats
        ) WHERE rn = 1
        """
    ).collect()
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
