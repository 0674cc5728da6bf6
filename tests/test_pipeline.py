"""End-to-end pipeline, workload generator, and SQL/DDL surface tests."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from debezium_cdc_kafka_spark.operators.cdc import decode_envelope
from debezium_cdc_kafka_spark.pipeline import expected_final_state, run_pipeline
from debezium_cdc_kafka_spark.sources.workload import (
    CUSTOMERS_STATE_SCHEMA,
    synthetic_people,
    workload_change_events,
)
from debezium_cdc_kafka_spark.sql_surface import (
    TARGET_DDL_COLUMNS,
    execute_sql,
    init_target_table,
)


def test_synthetic_people_deterministic_and_sanitized(spark):
    p1 = synthetic_people(spark, 50).collect()
    p2 = synthetic_people(spark, 50).collect()
    assert [tuple(r) for r in p1] == [tuple(r) for r in p2]
    for r in p1:
        assert "'" not in r.first_name + r.last_name  # generate.py:26–27 contract
        assert r.email.endswith("@example.com")


def test_anti_double_delete_rule(spark):
    """generate.py:133–134: a delete immediately after a delete (per key)
    is rewritten to an insert — no two consecutive deletes survive."""
    out = decode_envelope(workload_change_events(spark, 40, 5000), CUSTOMERS_STATE_SCHEMA)
    w = W.partitionBy("id").orderBy("offset")
    consecutive = (
        out.withColumn("prev", F.lag("op").over(w))
        .filter((F.col("op") == "d") & (F.col("prev") == "d"))
        .count()
    )
    assert consecutive == 0
    # and the rewrite actually fired (raw stream had some d-after-d)
    assert out.filter(F.col("op") == "c").count() > 0


def test_ddl_init_idempotent(spark):
    name = init_target_table(spark)
    name2 = init_target_table(spark)  # second run must not fail
    assert name == name2
    cols = [(f.name, f.dataType.simpleString()) for f in spark.table(name).schema.fields]
    # the replica's columns are the customers row the envelopes carry: a
    # long id (Parquet tables report every column nullable, so NOT NULL is
    # checked on the DDL itself)
    assert cols == [
        ("id", "bigint"),
        ("first_name", "string"),
        ("last_name", "string"),
        ("email", "string"),
    ]
    assert TARGET_DDL_COLUMNS.startswith("id BIGINT NOT NULL,")
    assert execute_sql(spark, f"SELECT count(*) FROM {name}") is not None


def test_full_pipeline_replicates_workload(spark, tmp_path):
    """Generator → topic spool → consumer → replica equals one-shot replay
    (the reference's DBeaver-diff acceptance check, automated)."""
    got = run_pipeline(spark, str(tmp_path), n_people=60, n_ops=1500, n_topic_files=4)
    expected = expected_final_state(spark, n_people=60, n_ops=1500)
    g = {r.id: (r.first_name, r.last_name, r.email) for r in got.collect()}
    e = {r.id: (r.first_name, r.last_name, r.email) for r in expected.collect()}
    assert g == e
    assert len(g) > 0
