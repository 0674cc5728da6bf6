"""Fixed costs the session settings remove (`session.get_spark`): classes
recompiled because the generated-class cache is too small, py4j round
trips spent capturing Python call sites, and a batch CDC query that parses
every record twice."""

from __future__ import annotations

import random

import pyspark.errors.utils
from py4j import protocol as proto
from pyspark.sql import functions as F

from debezium_cdc_kafka_spark import registry
from debezium_cdc_kafka_spark.operators import cdc
from debezium_cdc_kafka_spark.plans.inspect import codegen_stats, executed_plan
from tests.conftest import SF_ORACLE, SF_SMOKE

# perfbench's queries_modules set: one pass generates ~180 classes, more
# than Spark's default cache of 100 holds
QUERIES_MODULES = (
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "cdc_final_state",
    "q_sessionize_30m",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "text_quality_stats",
    "q02_min_cost_supplier",
    "q_funnel_3step",
    "q_dsir_weights",
)


def _compiles(spark, work) -> int:
    c0 = codegen_stats(spark)["compiles"]
    work()
    return codegen_stats(spark)["compiles"] - c0


def test_codegen_stats_counts_compiles(spark):
    # a literal unique to this run is inlined into the generated code, so
    # the first run compiles a class no earlier test did
    salt = random.randrange(1 << 40)
    df = spark.range(3).select((F.col("id") * 7 + F.lit(salt)).alias("x"))
    before = codegen_stats(spark)
    assert df.collect()[2].x == salt + 14
    after = codegen_stats(spark)
    assert after["compiles"] > before["compiles"]
    assert after["compile_ms"] > before["compile_ms"]
    assert after["metaspace_mb"] > 0
    # the same code again is a cache hit
    assert _compiles(spark, df.collect) == 0


def test_second_pass_over_more_classes_than_the_default_cache_compiles_nothing(spark):
    """120 queries, each with code of its own: more classes than Spark's
    default cache (100) holds, so at that size the second pass recompiles
    every one of them."""
    salt = random.randrange(1 << 40)
    frames = [spark.range(2).select((F.col("id") + F.lit(salt + k)).alias("x"))
              for k in range(120)]

    def one_pass():
        for df in frames:
            df.collect()

    assert _compiles(spark, one_pass) >= 120
    assert _compiles(spark, one_pass) == 0


def test_registry_second_pass_compiles_nothing(spark):
    """The queries_modules set, twice: the second pass is all cache hits
    (about 170 classes were recompiled with the default cache)."""
    queries = registry.all_queries()

    def one_pass():
        for name in QUERIES_MODULES:
            queries[name](spark, SF_SMOKE).count()

    one_pass()
    assert _compiles(spark, one_pass) == 0


def test_cdc_final_state_builds_in_few_py4j_commands(spark, monkeypatch):
    """With call-site capture on, each Column call costs ~4 extra py4j
    round trips: building cdc_final_state took ~1,650 commands. Counted
    without the object releases py4j's finalizer thread sends whenever
    Python collects garbage."""
    # PySpark reads spark.python.sql.dataFrameDebugging.enabled once per
    # process and caches it: read it again from the test session
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith(proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    cdc.cdc_final_state(spark, SF_ORACLE)
    monkeypatch.undo()
    assert 0 < len(sent) <= 1000


def test_batch_cdc_parses_each_record_once(spark):
    plan = executed_plan(cdc.cdc_final_state(spark, SF_ORACLE))
    assert plan.count("from_json(") == 1, plan
