"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a real cluster: the configs below are the ones
that keep the same physical plans valid at 100 TB (AQE on, sensible shuffle
partitioning, broadcast threshold, UTC timestamps for oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# One pass over the whole registry compiles 4,232 distinct classes at
# sf0.001 and 4,246 at sf0.01 (local[4], unbounded cache; a second pass
# recompiles 238, the queries whose code changes per run): the smallest
# round value that holds them all.
CODEGEN_CACHE_CLASSES = 5000


def _initial_heap_opts(driver_mem: str) -> str:
    """JVM options pre-sizing the heap to 3/4 of ``spark.driver.memory``.

    Spark forbids -Xmx in extraJavaOptions but -Xms is fine. Falls back to
    GC choice only if the memory string isn't a simple "<n>g"/"<n>m"."""
    mem = driver_mem.strip().lower()
    xms = ""
    if mem.endswith(("g", "m")) and mem[:-1].isdigit():
        qty = int(mem[:-1]) * (1024 if mem.endswith("g") else 1)  # MiB
        xms = f"-Xms{max(qty * 3 // 4, 512)}m "
    return f"{xms}-XX:+UseG1GC -XX:+AlwaysPreTouch"


def get_spark(
    app_name: str = "debezium_cdc_kafka_spark",
    cpus: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Notes for cluster scale:
    - ``spark.sql.shuffle.partitions`` is set to the local core count here;
      on a real cluster leave AQE's coalescing to right-size post-shuffle
      partitions (``spark.sql.adaptive.coalescePartitions.enabled``).
    - AQE skew-join handling is enabled so hot keys in big joins split.
    - Arrow is enabled for the Pandas-UDF paths (similarity/multimodal).
    - Session timezone pinned to UTC so timestamps hash identically against
      the DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    n = cpus or DEFAULT_CPUS
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python-worker connect-back timeout (default 15s): on a fully
        # loaded box, forking+importing a Python worker for a Python
        # DataSource / pandas-UDF stage can exceed 15s and fail the whole
        # query with SocketTimeoutException even though nothing is wrong
        # (observed once in r6's full-suite run while a concurrent Spark
        # job saturated all 32 cores). 120s makes worker spawn robust to
        # CPU contention; it costs nothing when the box is idle because
        # the wait ends as soon as the worker connects.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.driver.memory", driver_mem)
        # Pre-size and pre-touch the heap: with the default tiny -Xms, the
        # first executions of allocation-heavy codegen (md5/shingle passes)
        # pay G1 heap-expansion + page-fault stalls — observed 8-21s first
        # reps at sf0.1 vs a 1.5-2s steady state. -Xms at 3/4 of -Xmx plus
        # AlwaysPreTouch moves that cost to JVM startup, once.
        .config("spark.driver.extraJavaOptions", _initial_heap_opts(driver_mem))
        # UI off (test/bench noise); stage metrics are still read from the
        # driver's status store (plans.inspect.group_stages)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # r9 note (guide §6): a spark.sql.files.minPartitionNum floor at
        # the core count was A/B-tested and REJECTED — it parallelizes the
        # few fused-scan-heavy stages (q01/q06/pagerank ~10% faster) but
        # taxes the many sub-second queries with 32-way task overhead
        # (setops/sessionize/cdc_final_state +15–30%, bracketed off/on/off
        # runs). The 100 TB answer is file layout (many ≥128 MB files),
        # not a split floor on one small file.
        # Generated-class cache (JVM-wide, static). Spark's default of 100
        # entries is smaller than one pass of perfbench's ten
        # queries_modules queries (~180 classes), so every pass
        # recompiled ~175 of them (~1.3 s of Janino time, read from
        # CodegenMetrics). Holding the whole registry costs metaspace,
        # not heap: 77 → 222 MB over a first registry pass.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_CLASSES))
        # PySpark captures the Python call site of every DataFrame/Column
        # API call (a stack walk plus ~4 py4j round trips per call), only
        # to print Python file:line lines in an error's DataFrame query
        # context. Off, building cdc_final_state takes 575 py4j commands
        # instead of 1,644. Errors keep their error class and message;
        # only those Python file:line lines go.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Streaming checkpoints through FileSystem.rename instead of
        # FileContext: without libhadoop, FileContext renames fork
        # `readlink` (104 forks per 4-batch cdc_update drain, none with
        # this manager). Local and HDFS renames are atomic, which is all
        # the manager needs.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_persisted(spark: SparkSession) -> None:
    """Free cached tables AND pinned RDD blocks (localCheckpoint output).

    `catalog.clearCache()` only drops SQL-cache entries; the blocks behind
    `localCheckpoint(eager=True)` stay pinned in the BlockManager until the
    DataFrame is garbage-collected on the driver, which Python's lazy GC can
    defer indefinitely. A 295-query sweep accumulates hundreds of such
    blocks; the resulting memory pressure measurably degrades later queries
    (r9: ann_pq_adc read 64 s mid-sweep vs 5.1 s isolated — same code, same
    data). Harnesses call this BETWEEN timed regions, so the timing
    methodology is unchanged; it just stops query N's leftovers from taxing
    query N+1."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
