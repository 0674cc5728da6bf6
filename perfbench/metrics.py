"""Names and units of the benchmark's metrics, as BENCHMARK.json declares
them; README.md says what each measures and what it should move."""

E2E = {
    "cpu_ms_per_op": "ms",
    "setup_s": "s",
}
STREAM_LAYERS = {
    "engine.source_ms": "ms",
    "engine.planning_ms": "ms",
    "engine.checkpoint_ms": "ms",
    "engine.add_batch_ms": "ms",
    "cdc_stream.read_ms": "ms",
    "cdc_stream.commit_ms": "ms",
    "cdc_stream.rows_written": "count",
    "cdc_stream.bytes_written": "B",
    "cdc_stream.write_amplification": "ratio",
    "cdc_stream.stored_bytes_per_event": "B/event",
    "cdc.apply_build_ms": "ms",
    "cdc.decoded_rows": "count",
    "cdc.malformed_rows": "count",
    "cdc.reduce_ratio": "ratio",
    "exec.jobs_per_batch": "count",
    "exec.tasks_per_batch": "count",
    "exec.shuffle_bytes_per_batch": "B",
    "exec.run_ms_per_batch": "ms",
}
QUERY_MODULES = ("relational", "cdc", "dedup", "similarity", "text", "curation",
                 "behavior", "partsupp", "windows")
MODULE_METRICS = {"build_s": "s", "execute_s": "s", "build_jobs": "count",
                  "execute_jobs": "count", "shuffle_bytes": "B"}
QUERY_LAYERS = {f"{m}.{k}": u for m in QUERY_MODULES for k, u in MODULE_METRICS.items()}
LAYERS = {**STREAM_LAYERS, **QUERY_LAYERS, "trace.overhead_pct": "%"}
