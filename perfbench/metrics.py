"""The benchmark's metric table: one source for run.py's output and for
BENCHMARK.json (test_perfbench.py checks that the two agree).

Every workload prints every metric.  A per-layer metric of a layer the
workload never calls reads 0 (no calls, no time); end-to-end metrics are
defined for every workload and are never 0.
"""

# name → (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "mb_per_s": ("MB/s", "higher"),
}

# Span types whose Spark jobs are summed into the engine metrics.
ENGINE_SPANS = {
    "put_blobs": "lake.put_blobs",
    "sink_write": "sink.write",
    "get": "lake.get",
    "get_blobs": "store.get_blobs",
    "compact": "store.compact",
    "query_build": "query.build",
    "query_exec": "query.exec",
}
ENGINE_FIELDS = {
    "job_ms": "ms",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "shuffle_bytes": "bytes",
}

PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "io.load_table_ms.hit": ("ms", "lower"),
    "io.load_table_ms.miss": ("ms", "lower"),
    "io.load_table_calls": ("count", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "queries.jobs": ("count", "lower"),
    "queries.driver_gap_s": ("s", "lower"),
    "lake.put_blobs_s": ("s", "lower"),
    "lake.get_ms": ("ms", "lower"),
    "lake.stores_probed_per_get": ("count", "lower"),
    "store.create_ms": ("ms", "lower"),
    "store.put_blobs_s": ("s", "lower"),
    "store.put_blobs_jobs": ("count", "lower"),
    "store.new_chunk_ratio": ("ratio", "lower"),
    "store.files_added_per_put": ("count", "lower"),
    "store.compact_s": ("s", "lower"),
    "store.compact_bytes_rewritten": ("bytes", "lower"),
    "store.disk_bytes_per_live_byte": ("ratio", "lower"),
    "store.disk_bytes_per_user_byte": ("ratio", "lower"),
    "sink.write_s": ("s", "lower"),
    "sink.write_jobs": ("count", "lower"),
    "store.get_ms.raw": ("ms", "lower"),
    "store.get_ms.enc": ("ms", "lower"),
    "store.get_ms.tree": ("ms", "lower"),
    "store.get_jobs": ("count", "lower"),
    "store.get_miss_ms": ("ms", "lower"),
    "store.get_blobs_s": ("s", "lower"),
    "store.get_blobs_jobs": ("count", "lower"),
    "store.get_blobs_mb_s": ("MB/s", "higher"),
    "crypto.encrypt_mb_s": ("MB/s", "higher"),
    "crypto.decrypt_mb_s": ("MB/s", "higher"),
    "crypto.decrypt_ms_per_get": ("ms", "lower"),
    "hkey.decode_us": ("us", "lower"),
    **{f"spark.{span}.{field}": (unit, "lower")
       for span in ENGINE_SPANS for field, unit in ENGINE_FIELDS.items()},
    "trace.spans": ("count", "lower"),
    "trace.span_cost_ms": ("ms", "lower"),
    "trace.op_p50_ms": ("ms", "lower"),
    "trace.mb_per_s": ("MB/s", "higher"),
}
