"""Names and units of every metric the benchmark reports.

BENCHMARK.json lists the same names; ``python3 perfbench/metrics.py``
prints its ``end_to_end`` and ``per_layer`` entries.
"""

from __future__ import annotations

import json

#: name -> (unit, bound). Every workload reports every one of these.
END_TO_END = {
    # Set-up: session start, package shipping, the workload's set-up
    # (base load, endpoint, stream start) and its warm-up.
    "setup_s": ("s", 0.25),
    # Input arrival to visible result, median. ingest_live: an item's due
    # time at the producer to the return of the merge that commits it.
    # batch_refresh: an increment landing to the dashboard view answering
    # at the new version. (A refresh run has too few cycles for a tail.)
    "freshness_p50_s": ("s", 0.25),
    # Work per second. ingest_live: burst items over the time to commit
    # them all. batch_refresh: increment rows over ETL time.
    "items_per_s": ("1/s", 0.25),
    # One client request's round trip, median. ingest_live: PRODUCE to
    # the broker's ack. batch_refresh: a dashboard page load, its four
    # charts one statement after another over JDBC, each chart at its
    # median statement time.
    "rtt_p50_ms": ("ms", 0.25),
}

#: Layers whose Spark jobs a traced run attributes, and the counters summed
#: over each layer's tasks.
ATTRIBUTED = ("upsert", "pipeline", "ivm", "serving")
COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
}
#: Self time inside the timed window, by layer; ``unspanned`` is window
#: time no layer span covers (stream scheduling between micro-batches),
#: ``bench`` the benchmark's own work (generating increments).
SELF = ("unspanned", "bench", "pipeline", "upsert", "ivm", "serving")

#: name -> unit. A traced run reports every one; a layer the workload does
#: not exercise reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.ship_package_s": "s",
    # Summed peak resident set of the workload process and its direct
    # children (the JVM, the producer). Per-layer only: the JVM's peak
    # varied by a third between otherwise equal runs.
    "session.peak_rss_mb": "MB",
    "setup.workload_s": "s",
    "setup.warmup_s": "s",
    "wirebroker.produce_rtt_p50_ms": "ms",
    "wirebroker.produce_rtt_p99_ms": "ms",
    "wirebroker.generator_lag_max_s": "s",
    "wire_source.rows_read_per_item": "count",
    "stream.freshness_p99_s": "s",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.batch_p50_s": "s",
    "stream.batch_p99_s": "s",
    "stream.latest_offset_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "enrichment.api_rows_per_s": "1/s",
    "enrichment.llm_rows_per_s": "1/s",
    "upsert.merge_p50_s": "s",
    "upsert.merge_p99_s": "s",
    "upsert.bytes_written_per_item": "B",
    "upsert.buckets_rewritten_per_merge": "count",
    "upsert.store_rows": "count",
    "upsert.changes_s": "s",
    "pipeline.incremental_run_s": "s",
    "ivm.maintain_s": "s",
    "ivm.delta_rows": "count",
    "serving.endpoint_start_s": "s",
    "serving.first_query_after_refresh_ms": "ms",
    "serving.macros_ms_p50": "ms",
    "serving.sodium_topn_ms_p50": "ms",
    "serving.wordcloud_ms_p50": "ms",
    "serving.view_ms_p50": "ms",
    **{f"{layer}.{c}": u for layer in ATTRIBUTED for c, u in COUNTERS.items()},
    **{f"self.{layer}_s": "s" for layer in SELF},
    "trace.window_s": "s",
    "trace.self_sum_share": "ratio",
    "trace.spans": "count",
    # The end-to-end metrics as measured with tracing on; their difference
    # from the untraced runs is the tracing overhead.
    **{f"trace.{k}": u for k, (u, _b) in END_TO_END.items()},
}


def benchmark_entries() -> dict:
    better = {"items_per_s": "higher"}
    return {
        "end_to_end": [
            {"name": k, "unit": u, "better": better.get(k, "lower"), "bound": b}
            for k, (u, b) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": _layer_better(k)}
            for k, u in PER_LAYER.items()
        ],
    }


def _layer_better(name: str) -> str:
    if name.endswith(("per_s", "self_sum_share")):
        return "higher"
    return "lower"


if __name__ == "__main__":
    print(json.dumps(benchmark_entries(), indent=2))
