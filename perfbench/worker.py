"""One workload run in its own process; prints one JSON line of results.

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE WORKDIR

``run.py`` starts this with the working directory, temp dirs, Spark conf
and (for a traced run) the event log all pointed inside WORKDIR.

A workload class has ``prepare`` (generate inputs), ``setup(spark)`` and
``warmup`` (both counted in ``setup_s``), ``window`` (the timed part; returns
the end-to-end metrics), ``check`` (correctness, untimed; returns attempted
and failed), ``layer_metrics`` (traced runs) and ``close``.
"""

from __future__ import annotations

import json
import os
import sys
import time

from common import Tracer, log, read_event_log, tree_peak_rss_mb
from metrics import ATTRIBUTED, COUNTERS, PER_LAYER, SELF
from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import (
    ensure_package_on_workers,
    get_spark,
)


def workload_class(name: str):
    if name == "ingest_live":
        from ingest_live import IngestLive

        return IngestLive
    if name == "batch_refresh":
        from batch_refresh import BatchRefresh

        return BatchRefresh
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    name, seed, seconds, trace, work = sys.argv[1:6]
    seed, seconds, trace = int(seed), int(seconds), trace == "1"
    tracer = Tracer(enabled=trace)
    wl = workload_class(name)(work, seed, seconds, tracer)
    spark = None
    try:
        wl.prepare()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name=f"perfbench-{name}")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with tracer.span("session.ship_package"):
            ensure_package_on_workers(spark)
        t2 = time.perf_counter()
        log(f"session started in {t2 - t0:.2f}s")
        tracer.sc = spark.sparkContext if trace else None
        with tracer.span("setup.workload"):
            wl.setup(spark)
        t3 = time.perf_counter()
        with tracer.span("setup.warmup"):
            wl.warmup()
        t4 = time.perf_counter()
        log(f"set-up {t3 - t2:.2f}s, warm-up {t4 - t3:.2f}s")
        t5 = time.perf_counter()
        metrics = wl.window()
        window_s = time.perf_counter() - t5
        log(f"window {window_s:.2f}s: {metrics}")
        metrics["setup_s"] = t4 - t0
        peak_rss_mb = tree_peak_rss_mb(os.getpid())
        attempted, failed = wl.check()
        layer = {}
        if trace:
            layer = wl.layer_metrics()
            layer.update(
                {
                    "session.get_spark_s": t1 - t0,
                    "session.ship_package_s": t2 - t1,
                    "session.peak_rss_mb": peak_rss_mb,
                    "setup.workload_s": t3 - t2,
                    "setup.warmup_s": t4 - t3,
                }
            )
        app_id = spark.sparkContext.applicationId
    finally:
        wl.close()
        if spark is not None:
            spark.stop()
    if trace:
        layer.update(span_metrics(tracer))
        layer.update({f"trace.{k}": v for k, v in metrics.items()})
        event_log = os.path.join(work, "eventlog", app_id)
        for lay, counters in read_event_log(event_log, tracer, ATTRIBUTED).items():
            for k in COUNTERS:
                layer[f"{lay}.{k}"] = counters[k]
        tracer.dump(os.path.join(work, "spans.jsonl"))
        # Layers this workload does not exercise read 0.
        layer = {k: layer.get(k, 0) for k in PER_LAYER}
    print(json.dumps({"attempted": attempted, "failed": failed, "window_s": window_s,
                      "e2e": metrics, "layer": layer}))
    return 0


def span_metrics(tracer: Tracer) -> dict:
    """Self time per layer inside the timed window, and the share of the
    window's wall time those self times account for."""
    window = next(s for s in tracer.spans if s["name"] == "window")
    selfs = tracer.self_times()
    inside = {window["id"]}
    by_layer = dict.fromkeys(SELF, 0.0)
    for s in sorted(tracer.spans, key=lambda s: s["start"]):
        if s["id"] != window["id"] and s["parent"] not in inside:
            continue
        inside.add(s["id"])
        layer = s["name"].split(".")[0]
        if s["id"] == window["id"]:
            layer = "unspanned"
        elif layer not in SELF:
            layer = "bench"
        by_layer[layer] += selfs[s["id"]]
    out = {f"self.{k}_s": v for k, v in by_layer.items()}
    out["trace.window_s"] = window["dur"]
    out["trace.self_sum_share"] = sum(by_layer.values()) / window["dur"]
    out["trace.spans"] = len(tracer.spans)
    return out


if __name__ == "__main__":
    sys.exit(main())
