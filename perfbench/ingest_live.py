"""ingest_live: the paper's streaming path under an open-loop producer.

producer process --WireClient--> WireBroker --format("wire_topic")-->
enrich_from_api --foreachBatch--> ParquetUpsertStore.merge

A steady phase sends RATE items/s for the run length, then a burst of
BURST items is sent back to back. Freshness is measured per steady item
from its due time at the producer to the return of the merge that commits
it; items map to micro-batches through the offset ranges in the streaming
progress events, so no extra scan of the store is needed. Burst throughput
is the burst size over the time from the burst's start to the commit of
its last item, which tracks per-item cost rather than per-batch cost.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import gen
from common import median, quantile, store_writes
from hybrid_nutrition_data_pipeline_batch_streaming_spark.functions.enrichment import (
    enrich_from_api,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.sources import wire_source
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
    ParquetUpsertStore,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.wirebroker import (
    WireBroker,
)

RATE = 800  # items/s in the steady phase; 1600/s also kept up at ~1.7 s batches
WARMUP = 6_400  # items sent at RATE after set-up, before timing
BURST = 6_000  # items sent back to back after the steady phase
TOPIC = "items"
PHASE_DURATIONS = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class _Progress(StreamingQueryListener):
    """Keeps every progress event; ``recentProgress`` holds only 100."""

    def __init__(self):
        self.events: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if not p.sources or p.numInputRows == 0:
            return
        src = p.sources[0]
        # the first batch has no start offset: it starts at the topic's
        # beginning
        start = json.loads(src.startOffset) if src.startOffset not in (None, "None") else None
        with self.lock:
            self.events.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "start": start["offset"] if start else 0,
                    "end": json.loads(src.endOffset)["offset"],
                    "ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class IngestLive:
    """The streaming workload: prepare, setup, warmup, window, check, close."""

    def __init__(self, work: str, seed: int, seconds: int, tracer):
        self.work, self.seed, self.seconds, self.tracer = work, seed, seconds, tracer
        self.query = self.broker = self.producer = None
        self.window_span = None

    # -- set-up / teardown ---------------------------------------------------
    def prepare(self) -> None:
        """Inputs come from the producer, which derives them from the seed."""

    def setup(self, spark) -> None:
        self.spark = spark
        tr = self.tracer
        with tr.span("wire_source.register"):
            wire_source.register(spark)
        with tr.span("wirebroker.start"):
            self.broker = WireBroker()
            host, port = self.broker.start()
        self.store = ParquetUpsertStore(
            spark, os.path.join(self.work, "store"),
            key="item_name", ts_col="offset",
        )
        self.commits: dict[int, float] = {}
        self.merge_s: dict[int, float] = {}
        self.listener = _Progress()
        spark.streams.addListener(self.listener)
        raw = (
            spark.readStream.format("wire_topic")
            .option("host", host).option("port", port)
            .option("topic", TOPIC).option("group", "perfbench")
            .load()
        )
        items = raw.select(
            "offset", F.from_json("value", "name string, t_due double").alias("v")
        ).select(F.col("v.name").alias("item_name"), F.col("v.t_due").alias("t_due"), "offset")
        enriched = enrich_from_api(items, name_col="item_name")

        def commit(batch, batch_id):
            t0 = time.perf_counter()
            with tr.span("upsert.merge", op=batch_id, parent=self.window_span):
                self.store.merge(batch)
            self.merge_s[batch_id] = time.perf_counter() - t0
            self.commits[batch_id] = time.time()

        with tr.span("stream.start"):
            self.query = (
                enriched.writeStream.foreachBatch(commit)
                .option("checkpointLocation", os.path.join(self.work, "ckpt"))
                .trigger(processingTime="0 seconds")
                .start()
            )
        self.records_path = os.path.join(self.work, "produced.npy")
        self.producer = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "producer.py"),
             host, str(port), TOPIC, str(self.seed), str(RATE), self.records_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.sent = 0

    def warmup(self) -> None:
        """WARMUP items at RATE, committed before timing starts."""
        with self.tracer.span("stream.warmup"):
            self._phase(f"warmup {WARMUP}", WARMUP)

    def close(self) -> None:
        if self.producer is not None:
            if self.producer.poll() is None:
                self.producer.stdin.write("quit\n")
                self.producer.stdin.flush()
            self.producer.wait(timeout=60)
            self.producer = None
        if self.query is not None:
            self.query.stop()
            self.spark.streams.removeListener(self.listener)
            self.query = None
        if self.broker is not None:
            self.broker.stop()
            self.broker = None

    # -- driving the producer --------------------------------------------------
    def _phase(self, command: str, n_items: int, timeout_s: float = 30.0) -> None:
        """Run one producer phase and wait until the stream committed it."""
        self.producer.stdin.write(command + "\n")
        self.producer.stdin.flush()
        if self.producer.stdout.readline().strip() != "done":
            raise RuntimeError(f"producer failed during {command!r}")
        self.sent += n_items
        deadline = time.time() + timeout_s
        while not self._committed_through(self.sent):
            if time.time() > deadline:
                raise TimeoutError(f"stream did not commit {command!r} in {timeout_s}s")
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.01)

    def _committed_through(self, end_offset: int) -> bool:
        with self.listener.lock:
            return any(
                e["end"] >= end_offset and e["batch"] in self.commits
                for e in self.listener.events
            )

    # -- the timed window ----------------------------------------------------------
    def window(self) -> dict:
        n_steady = int(self.seconds * RATE)
        with self.tracer.span("window") as sid:
            self.window_span = sid
            first_batch = max(self.commits, default=-1) + 1
            self._phase(f"steady {self.seconds}", n_steady)
            self._phase(f"burst {BURST}", BURST)
        self.producer.stdin.write("quit\n")
        self.producer.stdin.flush()
        self.producer.wait(timeout=60)
        self.producer = None
        rec = np.load(self.records_path)
        with self.listener.lock:
            events = sorted(
                (e for e in self.listener.events if e["batch"] >= first_batch),
                key=lambda e: e["batch"],
            )
        starts = np.array([e["start"] for e in events])
        commit_at = np.array([self.commits[e["batch"]] for e in events])

        def commit_time(offsets):
            idx = np.searchsorted(starts, offsets, side="right") - 1
            return commit_at[idx]

        steady = rec[rec[:, 4] == 1]
        fresh = commit_time(steady[:, 0]) - steady[:, 1]
        burst = rec[rec[:, 4] == 2]
        burst_s = commit_time(burst[-1:, 0])[0] - burst[0, 1]
        self.events, self.rec, self.fresh = events, rec, fresh
        return {
            "freshness_p50_s": median(fresh),
            "items_per_s": len(burst) / burst_s,
            "rtt_p50_ms": 1e3 * median(steady[:, 3]),
        }

    # -- correctness -----------------------------------------------------------------
    def check(self) -> tuple[int, int]:
        """One stored row per produced key, carrying the newest t_due."""
        newest: dict[str, float] = {}
        for off, due, name in self._produced():
            newest[name] = due  # records are in offset order
        rows = self.store.read().select("item_name", "t_due").collect()
        stored: dict[str, list[float]] = {}
        for r in rows:
            stored.setdefault(r.item_name, []).append(r.t_due)
        wrong = sum(1 for k, v in newest.items() if stored.get(k) != [v])
        extra = sum(1 for k in stored if k not in newest)
        mapped = len(self.rec) == self.sent and self.events[-1]["end"] >= self.sent
        return len(self.rec), wrong + extra + (0 if mapped else 1)

    def _produced(self):
        """(offset, due time, name) of every produced item, in offset order;
        the names are regenerated from the seed."""
        names = []
        for i, phase in enumerate(("warmup", "steady", "burst")):
            names.extend(gen.live_names(self.seed, phase, int((self.rec[:, 4] == i).sum())))
        for (off, due, *_), name in zip(self.rec, names):
            yield off, due, name

    # -- per-layer readings (traced run) -----------------------------------------------
    def layer_metrics(self) -> dict:
        ev, rec = self.events, self.rec
        window_items = int((rec[:, 4] >= 1).sum())
        ms = {k: [e["ms"].get(k, 0) for e in ev] for k in PHASE_DURATIONS + ("triggerExecution",)}
        merges = [self.merge_s[e["batch"]] for e in ev]
        versions = self.store.history()
        written, buckets = store_writes(self.store, versions[-1] - len(ev), versions[-1])
        t0 = time.perf_counter()
        self.store.changes(versions[-2], versions[-1]).count()
        changes_s = time.perf_counter() - t0
        steady = rec[rec[:, 4] == 1]
        out = {
            "wirebroker.produce_rtt_p50_ms": 1e3 * median(steady[:, 3]),
            "wirebroker.produce_rtt_p99_ms": 1e3 * quantile(steady[:, 3], 0.99),
            "wirebroker.generator_lag_max_s": float(np.max(rec[:, 2] - rec[:, 1])),
            "wire_source.rows_read_per_item": sum(e["rows"] for e in ev) / window_items,
            "stream.freshness_p99_s": quantile(self.fresh, 0.99),
            "stream.batches": len(ev),
            "stream.rows_per_batch_p50": median([e["end"] - e["start"] for e in ev]),
            "stream.batch_p50_s": median(ms["triggerExecution"]) / 1e3,
            "stream.batch_p99_s": quantile(ms["triggerExecution"], 0.99) / 1e3,
            "upsert.merge_p50_s": median(merges),
            "upsert.merge_p99_s": quantile(merges, 0.99),
            "upsert.bytes_written_per_item": written / window_items,
            "upsert.buckets_rewritten_per_merge": sum(buckets) / len(buckets),
            "upsert.store_rows": self.store.read().count(),
            "upsert.changes_s": changes_s,
            "enrichment.api_rows_per_s": self._probe_api(),
        }
        for k in PHASE_DURATIONS:
            snake = "".join("_" + c.lower() if c.isupper() else c for c in k)
            out[f"stream.{snake}_ms_p50"] = median(ms[k])
        return out

    def _probe_api(self) -> float:
        """enrich_from_api alone, on the steady phase's names, to a noop sink."""
        names = [(n,) for _o, _d, n in self._produced()]
        df = self.spark.createDataFrame(names, "item_name string").cache()
        df.count()
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            enrich_from_api(df, name_col="item_name").write.format("noop").mode("overwrite").save()
            rates.append(len(names) / (time.perf_counter() - t0))
        df.unpersist()
        return median(rates)
