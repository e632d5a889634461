"""Shared pieces of the workload processes: spans, statistics, memory and
the Spark event-log reader that attributes executor work to layers."""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import sys
import threading
import time


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty sample."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


class Tracer:
    """Spans around every layer call the benchmark makes.

    A span records its name, start, end, parent and operation id (a
    micro-batch, a refresh cycle or a query); spans stay in memory until
    the run reports. With tracing on, Spark jobs launched on the span's
    thread carry the job group ``pb|<span id>|<layer>``, so the event log
    attributes executor work to the layer. Jobs launched on threads the
    benchmark does not own (an engine-internal stream, a Thrift statement)
    are attributed afterwards by the span whose interval contains them.
    """

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op=None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        if parent is None and stack:
            parent = stack[-1]
        saved = None
        if self.sc is not None:
            keys = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")
            saved = {k: self.sc.getLocalProperty(k) for k in keys}
            self.sc.setJobGroup(f"pb|{sid}|{name.split('.')[0]}", name, False)
        stack.append(sid)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if saved is not None:
                for k, v in saved.items():
                    self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "parent": parent, "op": op,
                     "start": wall0, "end": wall0 + (t1 - t0), "dur": t1 - t0}
                )

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time covered by its child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["id"]] = s["dur"] - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def tree_peak_rss_mb(root_pid: int) -> float:
    """Summed VmHWM (peak resident set) of ``root_pid`` and its direct
    children (the JVM, the producer), in MiB.

    The Python worker processes Spark forks below the JVM are left out: how
    many of them are alive when the tree is read depends on task scheduling
    (3 to 11 between otherwise equal runs), which made the sum bimodal."""
    kids = []
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == root_pid:
                    kids.append(int(st.split("/")[2]))
        except OSError:
            continue
    by_name: dict[str, int] = {}
    for pid in [root_pid, *kids]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            by_name[name] = by_name.get(name, 0) + int(status["VmHWM"].split()[0])
    log("peak RSS (MiB): " + ", ".join(f"{n} {v / 1024:.0f}" for n, v in sorted(by_name.items())))
    return sum(by_name.values()) / 1024.0


def read_event_log(path: str, tracer: Tracer, layers: tuple[str, ...]) -> dict:
    """Attribute every job in a Spark event log to a layer and sum its tasks'
    counters: {layer: {counter: value}}."""
    stage_layer: dict[int, str] = {}
    top = sorted(
        (s for s in tracer.spans if s["name"].split(".")[0] in layers),
        key=lambda s: s["end"] - s["start"],
    )
    out = {layer: dict.fromkeys(
        ("jobs", "tasks", "executor_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s"), 0.0
    ) for layer in layers}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                layer = None
                if group.startswith("pb|"):
                    layer = group.split("|")[2]
                else:
                    t = ev["Submission Time"] / 1000.0
                    for s in top:  # innermost span containing the job
                        if s["start"] <= t <= s["end"]:
                            layer = s["name"].split(".")[0]
                            break
                if layer in out:
                    out[layer]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer[sid] = layer
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if layer is None or not m:
                    continue
                c = out[layer]
                c["tasks"] += 1
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                c["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return out


def store_writes(store, v_from: int, v_to: int) -> tuple[int, list[int]]:
    """Bytes of the snapshot dirs that commits v_from+1..v_to wrote, and
    the number of buckets each commit rewrote (a manifest diff)."""
    written, buckets = 0, []
    for v in range(v_from + 1, v_to + 1):
        before = store._load_manifest(v - 1)
        changed = [d for b, d in store._load_manifest(v).items() if before.get(b) != d]
        buckets.append(len(changed))
        for d in changed:
            for root, _dirs, files in os.walk(os.path.join(store.path, "data", d)):
                written += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return written, buckets
