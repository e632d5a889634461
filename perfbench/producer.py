"""Load generator for ingest_live: one process, one ``WireClient`` connection.

Usage (the workload process starts it and drives it over stdin):

    python3 perfbench/producer.py HOST PORT TOPIC SEED RATE OUT.npy

Each stdin line names a phase, ``warmup N``, ``steady SECONDS`` or
``burst N``; the producer answers ``done`` on stdout when the phase has
been sent, and ``quit`` makes it save its records and exit. Warm-up and
steady items are sent open-loop: item i is due at ``t0 + i / RATE`` and
is sent at its due time whether or not the consumer keeps up, so a stall
shows as lateness rather than as fewer items. Burst items are sent back to
back, all due when the burst starts.

Every item is one JSON value ``{"name": ..., "t_due": ...}``. For each item
the producer records (broker offset, due time, send time, produce round
trip, phase); ``OUT.npy`` holds them as float64 rows.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402  (perfbench/ is on sys.path as the script's dir)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.wirebroker import (  # noqa: E402
    WireClient,
)

PHASES = {"warmup": 0, "steady": 1, "burst": 2}


def main() -> None:
    host, port, topic, seed, rate, out = sys.argv[1:7]
    port, seed, rate = int(port), int(seed), float(rate)
    records: list[tuple[float, float, float, float, float]] = []
    with WireClient(host, port) as client:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "quit":
                break
            if cmd == "steady":
                n = int(float(arg) * rate)
            else:
                n = int(arg)
            names = gen.live_names(seed, cmd, n)
            t0 = time.time() + 0.05
            for i, name in enumerate(names):
                due = t0 if cmd == "burst" else t0 + i / rate
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                value = json.dumps({"name": name, "t_due": due})
                sent = time.perf_counter()
                off = client.produce(topic, value)
                rtt = time.perf_counter() - sent
                records.append((off, due, time.time() - rtt, rtt, PHASES[cmd]))
            print("done", flush=True)
    np.save(out, np.array(records, dtype=np.float64).reshape(-1, 5))


if __name__ == "__main__":
    main()
