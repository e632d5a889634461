#!/usr/bin/env python3
"""Repository benchmark: the hybrid batch + streaming system, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see BENCHMARK.json and
perfbench/README.md): ``ingest_live`` and ``batch_refresh``. Each run
starts the workload in its own process on ``local[<cpus>]``, with every
file it writes (stores, checkpoints, Spark scratch, event logs,
spark-warehouse, derby.log) under ``.perfbench_work/`` in the checkout,
which is removed afterwards. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
A traced run also reports the end-to-end metrics it measured with
tracing on, as ``trace.<metric>``; their difference from the untraced
runs is the tracing overhead.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402

from metrics import END_TO_END, PER_LAYER  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hybrid_nutrition_data_pipeline_batch_streaming_spark"
WORKLOADS = ("ingest_live", "batch_refresh")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: A run must end within 180 s; the worker gets all but the margin.
RUN_TIMEOUT_S = 170


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def worker_env(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([HERE, ROOT]),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    return env


def run_worker(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK_ROOT)
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), workload,
             str(seed), str(seconds), "1" if trace else "0", work],
            cwd=work, env=worker_env(work, trace), stdout=subprocess.PIPE,
            text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        finally:
            # The worker's JVM, Python workers and producer share its
            # process group; none of them may outlive the run.
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"{workload} worker exited with {proc.returncode}")
        if trace:
            keep = os.path.join(WORK_ROOT, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, f"{workload}-seed{seed}.spans.jsonl"))
        return json.loads(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} cpus={cpus()}", flush=True)
    res = run_worker(args.workload, args.seed, args.seconds, bool(args.trace))
    attempted, failed = res["attempted"], res["failed"]
    print(f"perfbench: timed window {res['window_s']:.1f}s", flush=True)
    if args.trace:
        metrics = {k: {"value": res["layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, (u, _b) in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
