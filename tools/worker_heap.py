"""Heap of one reused Spark Python worker, task after task.

Starts a ``local[1]`` session with Python worker reuse on and runs one
``mapInArrow`` job of ``--tasks`` one-row partitions. Each task imports
the engine (as a task that unpickles engine code does) and reports its
worker's pid, ``gc.get_freeze_count()``, the number of full (generation
2) collections so far, resident set size, and the worker's CPU seconds
so far. Tasks run one after another on the same worker, so the CPU
difference between two tasks covers one task body plus the daemon's
post-task ``gc.collect()``.

Usage: python tools/worker_heap.py [--tasks 120] [--json]

Prints one row per task (``--json``: one JSON object per line), then a
summary of the rows after the first ``--warm`` tasks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FIELDS = ("task", "pid", "frozen", "full_gcs", "rss_mb", "cpu_s")


def _probe(batches):
    import gc
    import resource
    import time

    import pyarrow as pa
    from pyspark import TaskContext

    import hyppo_worker_spark  # noqa: F401

    for _ in batches:
        pass
    with open("/proc/self/statm") as f:
        rss_pages = int(f.read().split()[1])
    row = {
        "task": TaskContext.get().partitionId(),
        "pid": os.getpid(),
        "frozen": gc.get_freeze_count(),
        "full_gcs": gc.get_stats()[2]["collections"],
        "rss_mb": rss_pages * resource.getpagesize() / 2**20,
        "cpu_s": time.process_time(),
    }
    yield pa.RecordBatch.from_pylist([row])


def run(tasks: int) -> list[dict]:
    """One row per task, in task order."""
    work = tempfile.mkdtemp(prefix="worker_heap-")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The worker must import the engine from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from hyppo_worker_spark.session import get_spark

    spark = get_spark(
        "worker_heap",
        master="local[1]",
        shuffle_partitions=1,
        extra_conf={
            "spark.python.worker.reuse": "true",
            "spark.driver.memory": "1g",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        schema = "task long, pid long, frozen long, full_gcs long, rss_mb double, cpu_s double"
        df = spark.range(tasks, numPartitions=tasks).mapInArrow(_probe, schema)
        return sorted((r.asDict() for r in df.collect()), key=lambda r: r["task"])
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=120)
    ap.add_argument("--warm", type=int, default=10, help="tasks left out of the summary")
    ap.add_argument("--json", action="store_true", help="one JSON object per task")
    args = ap.parse_args()
    rows = run(args.tasks)
    if args.json:
        for r in rows:
            print(json.dumps(r))
        return 0
    print("  ".join(f"{k:>8s}" for k in FIELDS))
    for r in rows:
        print(
            f"{r['task']:8d}  {r['pid']:8d}  {r['frozen']:8d}  {r['full_gcs']:8d}  "
            f"{r['rss_mb']:8.1f}  {r['cpu_s']:8.3f}"
        )
    warm = rows[args.warm :]
    if len(warm) >= 2:
        steps = [b["cpu_s"] - a["cpu_s"] for a, b in zip(warm, warm[1:])]
        print(
            f"after {args.warm} warm-up tasks: workers={len({r['pid'] for r in warm})} "
            f"frozen {min(r['frozen'] for r in warm)}..{max(r['frozen'] for r in warm)} "
            f"rss_mb {min(r['rss_mb'] for r in warm):.1f}..{max(r['rss_mb'] for r in warm):.1f} "
            f"worker cpu_ms_per_task median {1000 * statistics.median(steps):.2f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
