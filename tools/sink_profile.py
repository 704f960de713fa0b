"""Per-call cost of the streaming dedup sink (``DedupIngestSink``):
Spark jobs, stages and tasks, plus CPU seconds of the whole process
tree (driver, JVM, Python workers), for each micro-batch of the
benchmark's ``stream_dedup`` input (``perfbench.inputs.stream_batches``).

Each batch is written as one parquet file and handed to the sink
directly (no streaming query around it), under a Spark job group per
call, so every job a call launches — AQE query-stage jobs included —
is attributed to it. Batch 0 probes an empty index and is cheaper than
the rest, as in the benchmark.

Usage: python tools/sink_profile.py [--seed 1] [--batches 10]
       [--batch-size 100] [--slots N] [--list]

``--list`` also itemizes the last call's jobs: id, stage count, and
the name (callsite) of each job's last stage.

``jit_s`` is HotSpot's compile time during the call (see
``raw_profile.jit_s``), a part of ``cpu_s``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--batch-size", type=int, default=100)
    ap.add_argument("--slots", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--list", action="store_true", help="itemize the last call's jobs")
    args = ap.parse_args()

    # Spark's Python workers must import the engine from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from perfbench.cputime import tree_cpu_s
    from perfbench.inputs import stream_batches, write_batch
    from raw_profile import jit_s

    from hyppo_worker_spark.session import get_spark
    from hyppo_worker_spark.streaming.ingest_dedup import DedupIngestSink

    work = tempfile.mkdtemp(prefix="sink_profile-")
    spark = get_spark(
        "sink_profile",
        master=f"local[{args.slots}]",
        shuffle_partitions=args.slots,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sink = DedupIngestSink(spark, os.path.join(work, "store"))
        batches = stream_batches(args.seed, args.batches, args.batch_size)
        print("batch   in  kept  jobs  stages  tasks   cpu_s   jit_s  wall_s")
        rows = []
        for i, batch in enumerate(batches):
            path = os.path.join(work, "source", f"batch-{i:05d}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            write_batch(batch, path)
            df = spark.read.schema("doc_id string, text string").parquet(path)
            group = f"sink-call-{i}"
            sc.setJobGroup(group, group)
            cpu0, jit0, t0 = tree_cpu_s(), jit_s(sc), time.monotonic()
            sink(df, i)
            wall, cpu, jit = time.monotonic() - t0, tree_cpu_s() - cpu0, jit_s(sc) - jit0
            sc.setJobGroup("idle", "idle")
            jobs = tracker.getJobIdsForGroup(group)
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    stages += 1
                    tasks += st.numTasks if st else 0
            _, n_in, n_kept = sink.admitted_counts[-1]
            rows.append((len(jobs), stages, tasks, cpu, jit))
            print(
                f"{i:5d} {n_in:4d} {n_kept:5d} {len(jobs):5d} {stages:7d} "
                f"{tasks:6d} {cpu:7.2f} {jit:7.2f} {wall:7.2f}"
            )
        if args.list:
            for jid in sorted(jobs):
                info = tracker.getJobInfo(jid)
                sids = sorted(info.stageIds) if info else []
                last = tracker.getStageInfo(sids[-1]) if sids else None
                print(f"  job {jid:5d}  stages={len(sids)}  {last.name if last else '?'}")
        timed = rows[1:] or rows
        med = [statistics.median(c) for c in zip(*timed)]
        print(
            f"median over batches 1+: jobs={med[0]:g} stages={med[1]:g} "
            f"tasks={med[2]:g} cpu_s={med[3]:.2f} "
            f"cpu_ms_per_doc={1000 * med[3] / args.batch_size:.1f}"
        )
        print(
            f"sum over batches 1+: cpu_s={sum(r[3] for r in timed):.2f} "
            f"jit_s={sum(r[4] for r in timed):.2f}"
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
