"""Per-operation cost of raw ingestion: Spark jobs, stages and tasks,
and CPU seconds split between the driver, the Spark JVM and Spark's
Python workers, for each operation the engine runs on the benchmark's
``raw_ingest`` workload (``perfbench.workloads.RawIngest``: gzipped
JSON-line payloads, a Python UDF parse, the ``avro-py`` records zone).

The workload's integrations run through ``HyppoEngine`` with ONE work
slot, so operations run one at a time and the process tree's CPU
between an operation's start and end is that operation's. The Spark
session is the benchmark's (``perfbench.run.session_settings``:
``local[nproc]``, Python worker reuse on), so Spark tasks split as they
do in the benchmark. Each operation runs under the engine's
per-attempt Spark job group, which attributes every job it launches
(AQE query-stage jobs included) to it. Validation and ``--warm``
rounds run unprofiled first; a round is one job per integration.

``jit_s`` is HotSpot's compile time over the same window
(``CompilationMXBean.getTotalCompilationTime``), part of the JVM's CPU:
compiler threads come and go, so per-thread sampling misses it.

Usage: python tools/raw_profile.py [--seed 1] [--rounds 4] [--warm 2]
       [--list]

``--list`` itemizes the jobs of the last profiled item of each
operation: id, stage and task counts, and the name (callsite) of each
job's last stage.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PARTS = ("driver", "jvm", "python")


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """CPU seconds of this process (driver), the Spark JVM it launched
    and the JVM's descendants (Python workers and their daemon), from
    the benchmark's process-tree accounting (``perfbench.cputime``).
    A process's ticks include the children it has reaped, so a Python
    daemon the JVM reaped counts as JVM time."""
    from perfbench.cputime import _TICK, _stat, tree_cpu_s

    # innermost first, so no part comes out negative
    jvm = _stat(str(jvm_pid))[1] / _TICK
    jvm_tree = tree_cpu_s(jvm_pid)
    return {"driver": tree_cpu_s() - jvm_tree, "jvm": jvm, "python": jvm_tree - jvm}


def jit_s(sc) -> float:
    """Seconds the JVM's JIT compilers have spent compiling so far.
    Compiler threads are CPU-bound, so this is (a part of) JVM CPU."""
    mx = sc._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1000


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=4, help="profiled rounds")
    ap.add_argument("--warm", type=int, default=2, help="unprofiled warm-up rounds")
    ap.add_argument("--list", action="store_true", help="itemize each operation's jobs")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="raw_profile-")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Spark's Python workers must import the engine and the benchmark's
    # connectors from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from perfbench.run import session_settings, start_session, stop_session

    spark = start_session(session_settings(len(os.sched_getaffinity(0)), work))
    try:
        return _profile(spark, args, work)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _profile(spark, args, work: str) -> int:
    import hyppo_worker_spark.scheduler.scheduler as scheduler_mod
    from perfbench.workloads import RawIngest

    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jvm_pid = sc._gateway.proc.pid  # noqa: SLF001 — the JVM this process launched
    items: list[tuple[str, list[int], dict[str, float], float, float]] = []
    profiling = False
    run_operation = scheduler_mod.run_operation

    def profiled(spark, registry, handler, item, **kw):
        if not profiling:
            return run_operation(spark, registry, handler, item, **kw)
        group = sc.getLocalProperty("spark.jobGroup.id")
        cpu0, jit0, t0 = cpu_split(jvm_pid), jit_s(sc), time.monotonic()
        try:
            return run_operation(spark, registry, handler, item, **kw)
        finally:
            wall, cpu, jit = time.monotonic() - t0, cpu_split(jvm_pid), jit_s(sc) - jit0
            jobs = sorted(tracker.getJobIdsForGroup(group)) if group else []
            items.append(
                (item.operation.value, jobs, {k: cpu[k] - cpu0[k] for k in PARTS}, jit, wall)
            )

    scheduler_mod.run_operation = profiled
    try:
        wl = RawIngest(args.seed, work, 1)
        wl.make_inputs()
        wl.build(spark, os.path.join(work, "zones"))
        if wl.coordinator.validate():
            print("an integration failed validation", file=sys.stderr)
            return 1
        for _ in range(args.warm):
            wl.coordinator.run(0)
        profiling = True
        cpu0, jit0 = cpu_split(jvm_pid), jit_s(sc)
        records = sum(wl.coordinator.run(0).records for _ in range(args.rounds))
        total = {k: v - cpu0[k] for k, v in cpu_split(jvm_pid).items()}
        total_jit = jit_s(sc) - jit0
        profiling = False
    finally:
        scheduler_mod.run_operation = run_operation

    def job_shape(jid: int) -> tuple[int, int, str]:
        info = tracker.getJobInfo(jid)
        sids = sorted(info.stageIds) if info else []
        stages = [tracker.getStageInfo(s) for s in sids]
        tasks = sum(st.numTasks for st in stages if st)
        return len(sids), tasks, stages[-1].name if stages and stages[-1] else "?"

    by_op: dict[str, list] = defaultdict(list)
    for op, jobs, cpu, jit, wall in items:
        by_op[op].append((jobs, cpu, jit, wall))
    print(f"{records} records, {args.rounds} rounds, 1 work slot; per item:")
    print(
        "operation              items  jobs stages  tasks  driver_s   jvm_s"
        "   jit_s  python_s  wall_s"
    )
    for op, rows in by_op.items():
        n = len(rows)
        shapes = [job_shape(j) for jobs, *_ in rows for j in jobs]
        cpu = {k: sum(c[k] for _, c, _, _ in rows) / n for k in PARTS}
        print(
            f"{op:22s} {n:6d} {sum(len(j) for j, *_ in rows) / n:5.2f} "
            f"{sum(s for s, _, _ in shapes) / n:6.2f} {sum(t for _, t, _ in shapes) / n:6.2f} "
            f"{cpu['driver']:9.3f} {cpu['jvm']:7.3f} {sum(r[2] for r in rows) / n:7.3f} "
            f"{cpu['python']:9.3f} {sum(r[3] for r in rows) / n:7.3f}"
        )
    inside = {k: sum(c[k] for _, _, c, _, _ in items) for k in PARTS}
    print(
        "total CPU s: "
        + "  ".join(f"{k}={total[k]:.2f}" for k in PARTS)
        + f"  (JIT compile: {total_jit:.2f} of jvm)"
        + f"  (outside operations: {sum(total.values()) - sum(inside.values()):.2f})"
        + f"  cpu_ms_per_record={1000 * sum(total.values()) / max(records, 1):.2f}"
    )
    if args.list:
        for op, rows in by_op.items():
            print(f"{op}: last item's jobs")
            for jid in rows[-1][0]:
                stages, tasks, name = job_shape(jid)
                print(f"  job {jid:5d}  stages={stages}  tasks={tasks}  {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
