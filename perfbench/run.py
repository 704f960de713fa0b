#!/usr/bin/env python3
"""Ingestion benchmark for hyppo_worker_spark.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints a detail line, then (last line) one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the workload runs untraced, traced and untraced again
(a quarter, half and quarter of ``--seconds``) and the metrics are the
per-layer ones of the traced pass plus the tracing overhead. Exits 1 when an output check fails, 2 when the engine
cannot be imported or the workload is unknown.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
DRIVER_MEMORY = "2g"


def _prepare_environment(scratch: str) -> None:
    """Everything the process and its children write goes under
    ``scratch``; Spark's Python workers import the engine and the
    benchmark's connectors from the checkout, whatever the cwd."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    path = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    # Import the benchmark as the ``perfbench`` package, never its
    # modules as top-level names.
    sys.path[:] = [REPO_ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != BENCH_DIR]
    import tempfile

    tempfile.tempdir = None


def session_settings(slots: int, scratch: str) -> dict:
    return {
        "master": f"local[{slots}]",
        "spark.sql.shuffle.partitions": str(slots),
        "spark.driver.memory": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(settings: dict):
    from hyppo_worker_spark.session import get_spark

    conf = {k: v for k, v in settings.items() if k.startswith("spark.") and k != "spark.sql.shuffle.partitions"}
    return get_spark(
        "perfbench",
        master=settings["master"],
        shuffle_partitions=int(settings["spark.sql.shuffle.partitions"]),
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, which exits when its stdin
    closes; its Python workers go with it."""
    proc = spark.sparkContext._gateway.proc  # noqa: SLF001
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def memory_mb(spark) -> dict:
    """Memory after set-up, for the detail line: the driver's resident
    high-water mark, what the JVM still holds after a full GC (heap and
    non-heap in use), and the JVM's resident high-water mark. None is a
    metric: see perfbench/README.md."""
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    held = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    proc = spark.sparkContext._gateway.proc  # noqa: SLF001
    return {
        "driver_rss_hwm": _hwm_mb("self"),
        "jvm_held_after_gc": held / 2**20,
        "jvm_rss_hwm": _hwm_mb(proc.pid) if proc is not None else 0.0,
    }


def wall_figures(raw: dict) -> dict:
    """Wall-clock rates and latency of one pass, for the detail line:
    on a host whose cores are shared they follow the host's load, so
    they are not gated metrics (see perfbench/README.md)."""
    lat = raw["latencies"]
    out = {
        "records_per_s": raw["records"] / raw["window_s"],
        "items_per_s": raw["items"] / raw["window_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_samples": len(lat),
    }
    if len(lat) >= 2:
        out["latency_p95_s"] = statistics.quantiles(lat, n=20)[18]
    return out


def cpu_ms_per_record(raw: dict) -> float:
    if "cpu_ms_per_record" in raw:
        return raw["cpu_ms_per_record"]
    return 1000 * raw["cpu_s"] / max(raw["records"], 1)


def e2e_metrics(raw: dict, setup_s: float, zone_bytes: int, zone_records: int, checks_failed: int) -> dict:
    attempted = raw["attempted"] + checks_failed
    failed = raw["failed"] + checks_failed
    values = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_record": (cpu_ms_per_record(raw), "ms"),
        "ok_share": (1 - failed / max(attempted, 1), "ratio"),
        "zone_bytes_per_record": (zone_bytes / max(zone_records, 1), "B"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def run(args, scratch: str) -> tuple[dict, dict]:
    from perfbench.workloads import WORKLOADS, dir_bytes

    slots = len(os.sched_getaffinity(0))
    settings = session_settings(slots, scratch)
    wl = WORKLOADS[args.workload](args.seed, scratch, slots)
    t = time.monotonic()
    wl.make_inputs()
    inputs_s = time.monotonic() - t

    # Set-up: session start (the JVM launch), an engine over fresh
    # zones, and one untimed warm-up pass of the workload.
    t = time.monotonic()
    spark = start_session(settings)
    wl.build(spark, os.path.join(scratch, "zones"))
    wl.warm_up()
    setup_s = time.monotonic() - t
    mem = memory_mb(spark)

    # The traced run splits its time: untraced, traced, untraced. The
    # traced pass is compared with the mean of the passes around it.
    # Per-layer figures need no fixed batch positions, so there the
    # stream's passes are bounded by time alone.
    kw = {"min_timed": 1} if args.trace and args.workload == "stream_dedup" else {}
    wl.measure(args.seconds / 4 if args.trace else args.seconds, **kw)
    raw = wl.e2e()
    problems = wl.check()
    passes = [raw]
    samples = {"records": raw["records"], "items": raw["items"]}
    if args.trace:
        from perfbench.tracing import EngineTrace, Recorder, StreamTrace, per_layer_metrics

        rec = Recorder()
        tracer = (StreamTrace if args.workload == "stream_dedup" else EngineTrace)(rec, wl)
        try:
            wl.measure(args.seconds / 2, **kw)
        finally:
            tracer.close()
        traced = wl.e2e()
        problems += wl.check()
        wl.measure(args.seconds / 4, **kw)
        after = wl.e2e()
        problems += wl.check()
        passes += [traced, after]
        metrics = per_layer_metrics(rec, slots, [raw, after], traced)
        rec.dump(os.path.join(os.path.dirname(scratch), "traces", f"{args.workload}-seed{args.seed}.json"))
        samples["spans"] = len(rec.spans)
    else:
        zone_bytes = sum(dir_bytes(p) for p in wl.zone_paths())
        metrics = e2e_metrics(raw, setup_s, zone_bytes, wl.zone_records(), len(problems))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "session": settings,
        "inputs_s": inputs_s,
        "setup_s": setup_s,
        "memory_mb": mem,
        "samples": samples,
        "window_s": raw["window_s"],
        "cpu_s": raw["cpu_s"],
        "wall": wall_figures(raw),
        "problems": problems,
    }
    result = {
        "correct": not problems,
        "attempted": sum(p["attempted"] for p in passes) + len(problems),
        "failed": sum(p["failed"] for p in passes) + len(problems),
        "metrics": metrics,
    }
    stop_session(spark)
    return detail, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    scratch = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        _prepare_environment(scratch)
        try:
            import hyppo_worker_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {REPO_ROOT}: {e}", file=sys.stderr)
            return 2
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        detail, result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
