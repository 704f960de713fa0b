"""Span recorder for the traced run.

The recorder wraps public functions of the engine from outside: it
replaces an attribute (on a module, a class or one object) with a
wrapper that opens a span, and puts the original back on ``restore``.
A span has a name (``<layer>.<what>``), start, end, parent span and a
trace id — the job id for engine work, the batch id for streaming — so
every span of one job shares its trace. Spans stay in memory and are
written out when the run ends. A layer's self time is the time its
spans cover minus the time their child spans cover.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from collections.abc import Callable

import hyppo_worker_spark.model as model_mod
import hyppo_worker_spark.scheduler.scheduler as scheduler_mod
import hyppo_worker_spark.sources.avro_container as avro_mod
import hyppo_worker_spark.storage as storage_mod
from hyppo_worker_spark.model import Operation
from hyppo_worker_spark.scheduler.queues import QueueJournal
from perfbench.workloads import dir_bytes

LAYERS = (
    "client",
    "scheduler",
    "operations",
    "connector",
    "storage",
    "sources",
    "model",
    "operators",
)


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str, trace: str | None = None) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent["trace"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "child_s": 0.0,
        }
        stack.append(sp)
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            parent = stack[-1]
            parent["child_s"] += sp["end"] - sp["start"]
            if parent["trace"] is None:
                parent["trace"] = sp["trace"]
        self.spans.append(sp)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    # -- patching ------------------------------------------------------------

    def patch(self, owner, attr: str, make: Callable[[Callable], Callable]) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def wrap(
        self,
        owner,
        attr: str,
        name: str | Callable[..., str],
        trace_of: Callable[..., str | None] | None = None,
        after: Callable | None = None,
    ) -> None:
        """Open a span around every call of ``owner.attr``."""

        def make(fn):
            def traced(*a, **kw):
                sp = self.open(name(*a, **kw) if callable(name) else name, trace_of(*a, **kw) if trace_of else None)
                try:
                    out = fn(*a, **kw)
                finally:
                    self.close(sp)
                if after is not None:
                    after(out, *a, **kw)
                return out

            return traced

        self.patch(owner, attr, make)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- reduction -----------------------------------------------------------

    def durations(self, prefix: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"].startswith(prefix)]

    def self_seconds(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - s["child_s"])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [{k: s[k] for k in ("id", "name", "parent", "trace", "start", "end")} for s in self.spans],
                    "counts": dict(self.counts),
                },
                fh,
            )


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _job_of(item) -> str | None:
    job = getattr(item, "job", None) or getattr(getattr(item, "task", None), "job", None)
    return job.id if job is not None else None


# -- engine workloads ----------------------------------------------------------


class EngineTrace:
    """Spans and counters for a workload driven through ``HyppoEngine``."""

    def __init__(self, rec: Recorder, wl) -> None:
        self.rec = rec
        self.active = True
        self.engine = engine = wl.engine
        self.submitted: dict[str, tuple[float, str]] = {}  # execution id → (time, source)
        self.last_source: dict[int, str] = {}
        sc = engine.spark.sparkContext
        self.tracker = sc.statusTracker()

        r = rec
        r.wrap(engine, "run_once", "scheduler.run_once")
        r.wrap(
            scheduler_mod,
            "run_operation",
            lambda spark, reg, h, item, **kw: f"operations.{item.operation.value}",
            trace_of=lambda spark, reg, h, item, **kw: _job_of(item),
        )
        r.wrap(engine.responses, "dispatch_response", "client.dispatch")
        r.wrap(engine, "submit", "scheduler.enqueue", after=self._after_submit)
        for m in ("write_records", "read_records", "upload_raw", "download_raw", "read_raw_df", "upload_log"):
            r.wrap(wl.handler, m, f"storage.{m}")
        r.wrap(avro_mod, "write_avro", "sources.write_avro", after=self._after_write_avro)
        r.wrap(avro_mod, "read_avro", "sources.read_avro")
        r.wrap(model_mod, "serialize_work", "model.serialize_work", after=self._after_serialize)
        r.wrap(QueueJournal, "commit", "scheduler.journal_commit")
        r.patch(os, "fsync", self._counting("scheduler.journal_fsyncs"))
        r.patch(storage_mod, "md5_hex", self._hash_counter)
        r.patch(engine.queues, "basic_get", self._get_counter)
        r.patch(engine.contention, "failed_to_acquire", self._counting("scheduler.lease_failures"))
        for c in wl.clients:
            integ = c.integration
            for m, what in (("fetch_processed", "fetch"), ("fetch_raw", "fetch"), ("process_raw", "process"), ("persist", "persist")):
                if m in type(integ).__dict__:
                    r.wrap(integ, m, f"connector.{what}")
        engine.responses.on_status(self._on_status)

    def close(self) -> None:
        """Put every wrapped function back; the status callback cannot
        be unregistered, so it goes quiet."""
        self.active = False
        self.rec.restore()

    def _counting(self, key: str):
        def make(fn):
            def counted(*a, **kw):
                self.rec.count(key)
                return fn(*a, **kw)

            return counted

        return make

    def _hash_counter(self, fn):
        def md5_hex(data: bytes) -> str:
            self.rec.count("storage.bytes_hashed", len(data))
            return fn(data)

        return md5_hex

    def _get_counter(self, fn):
        def basic_get(name):
            d = fn(name)
            self.rec.count("scheduler.gets")
            if d is None:
                self.rec.count("scheduler.empty_gets")
            return d

        return basic_get

    def _after_submit(self, out, item, *a, **kw) -> None:
        self.submitted[item.execution_id] = (time.monotonic(), item.integration.source_name)

    def _after_serialize(self, out: str, *a, **kw) -> None:
        self.rec.count("model.serialize_bytes", len(out))

    def _after_write_avro(self, out, df, path, *a, **kw) -> None:
        self.rec.count("sources.avro_bytes", dir_bytes(path))

    def _on_status(self, update) -> None:
        if not self.active:
            return
        if update.phase == "started":
            submitted = self.submitted.pop(update.execution_id, None)
            if submitted is None:
                return
            t, source = submitted
            self.rec.samples["queue_wait"].append(time.monotonic() - t)
            # Status frames arrive on the slot's own thread: the previous
            # item that thread ran tells whether affinity kept the slot
            # on one integration.
            tid = threading.get_ident()
            prev = self.last_source.get(tid)
            self.last_source[tid] = source
            if prev is not None:
                self.rec.count("scheduler.affinity_candidates")
                self.rec.count("scheduler.affinity_hits", prev == source)
        elif update.phase in ("completed", "failed"):
            self._spark_counts(update.execution_id)

    def _spark_counts(self, execution_id: str) -> None:
        jobs = self.tracker.getJobIdsForGroup(f"hyppo-exec-{execution_id}-a1")
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                stages += 1
                tasks += st.numTasks if st else 0
        self.rec.count("spark.jobs", len(jobs))
        self.rec.count("spark.stages", stages)
        self.rec.count("spark.tasks", tasks)


# -- streaming workload --------------------------------------------------------


class StreamTrace:
    """Spans around the admission sink's calls; the trigger breakdown
    comes from the query's own progress reports."""

    def __init__(self, rec: Recorder, wl) -> None:
        self.rec = rec
        self.wl = wl
        self._plain = wl.batch_fn
        wl.batch_fn = self._wrap_sink

    def close(self) -> None:
        self.wl.batch_fn = self._plain
        self.rec.restore()

    def _wrap_sink(self, sink):
        r = self.rec
        r.wrap(sink.index, "append", "operators.index_append")
        r.wrap(sink.index, "compute_frames", "operators.index_hash")
        r.wrap(sink.index, "pairs_against", "operators.index_probe")

        def traced_batch(batch_df, batch_id):
            sp = r.open("operators.sink_call", trace=f"batch-{batch_id}")
            try:
                return sink(batch_df, batch_id)
            finally:
                r.close(sp)

        return traced_batch


# -- per-layer metrics ---------------------------------------------------------

OPERATIONS = tuple(op.value for op in Operation)


def per_layer_metrics(rec: Recorder, slots: int, untraced: list[dict], traced: dict) -> dict:
    """Every per-layer metric, 0 where a layer does no work on this
    workload. ``traced`` is the e2e raw figures of the traced pass,
    ``untraced`` those of the untraced passes before and after it: their
    mean is the reference for the tracing overhead, which cancels the
    drift of a JVM that is still warming up."""
    c = rec.counts
    items = max(traced["items"], 1)
    records = max(traced["records"], 1)
    window = traced["window_s"]

    def mean_of(prefix: str) -> float:
        return _mean(rec.durations(prefix))

    op_busy = {op: sum(rec.durations(f"operations.{op}")) for op in OPERATIONS}
    run_once = sum(rec.durations("scheduler.run_once"))
    self_s = rec.self_seconds()
    m = {
        "scheduler.queue_wait_p50_s": (statistics.median(rec.samples["queue_wait"]) if rec.samples["queue_wait"] else 0.0, "s"),
        "scheduler.overhead_s_per_item": (
            max(run_once - sum(op_busy.values()) - sum(rec.durations("client.dispatch")), 0.0) / items if run_once else 0.0,
            "s",
        ),
        "scheduler.journal_commit_s": (mean_of("scheduler.journal_commit"), "s"),
        "scheduler.journal_fsyncs_per_item": (c["scheduler.journal_fsyncs"] / items, "count"),
        "scheduler.empty_gets_per_item": (c["scheduler.empty_gets"] / items, "count"),
        "scheduler.affinity_hit_ratio": (
            c["scheduler.affinity_hits"] / c["scheduler.affinity_candidates"] if c["scheduler.affinity_candidates"] else 0.0,
            "ratio",
        ),
        "scheduler.slot_busy_share": (sum(op_busy.values()) / (slots * window), "ratio"),
        "scheduler.lease_failures": (c["scheduler.lease_failures"], "count"),
        "scheduler.idle_drain_returns": (traced.get("idle_drain_returns", 0), "count"),
    }
    for op in OPERATIONS:
        m[f"operations.{op}.busy_s"] = (op_busy[op], "s")
        m[f"operations.{op}.count"] = (len(rec.durations(f"operations.{op}")), "count")
    for name in ("write_records", "read_records", "upload_raw", "download_raw", "read_raw_df", "upload_log"):
        m[f"storage.{name}_s"] = (mean_of(f"storage.{name}"), "s")
    m["storage.bytes_hashed_per_record"] = (c["storage.bytes_hashed"] / records, "B")
    m["sources.write_avro_s"] = (mean_of("sources.write_avro"), "s")
    m["sources.read_avro_s"] = (mean_of("sources.read_avro"), "s")
    m["sources.avro_bytes"] = (c["sources.avro_bytes"], "B")
    for what in ("fetch", "process", "persist"):
        m[f"connector.{what}_s"] = (mean_of(f"connector.{what}"), "s")
    for what in ("jobs", "stages", "tasks"):
        m[f"spark.{what}_per_item"] = (c[f"spark.{what}"] / items, "count")
    m["model.serialize_bytes_per_item"] = (c["model.serialize_bytes"] / items, "B")
    progress = traced.get("progress", [])

    def progress_median(f) -> float:
        return statistics.median(f(p["durationMs"]) for p in progress) / 1000 if progress else 0.0

    m["streaming.add_batch_s"] = (progress_median(lambda d: d.get("addBatch", 0)), "s")
    m["streaming.wal_commit_s"] = (progress_median(lambda d: d.get("walCommit", 0)), "s")
    m["streaming.trigger_overhead_s"] = (
        progress_median(lambda d: d.get("triggerExecution", 0) - d.get("addBatch", 0)),
        "s",
    )
    m["streaming.state_bytes"] = (traced.get("state_bytes", 0), "B")
    m["operators.sink_call_s"] = (mean_of("operators.sink_call"), "s")
    m["operators.index_append_s"] = (mean_of("operators.index_append"), "s")
    m["operators.kept_ratio"] = (traced.get("kept_ratio", 0.0), "ratio")
    for layer, secs in self_s.items():
        m[f"self_s.{layer}"] = (secs, "s")
    ref_rate = statistics.mean(u["records"] / u["window_s"] for u in untraced)
    ref_p50 = statistics.mean(statistics.median(u["latencies"]) for u in untraced)
    m["trace.overhead_share"] = (1 - (traced["records"] / window) / ref_rate, "ratio")
    m["trace.latency_p50_delta_s"] = (statistics.median(traced["latencies"]) - ref_p50, "s")
    ref_cpu = statistics.mean(1000 * u["cpu_s"] / max(u["records"], 1) for u in untraced)
    m["trace.cpu_ms_per_record_delta"] = (1000 * traced["cpu_s"] / records - ref_cpu, "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
