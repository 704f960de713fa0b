"""The four workloads: inputs, engine wiring, warm-up, the timed
closed-loop run, and the output checks.

Sizes are per job (or per micro-batch) and fixed; a run repeats jobs
until its time is up, so a faster engine finishes more of them.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import duckdb

from hyppo_worker_spark.model import ConcurrencyWorkResource
from hyppo_worker_spark.registry import IntegrationRegistry
from hyppo_worker_spark.scheduler.queues import QueueJournal
from hyppo_worker_spark.scheduler.scheduler import EngineConfig, HyppoEngine
from hyppo_worker_spark.storage import DataFileHandler, StorageLayout
from hyppo_worker_spark.streaming.ingest_dedup import DedupIngestSink
from perfbench import inputs
from perfbench.cputime import tree_cpu_s
from perfbench.clients import CONTROL, PROCESSED, RAW, Client, Coordinator, RunStats
from perfbench.connectors import ControlFeed, DocsRawFeed, LineitemFeed


def _rel_close(a: float, b: float, tol: float = 1e-9) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


class EngineWorkload:
    """A workload of ingestion jobs driven through ``HyppoEngine``."""

    name = ""
    records_fmt: str | None = None
    journal = False
    warm_passes = 1  # warm-up: this many rounds of one job per client

    def __init__(self, seed: int, root: str, slots: int):
        self.seed = seed
        self.root = root
        self.slots = slots

    def make_inputs(self) -> None:
        """Write the seeded inputs under ``root/inputs``."""

    def integrations(self, out_dir: str) -> list[Client]:
        raise NotImplementedError

    def build(self, spark, zone_root: str) -> None:
        """A fresh engine over fresh zones (one set-up)."""
        self.zone_root = zone_root
        os.makedirs(zone_root, exist_ok=True)
        self.out_dir = os.path.join(zone_root, "persisted")
        self.clients = self.integrations(self.out_dir)
        registry = IntegrationRegistry()
        for c in self.clients:
            registry.register(c.integration)
        self.handler = DataFileHandler(
            spark, StorageLayout(bucket=os.path.join(zone_root, "zones")), records_fmt=self.records_fmt
        )
        journal = os.path.join(zone_root, "journal.jsonl") if self.journal else None
        self.engine = HyppoEngine(
            spark,
            registry,
            self.handler,
            EngineConfig(worker_count=self.slots, journal_path=journal),
        )
        self.coordinator = Coordinator(self.engine, self.clients)

    def warm_up(self) -> None:
        self.invalid = self.coordinator.validate()
        self.warm_records = sum(self.coordinator.run(0).records for _ in range(self.warm_passes))

    def zone_records(self) -> int:
        """Source records whose data is left in ``zone_paths``."""
        return self.warm_records + self.stats.records

    def measure(self, seconds: float) -> RunStats:
        cpu = tree_cpu_s()
        self.stats = self.coordinator.run(seconds)
        self.cpu_s = tree_cpu_s() - cpu
        return self.stats

    def e2e(self) -> dict:
        s = self.stats
        return {
            "records": s.records,
            "items": s.items,
            "window_s": s.window_s,
            "cpu_s": self.cpu_s,
            "latencies": s.latencies,
            "attempted": s.items,
            "failed": s.failed_items + s.expired_items,
            "idle_drain_returns": s.idle_drain_returns,
        }

    def check(self) -> list[str]:
        """Output checks; each returned string is one failed check."""
        problems = []
        s = self.stats
        if self.invalid:
            problems.append(f"{self.invalid} integrations failed validation")
        if s.failed_jobs:
            problems.append(f"{s.failed_jobs} jobs had a failed or expired item")
        leftovers = [
            d.queue_name for d in self.engine.queues.all_details() if d.size or d.unacknowledged
        ]
        if leftovers:
            problems.append(f"work left in queues {leftovers}")
        return problems

    def zone_paths(self) -> list[str]:
        return [os.path.join(self.zone_root, "zones"), self.out_dir]

    def _persisted_glob(self) -> list[str]:
        return [os.path.join(self.out_dir, f"job-{j}", "*", "*.parquet") for j in self.stats.job_ids]


class BulkIngest(EngineWorkload):
    """Processed-data jobs over a lineitem-shaped table, parquet
    records zone. Data-plane heavy: storage and Spark scans dominate."""

    name = "bulk_ingest"
    rows = 150_000
    tasks = 4
    n_clients = 2
    warm_passes = 4

    def make_inputs(self) -> None:
        self.source = inputs.lineitem(
            self.seed, self.rows, os.path.join(self.root, "inputs", "lineitem.parquet")
        )

    def integrations(self, out_dir: str) -> list[Client]:
        return [
            Client(
                LineitemFeed(f"lineitem feed {i}", self.source, out_dir, self.tasks, self.seed + i),
                PROCESSED,
                records_per_job=self.rows,
            )
            for i in range(self.n_clients)
        ]

    def check(self) -> list[str]:
        problems = super().check()
        if not self.stats.job_ids:
            return problems + ["no job finished"]
        q = """SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s
               FROM read_parquet({}) GROUP BY 1 ORDER BY 1"""
        con = duckdb.connect()
        try:
            want = con.execute(q.format(f"'{self.source}'")).fetchall()
            got = con.execute(q.format(self._persisted_glob())).fetchall()
        finally:
            con.close()
        jobs = len(self.stats.job_ids)
        exp = [(f, n * jobs, s * jobs) for f, n, s in want]
        ok = len(got) == len(exp) and all(
            g[0] == e[0] and g[1] == e[1] and _rel_close(g[2], e[2]) for g, e in zip(got, exp)
        )
        if not ok:
            problems.append(f"persisted per-flag aggregate {got} != source x {jobs} jobs {exp}")
        return problems


class RawIngest(EngineWorkload):
    """Raw-data jobs: gzipped JSON-line payloads with md5s, a Python
    UDF parse over ``binaryFile``, and an ``avro-py`` records zone."""

    name = "raw_ingest"
    records_fmt = "avro-py"
    journal = True
    docs = 600
    tasks = 2
    warm_passes = 6
    payloads_per_task = 2
    n_clients = 2

    def make_inputs(self) -> None:
        self.documents = inputs.shuffled(self.seed, inputs.documents(self.seed, self.docs))

    def integrations(self, out_dir: str) -> list[Client]:
        return [
            Client(
                DocsRawFeed(
                    f"docs raw feed {i}", self.documents, out_dir, self.tasks, self.payloads_per_task
                ),
                RAW,
                records_per_job=self.docs,
            )
            for i in range(self.n_clients)
        ]

    def check(self) -> list[str]:
        problems = super().check()
        if not self.stats.job_ids:
            return problems + ["no job finished"]
        want: dict[str, list[int]] = {}
        for d in self.documents:
            w = want.setdefault(d["lang"], [0, 0])
            w[0] += 1
            w[1] += d["n_chars"]
        jobs = len(self.stats.job_ids)
        exp = sorted((lang, n * jobs, c * jobs) for lang, (n, c) in want.items())
        con = duckdb.connect()
        try:
            got = con.execute(
                f"""SELECT lang, count(*), sum(n_chars) FROM read_parquet({self._persisted_glob()})
                    GROUP BY 1 ORDER BY 1"""
            ).fetchall()
        finally:
            con.close()
        if [tuple(g) for g in got] != exp:
            problems.append(f"persisted per-lang aggregate {got} != source x {jobs} jobs {exp}")
        return problems


class ControlPlane(EngineWorkload):
    """Many integrations whose jobs run no Spark job: the scheduler,
    the durable journal, work serialization and log upload do the work."""

    name = "control_plane"
    journal = True
    n_clients = 48
    tasks = 8

    def integrations(self, out_dir: str) -> list[Client]:
        # Half the integrations carry a concurrency resource, so their
        # work lands on resource-suffixed queues. Capacity equals the
        # slot count: leasing always succeeds, because a contended
        # lease backs off for a randomized interval of up to seconds,
        # which would make items/s a draw of that randomness.
        return [
            Client(
                ControlFeed(f"control feed {i}", self.tasks),
                CONTROL,
                records_per_job=self.tasks,
                resources=(
                    (ConcurrencyWorkResource(f"pool-{i % 6}", self.slots),) if i % 2 else ()
                ),
            )
            for i in range(self.n_clients)
        ]

    def check(self) -> list[str]:
        problems = super().check()
        s = self.stats
        done = [c.jobs_done for c in self.clients]
        if len(set(s.job_ids)) != len(s.job_ids):
            problems.append("a job completed more than once")
        if s.expired_items:
            problems.append(f"{s.expired_items} items expired or were dead-lettered")
        live, _ = QueueJournal.replay(os.path.join(self.zone_root, "journal.jsonl"))
        if live:
            problems.append(f"{len(live)} live items left in the journal")
        if min(done) < 1:
            problems.append("a client finished no job")
        return problems

    def zone_paths(self) -> list[str]:
        return [os.path.join(self.zone_root, "zones"), os.path.join(self.zone_root, "journal.jsonl")]


UNTIMED_BATCHES = 1  # batch 0 of each pass probes an empty index: cheaper
# The JVM is still warming up over the first timed batches (CPU per batch
# falls by about a quarter over seven of them), so CPU per record is the
# median over this many timed batches, the same ones in every run
# whatever the host's speed; a pass runs on until it has timed them.
GATED_BATCHES = 5


class StreamDedup:
    """Streaming near-duplicate admission through ``DedupIngestSink``:
    a closed-loop feeder writes the next batch file only when the
    previous micro-batch has been admitted; one file per trigger."""

    name = "stream_dedup"
    batch_size = 100
    backlog = 30

    def __init__(self, seed: int, root: str, slots: int):
        self.seed = seed
        self.root = root
        self.slots = slots
        self.passes = 0
        self.warm_kept: list[int] = []  # batch 0's admitted count, per pass
        # What foreachBatch receives; the traced run wraps the sink.
        self.batch_fn = lambda sink: sink

    def make_inputs(self) -> None:
        self.batches = inputs.stream_batches(self.seed, self.backlog, self.batch_size)

    def build(self, spark, zone_root: str) -> None:
        self.spark = spark
        self.zone_root = zone_root

    def _start(self, tag: str):
        base = os.path.join(self.zone_root, tag)
        src = os.path.join(base, "source")
        os.makedirs(src, exist_ok=True)
        sink = DedupIngestSink(self.spark, os.path.join(base, "store"))
        stream = (
            self.spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        query = (
            stream.writeStream.foreachBatch(self.batch_fn(sink))
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        return src, sink, query

    def _feed(self, tag: str, seconds: float | None, max_batches: int, min_timed: int = 1):
        """Closed loop: one file, wait until its micro-batch has been
        committed, repeat. Batch 0, which finds an empty index, runs
        untimed; then batches are timed until ``seconds`` have passed and
        at least ``min_timed`` batches were timed or, with
        ``seconds=None``, until ``max_batches`` ran."""
        src, sink, query = self._start(tag)
        self.sink, self.tag = sink, tag
        fed = 0
        progress: list[dict] = []
        deadline = t0 = None
        cpu_marks: list[float] = []  # CPU seconds at each timed batch boundary
        try:
            while fed < max_batches and (
                deadline is None
                or fed < UNTIMED_BATCHES + min_timed
                or time.monotonic() < deadline
            ):
                if fed == UNTIMED_BATCHES and seconds is not None:
                    cpu_marks.append(tree_cpu_s())
                    t0 = time.monotonic()
                    deadline = t0 + seconds
                inputs.write_batch(self.batches[fed], os.path.join(src, f"batch-{fed:05d}.parquet"))
                fed += 1
                # The sink's own ledger first (no JVM round trip while the
                # batch runs), then the progress report that follows the
                # batch's commit.
                while len(sink.admitted_counts) < fed or len(progress) < fed:
                    if query.exception() is not None:
                        raise RuntimeError(f"stream failed: {query.exception()}")
                    time.sleep(0.002)
                    if len(sink.admitted_counts) >= fed:
                        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
                if cpu_marks:
                    cpu_marks.append(tree_cpu_s())
            if t0 is not None:
                self.window = time.monotonic() - t0
                self.cpu_s = cpu_marks[-1] - cpu_marks[0]
                self.batch_cpu_s = [b - a for a, b in zip(cpu_marks, cpu_marks[1:])]
        finally:
            query.stop()
        return fed, progress

    def warm_up(self) -> None:
        """The first two batches of the backlog through a fresh sink:
        the second one probes an existing index."""
        self._feed("warm", None, 2)
        self.warm_kept.append(self.sink.admitted_counts[0][2])

    def measure(self, seconds: float, min_timed: int = GATED_BATCHES):
        self.passes += 1
        self.fed, self.progress = self._feed(f"run-{self.passes}", seconds, self.backlog, min_timed)
        self.warm_kept.append(self.sink.admitted_counts[0][2])
        return self

    def e2e(self) -> dict:
        """Figures of the timed batches (all but the untimed first ones)."""
        counts = self.sink.admitted_counts
        timed = counts[UNTIMED_BATCHES:]
        store = os.path.join(self.zone_root, self.tag)
        n_in = sum(n for _, n, _ in timed)
        return {
            "records": n_in,
            "items": len(timed),
            "window_s": self.window,
            "cpu_s": self.cpu_s,
            "cpu_ms_per_record": statistics.median(
                1000 * c / n for c, (_, n, _) in zip(self.batch_cpu_s[:GATED_BATCHES], timed)
            ),
            "latencies": [p["durationMs"]["triggerExecution"] / 1000 for p in self.progress[UNTIMED_BATCHES:]],
            "attempted": self.fed,
            "failed": self.fed - len(counts),
            "progress": self.progress[UNTIMED_BATCHES:],
            "kept_ratio": sum(k for _, _, k in timed) / max(n_in, 1),
            "state_bytes": sum(
                dir_bytes(os.path.join(store, *p))
                for p in (("checkpoint",), ("store", "index"), ("store", "digests"), ("store", "markers"))
            ),
        }

    def check(self) -> list[str]:
        problems = []
        counts = self.sink.admitted_counts
        fed_docs = sum(len(b) for b in self.batches[: self.fed])
        admitted = sum(k for _, _, k in counts)
        if sum(n for _, n, _ in counts) != fed_docs:
            problems.append(f"admitted + rejected {sum(n for _, n, _ in counts)} != input {fed_docs}")
        con = duckdb.connect()
        try:
            texts = con.execute(
                "SELECT text FROM read_parquet(?)",
                [os.path.join(self.zone_root, self.tag, "store", "corpus", "*.parquet")],
            ).fetchall()
        finally:
            con.close()
        if len(texts) != admitted:
            problems.append(f"corpus holds {len(texts)} docs, sink admitted {admitted}")
        if len({hashlib.md5(t.encode()).hexdigest() for (t,) in texts}) != len(texts):
            problems.append("two admitted docs share an md5")
        if len(set(self.warm_kept)) != 1:
            problems.append(f"batch 0 admitted different counts in passes of the same seed: {self.warm_kept}")
        if self.fed >= self.backlog:
            problems.append("the backlog ran out before the time did")
        return problems

    def zone_paths(self) -> list[str]:
        return [os.path.join(self.zone_root, self.tag, "store")]

    def zone_records(self) -> int:
        return sum(n for _, n, _ in self.sink.admitted_counts)


WORKLOADS = {w.name: w for w in (BulkIngest, RawIngest, ControlPlane, StreamDedup)}


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total

