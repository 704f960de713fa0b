"""Closed-loop coordinator clients.

Each integration is one client. A client validates its integration
once during set-up, then submits one job at a time:
``CreateIngestionTasks`` first, each task's next work item when the
previous one responds, and the next job only when the last item of the
current job has responded.
The engine is polled until every submitted job has finished, as a
long-running worker would keep polling.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from hyppo_worker_spark.model import (
    CreateIngestionTasksRequest,
    DataIngestionJob,
    FetchProcessedDataRequest,
    FetchRawDataRequest,
    HandleJobCompletedRequest,
    IngestionSource,
    Operation,
    PersistProcessedDataRequest,
    ProcessRawDataRequest,
    ValidateIntegrationRequest,
)

# How a job fans out after CreateIngestionTasks:
#   processed: FetchProcessedData → PersistProcessedData per task, then one HandleJobCompleted
#   raw:       FetchRawData → ProcessRawData → PersistProcessedData per task, then one HandleJobCompleted
#   control:   one HandleJobCompleted per task
PROCESSED, RAW, CONTROL = "processed", "raw", "control"
POLL_S = 0.002  # pause before polling an engine that came back idle with work open


@dataclass
class Client:
    integration: object
    family: str
    records_per_job: int
    resources: tuple = ()
    jobs_done: int = 0


@dataclass
class _Job:
    client: Client
    job: DataIngestionJob
    submitted_at: float
    pending: int = 1
    n_tasks: int = 0
    persisted: list = field(default_factory=list)
    failed: bool = False


@dataclass
class RunStats:
    """What one closed-loop run observed."""

    window_s: float
    failed_jobs: int
    items: int
    failed_items: int
    expired_items: int
    records: int
    latencies: list[float]
    job_ids: list[str]
    idle_drain_returns: int


class Coordinator:
    """Routes every response of one engine to the job it belongs to and
    submits the follow-up work. Callbacks run on the engine's slot
    threads, so all bookkeeping is under one lock."""

    def __init__(self, engine, clients: list[Client]):
        self.engine = engine
        self.clients = clients
        self._lock = threading.Lock()
        self._jobs: dict[str, _Job] = {}
        self._deadline = 0.0
        self._reset()
        engine.responses.on_completed(self._on_completed)
        engine.responses.on_failed(self._on_failed)
        engine.responses.on_expired(self._on_expired)

    def _reset(self) -> None:
        self._open = 0
        self._items = self._failed_items = self._expired_items = 0
        self._latencies: list[float] = []
        self._done_ids: list[str] = []
        self._failed_jobs = 0
        self._records = 0
        self._last_done = 0.0

    # -- submission ------------------------------------------------------

    def _submit(self, submissions: list[tuple]) -> None:
        """Enqueue outside the coordinator lock: with the journal on,
        each enqueue waits for an fsync."""
        for client, item_cls, kw in submissions:
            self.engine.submit(
                item_cls(
                    integration=client.integration.details(),
                    resources=client.resources,
                    **kw,
                )
            )

    def _start_job(self, client: Client) -> tuple:
        job = DataIngestionJob(source=IngestionSource(name=client.integration.source_name))
        self._jobs[job.id] = _Job(client, job, time.monotonic())
        self._open += 1
        return (client, CreateIngestionTasksRequest, {"job": job})

    def _finish_job(self, j: _Job) -> list[tuple]:
        now = time.monotonic()
        del self._jobs[j.job.id]
        self._open -= 1
        self._last_done = now
        self._latencies.append(now - j.submitted_at)
        self._done_ids.append(j.job.id)
        if j.failed:
            self._failed_jobs += 1
        else:
            self._records += j.client.records_per_job
        j.client.jobs_done += 1
        return [self._start_job(j.client)] if now < self._deadline else []

    # -- response routing ------------------------------------------------

    @staticmethod
    def _job_id(item) -> str | None:
        job = getattr(item, "job", None) or getattr(getattr(item, "task", None), "job", None)
        return job.id if job is not None else None

    def _on_completed(self, resp) -> None:
        item = resp.input
        with self._lock:
            self._items += 1
            if item.operation is Operation.VALIDATE_INTEGRATION:
                self._open -= 1
                self._failed_items += not resp.is_valid
                return
            submissions = self._advance(resp)
        self._submit(submissions)

    def _advance(self, resp) -> list[tuple]:
        item = resp.input
        j = self._jobs[self._job_id(item)]
        c = j.client
        follow: list[tuple] = []
        op = item.operation
        if op is Operation.CREATE_INGESTION_TASKS:
            j.n_tasks = len(resp.tasks)
            for t in resp.tasks:
                if c.family == PROCESSED:
                    follow.append((c, FetchProcessedDataRequest, {"task": t}))
                elif c.family == RAW:
                    follow.append((c, FetchRawDataRequest, {"task": t}))
                else:
                    follow.append((c, HandleJobCompletedRequest, {"job": j.job, "tasks": (t,)}))
        elif op is Operation.FETCH_RAW_DATA:
            follow.append((c, ProcessRawDataRequest, {"task": item.task, "files": resp.data}))
        elif op in (Operation.FETCH_PROCESSED_DATA, Operation.PROCESS_RAW_DATA):
            follow.append((c, PersistProcessedDataRequest, {"task": item.task, "data": resp.data}))
        elif op is Operation.PERSIST_PROCESSED_DATA:
            j.persisted.append(item.task)
            if len(j.persisted) == j.n_tasks:
                tasks = tuple(sorted(j.persisted, key=lambda t: t.task_number))
                follow.append((c, HandleJobCompletedRequest, {"job": j.job, "tasks": tasks}))
        j.pending += len(follow) - 1
        if j.pending == 0:
            follow += self._finish_job(j)
        return follow

    def _terminal_failure(self, item, expired: bool) -> None:
        with self._lock:
            self._items += not expired
            self._failed_items += not expired
            self._expired_items += expired
            jid = self._job_id(item)
            j = self._jobs.get(jid) if jid else None
            if j is None:  # a failed validation: the client stops
                self._open -= 1
                return
            j.failed = True
            j.pending -= 1
            submissions = self._finish_job(j) if j.pending == 0 else []
        self._submit(submissions)

    def _on_failed(self, resp) -> None:
        self._terminal_failure(resp.input, expired=False)

    def _on_expired(self, item) -> None:
        self._terminal_failure(item, expired=True)

    # -- the run -----------------------------------------------------------

    def _drain(self) -> int:
        """Poll the engine until nothing is open; returns how often
        ``run_until_idle`` came back while work was still open."""
        idle_returns = 0
        while True:
            self.engine.run_until_idle()
            with self._lock:
                if self._open == 0:
                    return idle_returns
            idle_returns += 1
            time.sleep(POLL_S)

    def validate(self) -> int:
        """Validate every client's integration once (part of set-up);
        returns how many validations failed."""
        with self._lock:
            self._reset()
            self._open = len(self.clients)
        self._submit([(c, ValidateIntegrationRequest, {}) for c in self.clients])
        self._drain()
        return self._failed_items

    def run(self, seconds: float) -> RunStats:
        """Closed-loop run: clients start jobs until ``seconds`` have
        passed, then every open job is drained. ``seconds=0`` runs one
        job per client (the warm-up pass)."""
        with self._lock:
            self._reset()
            t0 = time.monotonic()
            self._deadline = t0 + seconds
            submissions = [self._start_job(c) for c in self.clients]
        self._submit(submissions)
        idle_returns = self._drain()
        return RunStats(
            window_s=self._last_done - t0,
            failed_jobs=self._failed_jobs,
            items=self._items,
            failed_items=self._failed_items,
            expired_items=self._expired_items,
            records=self._records,
            latencies=list(self._latencies),
            job_ids=list(self._done_ids),
            idle_drain_returns=idle_returns,
        )
