"""End-to-end operation round-trips — the engine analog of the
reference's executor command tests
(``ProcessedDataTest.scala:13-59``, ``RawDataTest.scala:12-56``,
``ValidateIntegrationTest``, ``CreateTasksCommandTest``,
``HandleJobCompletedTest``)."""

from hyppo_worker_spark.model import (
    CreateIngestionTasksRequest,
    DataIngestionJob,
    FailureResponse,
    FetchProcessedDataRequest,
    FetchRawDataRequest,
    HandleJobCompletedRequest,
    IngestionSource,
    PersistProcessedDataRequest,
    ProcessRawDataRequest,
    ValidateIntegrationRequest,
)
from hyppo_worker_spark.operations import run_operation
from hyppo_worker_spark.registry import IntegrationRegistry
from tests.fixtures import ProcessedDataStub, RawDataStub


def _setup(integration):
    registry = IntegrationRegistry()
    registry.register(integration)
    return registry


def test_processed_data_full_pipeline(spark, storage):
    """fetch → records file exists with count > 0 → re-read → persist
    (mirrors ProcessedDataTest assertions)."""
    stub = ProcessedDataStub()
    registry = _setup(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))

    v = run_operation(spark, registry, storage, ValidateIntegrationRequest(integration=details))
    assert v.is_valid, v.validation_errors
    assert not v.raw_data_integration
    assert v.schema is not None and "TestRecord" not in v.schema.name

    ct = run_operation(
        spark, registry, storage, CreateIngestionTasksRequest(integration=details, job=job)
    )
    assert len(ct.tasks) == 1
    task = ct.tasks[0]
    assert task.task_number == 1

    f = run_operation(
        spark, registry, storage, FetchProcessedDataRequest(integration=details, task=task)
    )
    assert f.data is not None
    assert f.data.record_count == 1
    back = storage.read_records(f.data)
    rows = back.collect()
    assert len(rows) == 1 and rows[0].name == "Name Value"

    p = run_operation(
        spark,
        registry,
        storage,
        PersistProcessedDataRequest(integration=details, task=task, data=f.data),
    )
    assert not isinstance(p, FailureResponse)
    assert [r.name for r in stub.persisted_rows] == ["Name Value"]

    done = run_operation(
        spark,
        registry,
        storage,
        HandleJobCompletedRequest(integration=details, job=job, tasks=ct.tasks),
    )
    assert not isinstance(done, FailureResponse)


def test_raw_data_pipeline_matching_content(spark, storage):
    """fetchRaw → process (recordCount == 1) → persist
    (mirrors RawDataTest)."""
    stub = RawDataStub()
    registry = _setup(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    ct = run_operation(
        spark, registry, storage, CreateIngestionTasksRequest(integration=details, job=job)
    )
    task = ct.tasks[0]

    fr = run_operation(
        spark, registry, storage, FetchRawDataRequest(integration=details, task=task)
    )
    assert len(fr.data) == 1
    assert fr.data[0].file_size > 0

    pr = run_operation(
        spark,
        registry,
        storage,
        ProcessRawDataRequest(integration=details, task=task, files=fr.data),
    )
    assert pr.data is not None and pr.data.record_count == 1

    p = run_operation(
        spark,
        registry,
        storage,
        PersistProcessedDataRequest(integration=details, task=task, data=pr.data),
    )
    assert not isinstance(p, FailureResponse)
    assert [r.name for r in stub.persisted_rows] == ["Test Name"]


def test_raw_data_non_matching_content_produces_no_records(spark, storage):
    """The filter semantics FIXTURES.md F2 pins: only matching payloads
    produce records."""
    stub = RawDataStub(payloads=[b"not-hello", b"also-wrong"])
    registry = _setup(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    ct = run_operation(
        spark, registry, storage, CreateIngestionTasksRequest(integration=details, job=job)
    )
    task = ct.tasks[0]
    fr = run_operation(
        spark, registry, storage, FetchRawDataRequest(integration=details, task=task)
    )
    pr = run_operation(
        spark,
        registry,
        storage,
        ProcessRawDataRequest(integration=details, task=task, files=fr.data),
    )
    assert pr.data.record_count == 0


def test_validate_unregistered_integration(spark, storage):
    registry = IntegrationRegistry()
    stub = ProcessedDataStub()
    resp = run_operation(
        spark, registry, storage, ValidateIntegrationRequest(integration=stub.details())
    )
    assert not resp.is_valid
    assert resp.validation_errors


def test_failure_response_carries_chained_exception(spark, storage):
    class ExplodingStub(ProcessedDataStub):
        source_name = "Boom"

        def fetch_processed(self, spark, task):
            try:
                raise ValueError("inner cause")
            except ValueError as e:
                raise RuntimeError("fetch failed") from e

    stub = ExplodingStub()
    registry = _setup(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    ct = run_operation(
        spark, registry, storage, CreateIngestionTasksRequest(integration=details, job=job)
    )
    resp = run_operation(
        spark,
        registry,
        storage,
        FetchProcessedDataRequest(integration=details, task=ct.tasks[0]),
    )
    assert isinstance(resp, FailureResponse)
    assert resp.exception.exception_class == "RuntimeError"
    assert resp.exception.cause is not None
    assert resp.exception.cause.exception_class == "ValueError"


def test_job_source_mismatch_fails_validation(spark, storage):
    stub = ProcessedDataStub()
    registry = _setup(stub)
    details = stub.details()
    wrong_job = DataIngestionJob(source=IngestionSource(name="Other Source"))
    resp = run_operation(
        spark,
        registry,
        storage,
        CreateIngestionTasksRequest(integration=details, job=wrong_job),
    )
    assert isinstance(resp, FailureResponse)
    assert "ValidationError" in resp.exception.exception_class


def test_run_operation_attaches_log_file(spark, storage):
    import logging

    class ChattyStub(ProcessedDataStub):
        source_name = "Chatty"

        def fetch_processed(self, spark, task):
            logging.getLogger("connector").warning("fetching slice %s", task.task_number)
            return super().fetch_processed(spark, task)

    stub = ChattyStub()
    registry = _setup(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    ct = run_operation(
        spark, registry, storage, CreateIngestionTasksRequest(integration=details, job=job)
    )
    resp = run_operation(
        spark,
        registry,
        storage,
        FetchProcessedDataRequest(integration=details, task=ct.tasks[0]),
    )
    assert resp.log_file is not None
    with open(resp.log_file.location.uri()) as f:
        content = f.read()
    assert "fetching slice 1" in content


def test_failure_log_records_exception(spark, storage):
    class Bad(ProcessedDataStub):
        source_name = "BadLog"

        def fetch_processed(self, spark, task):
            raise RuntimeError("kaput")

    stub = Bad()
    registry = _setup(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    ct = run_operation(
        spark, registry, storage, CreateIngestionTasksRequest(integration=details, job=job)
    )
    resp = run_operation(
        spark,
        registry,
        storage,
        FetchProcessedDataRequest(integration=details, task=ct.tasks[0]),
    )
    assert isinstance(resp, FailureResponse)
    assert resp.log_file is not None
    with open(resp.log_file.location.uri()) as f:
        assert "RuntimeError: kaput" in f.read()


def test_concurrent_executions_keep_their_own_log_lines(tmp_path):
    """Two slots run operations at once; each uploaded log holds only
    the lines its own connector logged."""
    import logging
    import threading

    from hyppo_worker_spark.storage import DataFileHandler, StorageLayout

    barrier = threading.Barrier(2, timeout=30)

    def chatty(name):
        class Chatty(ProcessedDataStub):
            source_name = name

            def create_tasks(self, job):
                for i in range(3):
                    logging.getLogger("connector").warning("%s-line-%d", name, i)
                    barrier.wait()  # the other slot logs in between
                return [{}]

        return Chatty()

    stubs = [chatty("SlotA"), chatty("SlotB")]
    registry = IntegrationRegistry()
    for stub in stubs:
        registry.register(stub)
    handler = DataFileHandler(None, StorageLayout(bucket=str(tmp_path)))
    responses = {}

    def run(stub):
        job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
        item = CreateIngestionTasksRequest(integration=stub.details(), job=job)
        responses[stub.source_name] = run_operation(None, registry, handler, item)

    threads = [threading.Thread(target=run, args=(stub,)) for stub in stubs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
        assert not t.is_alive()
    for own, other in (("SlotA", "SlotB"), ("SlotB", "SlotA")):
        resp = responses[own]
        assert resp.log_file is not None
        with open(resp.log_file.location.uri()) as f:
            content = f.read()
        assert [f"{own}-line-{i}" in content for i in range(3)] == [True] * 3
        assert other not in content
