"""The traced benchmark run (``perfbench/run.py --trace 1``) measures
the engine by wrapping or patching engine attributes by name from
outside (``perfbench/tracing.py``). This pins every one of those names,
so a refactor that renames or removes one fails here instead of
breaking the traced run. No Spark session is needed."""

from __future__ import annotations

import inspect

import pytest

import hyppo_worker_spark.model as model_mod
import hyppo_worker_spark.scheduler.scheduler as scheduler_mod
import hyppo_worker_spark.sources.avro_container as avro_mod
import hyppo_worker_spark.storage as storage_mod
from hyppo_worker_spark.operators.lsh_index import MinHashLshIndex
from hyppo_worker_spark.scheduler.queues import QueueJournal, WorkQueueTable
from hyppo_worker_spark.scheduler.resources import RecentResourceContention
from hyppo_worker_spark.scheduler.scheduler import HyppoEngine, ResponseHandler
from hyppo_worker_spark.storage import DataFileHandler

HOOKS = [
    (avro_mod, "write_avro"),
    (avro_mod, "read_avro"),
    (storage_mod, "md5_hex"),
    (DataFileHandler, "write_records"),
    (DataFileHandler, "read_records"),
    (DataFileHandler, "upload_raw"),
    (DataFileHandler, "download_raw"),
    (DataFileHandler, "read_raw_df"),
    (DataFileHandler, "upload_log"),
    (scheduler_mod, "run_operation"),
    (HyppoEngine, "run_once"),
    (HyppoEngine, "submit"),
    (ResponseHandler, "dispatch_response"),
    (ResponseHandler, "on_status"),
    (QueueJournal, "commit"),
    (WorkQueueTable, "basic_get"),
    (RecentResourceContention, "failed_to_acquire"),
    (model_mod, "serialize_work"),
    (MinHashLshIndex, "append"),
    (MinHashLshIndex, "compute_frames"),
    (MinHashLshIndex, "pairs_against"),
]


@pytest.mark.parametrize(
    "owner,attr", HOOKS, ids=[f"{o.__name__}.{a}" for o, a in HOOKS]
)
def test_traced_attribute_exists(owner, attr):
    assert callable(getattr(owner, attr, None)), f"{owner.__name__}.{attr}"


def test_run_operation_takes_item_fourth():
    # the tracer names each span from the 4th positional argument
    params = list(inspect.signature(scheduler_mod.run_operation).parameters)
    assert params[:4] == ["spark", "registry", "handler", "item"]


def test_storage_imports_avro_io_at_call_time():
    # a module-level import would bind the unwrapped functions, and the
    # traced run would miss every records-zone read and write
    assert "write_avro" not in vars(storage_mod)
    assert "read_avro" not in vars(storage_mod)
