"""Post-collection ``gc.freeze()`` in reused Spark Python workers
(``_gcfreeze``): survivors of a full collection are frozen, new cycles
are still reclaimed at once, frozen ones within ``THAW_EVERY`` full
collections, and only a reused worker registers the hook."""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import weakref

import pytest

from hyppo_worker_spark import _gcfreeze

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Node:
    pass


def _cycle() -> tuple[Node, weakref.ref]:
    a, b = Node(), Node()
    a.other, b.other = b, a
    return a, weakref.ref(a)


@pytest.fixture()
def hook(monkeypatch):
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    monkeypatch.setattr(_gcfreeze, "_full_collections", 0)
    try:
        yield
    finally:
        while _gcfreeze._on_gc in gc.callbacks:
            gc.callbacks.remove(_gcfreeze._on_gc)
        gc.unfreeze()


def test_full_collection_freezes_survivors(hook):
    assert _gcfreeze.install()
    gc.collect()
    assert gc.get_freeze_count() > 0


def test_cycle_made_after_the_freeze_is_reclaimed(hook):
    _gcfreeze.install()
    gc.collect()
    a, ref = _cycle()
    del a
    gc.collect()
    assert ref() is None


def test_frozen_cycle_is_reclaimed_by_a_thawed_collection(hook):
    _gcfreeze.install()
    a, ref = _cycle()
    keep = [a]
    del a
    gc.collect()  # the first full collection thaws, then freezes the cycle
    keep.clear()
    gc.collect()
    assert ref() is not None  # frozen: not scanned
    for _ in range(_gcfreeze.THAW_EVERY - 1):
        gc.collect()
        if ref() is None:
            break
    assert ref() is None


def test_install_is_idempotent(hook):
    assert _gcfreeze.install()
    assert _gcfreeze.install()
    assert gc.callbacks.count(_gcfreeze._on_gc) == 1


def test_nothing_registered_outside_a_reused_worker(monkeypatch):
    monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
    assert not _gcfreeze.install()
    assert _gcfreeze._on_gc not in gc.callbacks


def test_reused_spark_worker_freezes_its_heap():
    """A reused ``local[1]`` worker (its own session: the test session
    turns reuse off) has frozen its import-time heap by its third task."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "worker_heap.py"), "--tasks", "3", "--json"],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    rows = [json.loads(line) for line in out.splitlines() if line.startswith("{")]
    assert [r["task"] for r in rows] == [0, 1, 2]
    assert len({r["pid"] for r in rows}) == 1  # one reused worker
    assert rows[2]["frozen"] > 10_000
