"""Freeze a reused Spark Python worker's long-lived heap after each full
garbage collection.

With worker reuse on (``SPARK_REUSE_WORKER`` set), ``pyspark/daemon.py``
runs ``gc.collect()`` after every task. A worker that has imported
``pyspark.worker``, pyarrow, pandas and the engine holds ~77k objects,
so each of those full collections re-scans the same import-time heap
(~40 ms of CPU) while the task body itself costs a few ms. A
``gc.callbacks`` hook moves the survivors of every full (generation 2)
collection into the permanent generation (``gc.freeze()``); the next
post-task collection then scans only what was allocated since.

Every ``THAW_EVERY``-th full collection starts with ``gc.unfreeze()``,
so it scans the whole heap: a cycle among frozen objects that later
became garbage is still reclaimed, and a long-lived worker's heap stays
bounded. The driver never sets ``SPARK_REUSE_WORKER``, so it is left
alone, as are workers that exit after one task.
"""

from __future__ import annotations

import gc
import os

THAW_EVERY = 64

_full_collections = 0


def _on_gc(phase: str, info: dict) -> None:
    global _full_collections
    if info["generation"] != 2:
        return
    if phase == "start":
        if _full_collections % THAW_EVERY == 0:
            gc.unfreeze()
        _full_collections += 1
    else:
        gc.freeze()


def install() -> bool:
    """Register the hook once per process, only in a reused Spark Python
    worker. Returns whether it is registered."""
    if not os.environ.get("SPARK_REUSE_WORKER"):
        return False
    if _on_gc not in gc.callbacks:
        gc.callbacks.append(_on_gc)
    return True
