"""Stat-checked ``zipimporter.invalidate_caches`` (``_zipimport``): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a changed one is, and Spark's Python workers run the hook once they
import the engine."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ zipimporter re-reads lazily"
)

MODULE = "hyppo_zip_probe"


def _write_zip(path: str, value: str) -> None:
    """Write a fresh archive holding one module (a new inode each time)."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{MODULE}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    from hyppo_worker_spark import _zipimport

    _zipimport.install()
    hook = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is hook  # idempotent

    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "one")
    monkeypatch.syspath_prepend(archive)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    try:
        m = importlib.import_module(MODULE)
        assert m.VALUE == "one"
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        # The importer read its directory when it was built; the first
        # invalidation re-reads once and records the archive's stat.
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, "second")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.reload(m).VALUE == "second"
    finally:
        sys.modules.pop(MODULE, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_worker_installs_the_hook(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        import hyppo_worker_spark  # noqa: F401

        for _ in batches:
            pass
        hook = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pylist(
            [{"stat_checked": getattr(hook, "stat_checked", False)}],
            schema=pa.schema([pa.field("stat_checked", pa.bool_())]),
        )

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "stat_checked boolean").collect()
    assert [r.stat_checked for r in rows] == [True]
