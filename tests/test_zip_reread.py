"""Spark Python workers re-read an import archive only when it changed.

Before CPython 3.13, ``importlib.invalidate_caches()`` makes every
zipimporter instance re-read its whole archive directory, and a Spark
Python worker calls it at the start of every task. Importing the engine in
a worker installs ``statschat_ke_spark._stat_checked``, which re-reads an
archive only when its (inode, size, mtime) changed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import statschat_ke_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 reads zip directories lazily"
)

PACKAGE = {
    "zpkg/__init__.py": "",
    "zpkg/sub/__init__.py": "",
    "zpkg/sub/a.py": "X = 1\n",
}


def _write_zip(path: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path + ".tmp", "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(path + ".tmp", path)


def _count_reads(monkeypatch) -> list[str]:
    """Archives passed to ``zipimport._read_directory`` from now on."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zipped_package(tmp_path, monkeypatch):
    """A package and a subpackage imported from a zip on ``sys.path``, so
    that one zipimporter instance per package dir holds the archive."""
    zp = str(tmp_path / "zpkg.zip")
    _write_zip(zp, PACKAGE)
    monkeypatch.syspath_prepend(zp)
    try:
        yield zp
    finally:
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(zp)]:
            del sys.path_importer_cache[path]


def test_unchanged_archive_is_not_reread(zipped_package, monkeypatch):
    zp = zipped_package
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        statschat_ke_spark._stat_checked(zipimport.zipimporter.invalidate_caches),
    )
    assert importlib.import_module("zpkg.sub.a").X == 1
    importers = [
        f for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and f.archive == zp
    ]
    assert len(importers) >= 2, sys.path_importer_cache

    importlib.invalidate_caches()  # the first checked call reads each archive once
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []

    _write_zip(zp, {**PACKAGE, "zpkg/sub/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert calls.count(zp) == 1  # one read, shared by every instance
    assert importlib.import_module("zpkg.sub.b").Y == 2


def test_driver_keeps_the_stock_reread():
    """Only a Spark Python worker installs the check."""
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_workers_skip_unchanged_archives(spark):
    """Two 1-task Python jobs that import the engine. In each, the second
    ``importlib.invalidate_caches()`` reads no archive; the stock one reads
    ``pyspark.zip`` and the py4j zip once per zipimporter instance. When the
    second job reuses the first one's worker, its first call reads none
    either: the task's own setup call already went through the check."""

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        import statschat_ke_spark  # noqa: F401  (installs the check)

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda archive: (reads.append(archive), real(archive))[1]
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "first": [first], "second": [len(reads) - first]}
        )

    def job():
        [row] = (
            spark.range(1, numPartitions=1)
            .mapInArrow(probe, "pid long, first long, second long")
            .collect()
        )
        return row

    one, two = job(), job()
    assert one.second == 0 and two.second == 0, (one, two)
    if two.pid == one.pid:
        assert two.first == 0, (one, two)
