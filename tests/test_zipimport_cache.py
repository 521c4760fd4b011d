"""Zip-importer directory caching (``webx/__init__.py``).

Before Python 3.12, ``importlib.invalidate_caches()`` makes every
``zipimporter`` re-parse its archive's whole central directory. PySpark's
worker calls it at the start of every Python task, so each task re-read
``pyspark.zip``, the Spark jar, py4j and any ``--py-files`` zip once per
importer. Importing ``webx`` makes an unchanged archive keep its cached
directory, re-reads a changed one once for all its importers, and still
clears the importer of a deleted one.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import webx

below_3_12 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12+ zipimport shares one directory read per archive itself",
)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one package, imported so the archive has
    two importers (the archive root and the package directory); yields
    ``(path, pkg, reads)`` where ``reads`` lists every archive that
    ``zipimport._read_directory`` parses from here on."""
    pkg = f"zc_{tmp_path.name.replace('-', '_')}"
    path = str(tmp_path / "lib.zip")
    _write(path, pkg, {"m1": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{pkg}.m1")
    reads: list = []
    real = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, pkg, reads
    for name in [n for n in sys.modules if n.split(".")[0] == pkg]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _write(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"{pkg}/{name}.py", src)


def _importers(path):
    return [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == path
    ]


def test_shim_installed_only_below_3_12():
    installed = zipimport.zipimporter.invalidate_caches.__module__ == webx.__name__
    assert installed == (sys.version_info < (3, 12))


@below_3_12
def test_unchanged_archive_is_not_reread(archive):
    path, _pkg, reads = archive
    assert len(_importers(path)) == 2
    # Created after webx was imported, so the first invalidation reads the
    # directory once for both importers; later ones read nothing.
    importlib.invalidate_caches()
    assert reads.count(path) <= 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == 0
    cached = zipimport._zip_directory_cache[path]
    assert all(imp._files is cached for imp in _importers(path))


@below_3_12
def test_rewritten_archive_is_reread_once(archive):
    path, pkg, reads = archive
    importlib.invalidate_caches()
    reads.clear()
    _write(path, pkg, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module(f"{pkg}.m2").Y == 2


@below_3_12
def test_deleted_archive_clears_its_importers(archive):
    path, _pkg, _reads = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(path))


@below_3_12
def test_reused_spark_worker_rereads_no_archive(spark):
    """A Python worker's second webx task starts without re-parsing any
    zip directory (about 16 reads per task without the shim)."""

    def arm(batches):
        # Runs after this task's invalidate_caches(); counts the reads the
        # next task in this worker makes while it starts up.
        if not hasattr(zipimport, "_webx_reads"):
            real = zipimport._webx_real = zipimport._read_directory
            zipimport._webx_reads = []

            def counting(archive_path):
                zipimport._webx_reads.append(archive_path)
                return real(archive_path)

            zipimport._read_directory = counting
        zipimport._webx_reads.clear()
        for pdf in batches:
            yield pdf.assign(v=webx.__version__)

    def report(batches):
        import pandas as pd

        reads = getattr(zipimport, "_webx_reads", None)
        if reads is not None:
            zipimport._read_directory = zipimport._webx_real
            del zipimport._webx_reads, zipimport._webx_real
        for _ in batches:
            yield pd.DataFrame(
                {"armed": [reads is not None], "reads": [len(reads or [])]}
            )

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, n)
    df.mapInPandas(arm, "id long, v string").collect()
    rows = df.mapInPandas(report, "armed boolean, reads long").collect()
    armed = [r.reads for r in rows if r.armed]
    assert armed, "no task ran in a reused worker"
    assert armed == [0] * len(armed)
