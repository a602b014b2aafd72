"""Executor-import packaging: a Python worker's per-task
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed (``packaging.install_zip_cache_guard``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from epigraphdb_graph_spark.packaging import install_zip_cache_guard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter re-reads lazily from Python 3.13 on")


def test_worker_rereads_no_unchanged_archive(spark):
    def probe(_):
        import importlib
        import sys
        import zipimport

        import epigraphdb_graph_spark  # noqa: F401  (installs the guard)

        read = zipimport._read_directory
        paths = []

        def counting(path):
            paths.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(paths)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield zips, paths[:first], paths[first:]

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    [(zips, first, again)] = got
    assert zips > 0  # the worker imports pyspark and this package from zips
    # the first call reads each archive at most once, not once per importer
    assert len(first) == len(set(first))
    assert again == []


def _write_module(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("m.py", body)


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    install_zip_cache_guard()
    archive = str(tmp_path / "mods.zip")
    _write_module(archive, "VERSION = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    assert importlib.import_module("m").VERSION == 1

    importlib.invalidate_caches()  # records the archive's signature
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()  # unchanged: no re-read
    assert zipimport._zip_directory_cache[archive] is files

    _write_module(archive, "VERSION = 2  # a different size\n")
    importlib.invalidate_caches()
    del sys.modules["m"]
    assert importlib.import_module("m").VERSION == 2
    sys.modules.pop("m", None)


def test_guard_installs_once():
    install_zip_cache_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not hasattr(guarded.__wrapped__, "__wrapped__")
