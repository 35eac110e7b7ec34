"""Lazy zip-import cache invalidation in the Python-worker daemon.

Every Spark task calls ``importlib.invalidate_caches()``; on Python 3.11
that re-reads each zip archive's central directory (pyspark.zip per task).
``etlpy_spark.spark_daemon`` re-reads an archive only after it changed.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest


@pytest.fixture
def lazy_daemon():
    from etlpy_spark import spark_daemon

    assert zipimport.zipimporter.invalidate_caches is spark_daemon._read_invalidating
    zipimport.zipimporter.invalidate_caches = spark_daemon.invalidate_caches
    yield spark_daemon
    zipimport.zipimporter.invalidate_caches = spark_daemon._read_invalidating


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(lazy_daemon, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lazyzip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("lazyzip_a", "lazyzip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    assert importlib.import_module("lazyzip_a").X == 1

    importlib.invalidate_caches()  # first call reads once and stamps
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0
    # the stock method re-reads on every call: this is what the wrapper saves
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lazy_daemon._read_invalidating)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 5
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lazy_daemon.invalidate_caches)
    reads.clear()

    _write_zip(archive, {"lazyzip_a": "X = 1\n", "lazyzip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("lazyzip_b").Y == 2


def test_workers_run_the_lazy_invalidation(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(8).repartition(4).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {"etlpy_spark.spark_daemon"}
