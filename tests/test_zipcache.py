"""The zip-archive guard installed on `import fuzi_spark` (_zipcache.py):
`importlib.invalidate_caches()` re-reads a zip on the path only when the
archive changed, in the driver and inside a reused PySpark worker."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import fuzi_spark  # noqa: F401  (installs the guard)


@pytest.fixture
def zip_reads(monkeypatch):
    """Archive paths passed to `zipimport._read_directory`, in call order."""
    reads = []
    real = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_zip_is_read_once(tmp_path, monkeypatch, zip_reads):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_first.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipcache_first").X == 1
        importlib.invalidate_caches()
        first = zip_reads.count(archive)
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == first  # the second call reads nothing

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zipcache_second.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert zip_reads.count(archive) == first + 1
        assert importlib.import_module("zipcache_second").Y == 2
    finally:
        for name in ("zipcache_first", "zipcache_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    importlib.reload(fuzi_spark._zipcache).install()
    fuzi_spark._zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("fuzi-zipcache-tests")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_reused_worker_rereads_no_zip(spark):
    def zip_rereads(batches):  # local: workers cannot import this module
        """One row: this worker's pid and the zip directories that one
        `importlib.invalidate_caches()` re-reads in it."""
        import os

        import fuzi_spark  # noqa: F401  (what every fuzi_spark function imports)

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [len(reads)]})

    df = spark.range(1).coalesce(1).mapInPandas(zip_rereads, "pid long, reads long")
    seen = set()
    # idle workers are handed out in turn, so a pid repeats once every
    # worker of the pool has run one of these jobs
    for _ in range(32):
        (row,) = df.collect()
        if row.pid in seen:
            assert row.reads == 0
            return
        seen.add(row.pid)
    pytest.fail(f"no Python worker was reused across 32 jobs ({len(seen)} pids)")
