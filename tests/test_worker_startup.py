"""The package's pin of Spark's own archives (``_pin_spark_archives``).

PySpark's worker calls ``importlib.invalidate_caches()`` at every task
start; on CPython < 3.12 that re-reads each zip archive's directory. The
pin skips the re-read only for archives under ``$SPARK_HOME/python/lib/``
and ``$SPARK_HOME/jars/``: a zip shipped with ``addPyFile`` (on standalone
clusters it lives under ``$SPARK_HOME/work/``) must still be re-read.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

import matrixprofiler_spark

ORIGINAL = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                   zipimport.zipimporter.invalidate_caches)

needs_pin = pytest.mark.skipif(sys.version_info >= (3, 12),
                               reason="zip directories are read lazily on 3.12+")


@pytest.fixture
def unpinned(monkeypatch):
    """zipimporter as CPython ships it; the test's own pin is undone after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", ORIGINAL)
    return monkeypatch


def _write_zip(archive: Path, *modules: str) -> None:
    archive.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(archive, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def _rewrite_is_seen(monkeypatch, archive: Path) -> bool:
    """Import a module from ``archive``, rewrite the archive with a second
    module, invalidate the import caches, and say whether the second
    module imports."""
    first, second = (f"startup_{uuid.uuid4().hex}" for _ in range(2))
    _write_zip(archive, first)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(first).NAME == first
        _write_zip(archive, first, second)
        importlib.invalidate_caches()
        try:
            return importlib.import_module(second).NAME == second
        except ModuleNotFoundError:
            return False
    finally:
        for m in (first, second):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(str(archive), None)


@needs_pin
def test_shipped_zip_under_spark_home_is_still_reread(unpinned, tmp_path):
    unpinned.setenv("SPARK_HOME", str(tmp_path))
    matrixprofiler_spark._pin_spark_archives()
    assert zipimport.zipimporter.invalidate_caches is not ORIGINAL
    archive = tmp_path / "work" / "app-0001" / "0" / "deps.zip"
    assert _rewrite_is_seen(unpinned, archive)


@needs_pin
@pytest.mark.parametrize("subdir", ["python/lib", "jars"])
def test_spark_archive_is_not_reread(unpinned, tmp_path, subdir):
    unpinned.setenv("SPARK_HOME", str(tmp_path))
    matrixprofiler_spark._pin_spark_archives()
    assert not _rewrite_is_seen(unpinned, tmp_path / subdir / "spark.zip")


@needs_pin
def test_spark_home_is_matched_by_realpath(unpinned, tmp_path):
    (tmp_path / "dist").mkdir()
    (tmp_path / "home").symlink_to(tmp_path / "dist")
    unpinned.setenv("SPARK_HOME", str(tmp_path / "home"))
    matrixprofiler_spark._pin_spark_archives()
    assert not _rewrite_is_seen(unpinned, tmp_path / "dist" / "jars" / "core.jar")


@pytest.mark.parametrize("case", ["python3.12", "no SPARK_HOME"])
def test_nothing_installed(unpinned, tmp_path, case):
    if case == "python3.12":
        unpinned.setenv("SPARK_HOME", str(tmp_path))
        unpinned.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    else:
        unpinned.delenv("SPARK_HOME", raising=False)
    matrixprofiler_spark._pin_spark_archives()
    assert zipimport.zipimporter.invalidate_caches is ORIGINAL
    assert _rewrite_is_seen(unpinned, tmp_path / "python" / "lib" / "spark.zip")


@needs_pin
def test_reimport_does_not_wrap_twice(unpinned, tmp_path):
    unpinned.setenv("SPARK_HOME", str(tmp_path))
    matrixprofiler_spark._pin_spark_archives()
    pin = zipimport.zipimporter.invalidate_caches
    importlib.reload(matrixprofiler_spark)
    matrixprofiler_spark._pin_spark_archives()
    assert zipimport.zipimporter.invalidate_caches is pin
    assert pin.__wrapped__ is ORIGINAL


@needs_pin
@pytest.mark.skipif(not os.environ.get("SPARK_HOME"), reason="no SPARK_HOME")
def test_engine_worker_is_pinned(spark):
    def probe(batches):
        import statistics
        import time

        import pandas as pd

        import matrixprofiler_spark  # noqa: F401  (as every engine UDF's unpickle does)

        for _ in batches:
            pass
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            times.append(time.perf_counter() - t0)
        pinned = zipimport.zipimporter.invalidate_caches.__module__ == "matrixprofiler_spark"
        yield pd.DataFrame({"pinned": [pinned], "s": [statistics.median(times)]})

    row = spark.range(0, 1, 1, 1).mapInPandas(probe, "pinned boolean, s double").collect()[0]
    assert row.pinned
    assert row.s < 0.01
