"""The zip-import invalidation shim (ddsketch_spark._worker).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task; the shim must make that skip an unchanged archive, still re-read a
changed one, stay out of the way on CPython 3.12+, and be in place in every
Python worker that ran a library UDF.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import ddsketch_spark  # noqa: F401  (installs the shim)
from ddsketch_spark import _worker
from ddsketch_spark.config import DDSketchConfig
from ddsketch_spark.operators import sketch_agg as udaf

SHIMMED = sys.version_info < (3, 12)
needs_shim = pytest.mark.skipif(not SHIMMED, reason="CPython 3.12+ invalidates zip caches lazily")


def _write_zip(path: str, modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zshim_m1``, on ``sys.path`` and imported from."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["zshim_m1"])
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zshim_m1")
    yield path
    for name in ("zshim_m1", "zshim_m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` parses from here on."""
    seen = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: seen.append(a) or read(a))
    return seen


@needs_shim
def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert importlib.import_module("zshim_m1").NAME == "zshim_m1"


@needs_shim
def test_changed_archive_is_reread(archive, reads):
    _write_zip(archive, ["zshim_m1", "zshim_m2"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zshim_m2").NAME == "zshim_m2"
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_installed_only_below_312(monkeypatch):
    assert (zipimport.zipimporter.invalidate_caches.__module__ == _worker.__name__) == SHIMMED

    def eager(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", eager)
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is eager
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    _worker.install()
    shim = zipimport.zipimporter.invalidate_caches
    assert shim.__module__ == _worker.__name__
    _worker.install()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is shim


@needs_shim
def test_library_workers_run_the_shim(spark):
    # more tasks than idle workers, so every pooled worker runs a library task
    df = spark.range(0, 256, numPartitions=32)
    vals = df.select(F.col("id").cast("double").alias("v"))
    assert udaf.sketch_udaf(vals, "v", DDSketchConfig()).collect()[0]["n"] == 256

    def shim_flags(batches):  # a closure: pickled by value, imports no library module
        flag = zipimport.zipimporter.invalidate_caches.__module__ == "ddsketch_spark._worker"
        for b in batches:
            yield pa.RecordBatch.from_pydict({"shim": [flag] * b.num_rows})

    flags = [r["shim"] for r in df.mapInArrow(shim_flags, "shim boolean").collect()]
    assert len(flags) == 256 and all(flags)
