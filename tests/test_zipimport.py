"""The stat-guarded zipimporter.invalidate_caches (project_cascade_spark._zipimport):
an unchanged archive is never re-read, a changed or vanished one is handled
exactly as the stock method handles it, and every Spark worker that runs a
package UDF has the guard installed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from project_cascade_spark import _zipimport
from project_cascade_spark.config import perm_params

M1, M2 = "cascade_zipguard_m1", "cascade_zipguard_m2"


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = tmp_path / "mods.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{M1}.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in (M1, M2):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(archive, reads):
    assert importlib.import_module(M1).VALUE == 1
    # the first call per importer records its archive's stat with a real read
    importlib.invalidate_caches()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive, reads):
    assert importlib.import_module(M1).VALUE == 1
    importlib.invalidate_caches()
    reads.clear()
    with zipfile.ZipFile(archive, "w") as z:    # same inode, larger size
        z.writestr(f"{M1}.py", "VALUE = 1\n")
        z.writestr(f"{M2}.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module(M2).VALUE == 2


def test_vanished_archive_is_dropped_like_stock(archive):
    importlib.import_module(M1)
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[str(archive)]._files == {}
    assert str(archive) not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(M2)


def test_install_leaves_lazy_importers_alone():
    class LazyImporter:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    stock = LazyImporter.invalidate_caches
    _zipimport._install(LazyImporter)
    assert LazyImporter.invalidate_caches is stock
    installed = zipimport.zipimporter.invalidate_caches
    _zipimport._install(zipimport.zipimporter)      # idempotent
    assert zipimport.zipimporter.invalidate_caches is installed


def test_spark_workers_run_with_the_guard(spark):
    def report(batches):
        # perm_params pickles by reference: unpickling this function makes
        # the worker import project_cascade_spark, which installs the guard
        n_perm = len(perm_params(4, 1)[0])
        importlib.invalidate_caches()
        seen: list[str] = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: (seen.append(p), real(p))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zip_importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            yield pd.DataFrame({
                "pid": [os.getpid()],
                "guard": [zipimport.zipimporter.invalidate_caches.__module__],
                "zip_importers": [zip_importers],
                "rereads": [len(seen)],
                "n_perm": [n_perm],
            })

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(report, "pid long, guard string, zip_importers long, "
                             "rereads long, n_perm long")
        .collect()
    )
    assert len(rows) == 8
    assert {r["guard"] for r in rows} == {"project_cascade_spark._zipimport"}
    assert {r["n_perm"] for r in rows} == {4}
    # the workers import pyspark from pyspark.zip, and once an importer's
    # archive stat is recorded no task re-reads it
    assert min(r["zip_importers"] for r in rows) > 0
    assert {r["rereads"] for r in rows} == {0}
