"""The zip-directory guard installed by importing prclz_spark.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
the guard (``prclz_spark/zipcache.py``) makes that re-read a zip archive's
directory only when the archive changed. The first three tests need no Spark.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from prclz_spark import zipcache


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _zip_on_path(tmp_path, monkeypatch, members):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, members)
    monkeypatch.syspath_prepend(archive)
    return archive


def _count_reads(monkeypatch, archive):
    calls = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = _zip_on_path(tmp_path, monkeypatch, {"zc_alpha.py": "VALUE = 1\n"})
    monkeypatch.delitem(sys.modules, "zc_alpha", raising=False)
    import zc_alpha

    assert zc_alpha.VALUE == 1
    import prclz_spark  # noqa: F401  (installs the guard)

    importlib.invalidate_caches()  # first call after install stamps the archive
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    """New members become importable, also through the package's own importer
    (same archive, another prefix), which is the second to be invalidated."""
    members = {"zc_beta.py": "VALUE = 2\n", "zc_pkg/__init__.py": "", "zc_pkg/a.py": "VALUE = 'a'\n"}
    archive = _zip_on_path(tmp_path, monkeypatch, members)
    for name in ["zc_beta", "zc_gamma", "zc_pkg", "zc_pkg.a", "zc_pkg.b"]:
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zc_beta  # noqa: F401
    import zc_pkg.a  # noqa: F401
    import prclz_spark  # noqa: F401

    importlib.invalidate_caches()
    members.update({"zc_gamma.py": "VALUE = 3\n", "zc_pkg/b.py": "VALUE = 'b'\n"})
    _write_zip(archive, members)
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(calls) == 1  # one read serves both importers of the archive
    assert importlib.import_module("zc_gamma").VALUE == 3
    assert importlib.import_module("zc_pkg.b").VALUE == "b"


def test_reimport_does_not_wrap_twice(monkeypatch):
    import prclz_spark

    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded.stamp_guarded
    for name in [m for m in sys.modules if m == "prclz_spark" or m.startswith("prclz_spark.")]:
        monkeypatch.delitem(sys.modules, name)
    importlib.import_module("prclz_spark")
    importlib.reload(sys.modules["prclz_spark"])
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not getattr(guarded.__wrapped__, "stamp_guarded", False)


def test_guard_reaches_python_workers(spark):
    """Every Python worker that runs the UDF has the guard installed before
    the task's rows arrive, so each of its later tasks (workers are reused)
    skips the re-read. The pickled function references prclz_spark, as every
    engine UDF does, and unpickling it in the worker installs the guard."""

    def probe(batches):
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "stamp_guarded", False)
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "guarded": [guarded], "by": [zipcache.__name__]})

    rows = (
        spark.range(0, 160, numPartitions=16)
        .mapInPandas(probe, "pid long, guarded boolean, by string")
        .toPandas()
    )
    assert len(rows) == 16
    assert rows.guarded.all(), rows
