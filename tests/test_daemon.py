"""Pins the worker daemon's zip-directory patch and its gc freeze
(dint_spark/daemon.py).

importlib.invalidate_caches() must not re-read an unchanged zip archive,
yet must still pick up a rewritten one. On Python >= 3.13 the stdlib
already behaves this way and the daemon leaves zipimport alone. Workers
fork from a daemon that froze its imports out of the cyclic GC.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import dint_spark.daemon  # noqa: F401  (installs the patch on Python < 3.13)


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module `a`, first on sys.path and already imported."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    monkeypatch.syspath_prepend(path)
    try:
        import a
        assert a.NAME == "a"
        yield path
    finally:
        for name in ("a", "b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)


def _count_reads(monkeypatch, path):
    reads = []
    stock = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    # the first invalidate after an importer's creation may read it once
    # (the daemon does that before forking); later ones must not
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive):
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()  # stamped: only the rewrite can re-read
    _write_zip(archive, ["a", "b"])
    importlib.invalidate_caches()
    import b
    assert b.NAME == "b"
    assert sys.path_importer_cache[archive] is importer
    assert b.__spec__.loader is importer


def test_workers_do_not_reread_spark_archives(spark):
    """Every task runs importlib.invalidate_caches() in a get_spark worker;
    on the worker's real sys.path (pyspark.zip, the spark-core jar) it must
    read no zip directory."""

    # defined here so the task pickles it by value, not by module
    def reads_during_invalidate(_):
        import pandas as pd

        zips = [imp.archive for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)]
        reads = []
        stock = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        yield pd.DataFrame({"reads": [len(reads)],
                            "zips": ["|".join(sorted(set(zips)))]})

    for _ in range(2):
        row = (spark.range(0, 1, 1, 1)
               .mapInPandas(reads_during_invalidate, "reads long, zips string")
               .toPandas().iloc[0])
        zips = row["zips"].split("|")
        assert any(z.endswith("pyspark.zip") for z in zips), zips
        assert any(os.path.basename(z).startswith("spark-core")
                   for z in zips), zips
        assert row["reads"] == 0


def test_workers_start_frozen(spark):
    """The daemon freezes its imports (gc.freeze) before manager() forks
    any worker, so a worker's per-task gc.collect() never walks them.
    Run as the daemon runs, with manager() stubbed out, it reports a
    freeze count that covers the imported numpy; and a get_spark worker
    reports a frozen generation too."""
    stub = ("import gc, runpy, pyspark.daemon\n"
            "def manager():\n"
            "    import numpy\n"
            "    ids = {id(o) for o in gc.get_objects()}\n"
            "    print(gc.get_freeze_count(), id(numpy.__dict__) in ids)\n"
            "pyspark.daemon.manager = manager\n"
            "runpy.run_module('dint_spark.daemon', run_name='__main__')\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", stub], cwd=root, check=True,
                         capture_output=True, text=True).stdout.split()
    assert int(out[0]) > 10_000 and out[1] == "False", out

    def freeze_count(_):
        import gc

        import pandas as pd

        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    row = (spark.range(0, 1, 1, 1).mapInPandas(freeze_count, "frozen long")
           .toPandas().iloc[0])
    assert row["frozen"] > 0
