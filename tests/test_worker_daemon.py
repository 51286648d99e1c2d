"""The worker daemon's zip-import shim: ``invalidate_caches`` re-reads an
archive's directory only after the archive changed, and Spark's Python
workers run it."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from puffbird_spark import _worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; the shim is off")


def test_zip_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pbs_shim_a.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pbs_shim_a", "pbs_shim_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    _worker_daemon.install()
    assert importlib.import_module("pbs_shim_a").X == 1

    real = zipimport._read_directory
    reads = []

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()      # first call stamps every importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pbs_shim_a.py", "X = 1\n")
        z.writestr("pbs_shim_b.py", "Y = 2\n")
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("pbs_shim_b").Y == 2


def test_python_workers_run_the_shim(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"shim": [getattr(
            zipimport.zipimporter.invalidate_caches, "skips_unchanged",
            False)]})

    got = spark.range(4, numPartitions=2).mapInPandas(
        probe, "shim boolean").collect()
    assert [r.shim for r in got] == [True, True]
