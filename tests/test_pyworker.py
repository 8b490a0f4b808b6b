"""Python-worker start-of-task cost: ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task.
Before CPython 3.13 each zipimporter then re-parses its archive (pyspark.zip,
the spark-core jar); ``sparkcrawl/__init__.py`` makes that re-read happen only
when the archive changed, and only inside a Spark task.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest
from pyspark.sql import functions as F

import sparkcrawl

pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="3.13's zipimporter re-reads lazily")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["pyworker_mod_a"])
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pyworker_mod_a", "pyworker_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pyworker_mod_a").NAME == "pyworker_mod_a"

    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: object()))
    sparkcrawl._lazy_zip_invalidation()
    sparkcrawl._lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is not stock
    assert zipimport.zipimporter.invalidate_caches.stock is stock  # wrapped once

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["pyworker_mod_a", "pyworker_mod_b"])
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("pyworker_mod_b").NAME == "pyworker_mod_b"


def test_worker_task_skips_rereads_driver_unpatched(spark):
    @F.pandas_udf("rereads long, zipimporters long")
    def probe(s: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        import sparkcrawl  # noqa: F401  (what every engine UDF imports)

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        return pd.DataFrame({"rereads": [len(reads)] * len(s),
                             "zipimporters": [n_zip] * len(s)})

    rows = (spark.range(4).repartition(4)
            .select(probe(F.col("id")).alias("p")).select("p.*").collect())
    if not any(r.zipimporters for r in rows):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [r.rereads for r in rows] == [0] * 4
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
