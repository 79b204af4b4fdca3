"""ZipCacheTrim: the package's ``sys.meta_path`` hook that drops
zipimport's path-importer cache entries whenever
``importlib.invalidate_caches()`` runs, in-process and inside a Spark
Python worker."""

import importlib
import importlib.machinery
import sys
import zipfile
import zipimport

import jochre3_ocr_spark
from jochre3_ocr_spark.worker import ZipCacheTrim, drop_zip_importers


def _zip_importers() -> int:
    return sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )


def _zip_on_path(tmp_path) -> str:
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zjw_first.py", "VALUE = 1\n")
        z.writestr("zjw_second.py", "VALUE = 2\n")
    sys.path.insert(0, archive)
    return archive


def _unload(archive) -> None:
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    sys.modules.pop("zjw_first", None)
    sys.modules.pop("zjw_second", None)


def test_drop_zip_importers_keeps_the_zip_importable(tmp_path):
    archive = _zip_on_path(tmp_path)
    try:
        import zjw_first

        assert zjw_first.VALUE == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        drop_zip_importers()
        assert _zip_importers() == 0
        import zjw_second

        assert zjw_second.VALUE == 2
    finally:
        _unload(archive)


def test_package_import_installs_the_trim_ahead_of_path_finder(tmp_path):
    """Importing the package is enough: ``invalidate_caches()`` then
    reaches the trim before ``PathFinder`` re-reads any zip archive."""
    assert jochre3_ocr_spark.__version__
    meta = list(sys.meta_path)
    assert meta.count(ZipCacheTrim) == 1
    assert meta.index(ZipCacheTrim) < meta.index(importlib.machinery.PathFinder)
    archive = _zip_on_path(tmp_path)
    try:
        import zjw_first

        assert zjw_first.VALUE == 1
        assert _zip_importers() > 0
        importlib.invalidate_caches()
        assert _zip_importers() == 0
        import zjw_second

        assert zjw_second.VALUE == 2
    finally:
        _unload(archive)


#: pyspark modules a mapInPandas worker does not import by itself
_UNIMPORTED_CANDIDATES = (
    "pyspark.sql.avro.functions",
    "pyspark.sql.protobuf.functions",
    "pyspark.resource.profile",
    "pyspark.ml.param",
)


def test_worker_invalidate_caches_is_cheap_after_the_trim(spark):
    """In a worker that imported the package, ``importlib.invalidate_caches()``
    (what pyspark calls at the start of every task) leaves no zipimporter
    to re-read and takes far less than the 0.18-0.31 s it costs without
    the trim, and a pyspark submodule not yet imported there (from
    ``pyspark.zip`` when Spark's python lib is on the worker path) still
    imports. The time bound is loose because the machine may be shared."""

    def probe(batches):
        import importlib
        import time

        import pandas as pd

        import jochre3_ocr_spark  # noqa: F401 — installs the trim

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t0
        left = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        name = next(m for m in _UNIMPORTED_CANDIDATES if m not in sys.modules)
        importlib.import_module(name)
        for batch in batches:
            yield pd.DataFrame(
                {
                    "dt": [dt] * len(batch),
                    "left": [left] * len(batch),
                    "name": [name] * len(batch),
                    "imported": [name in sys.modules] * len(batch),
                }
            )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "dt double, left int, name string, imported boolean")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.left == 0, r
        assert r.dt < 0.05, r
        assert r.imported, r
