"""Start-up hygiene for the Spark Python workers that run the package.

Importing the package installs :class:`ZipCacheTrim` at the front of
``sys.meta_path`` (see the package ``__init__``), so it is in place in
every worker process that has unpickled one of the package's functions.
Kept import-light (standard library only).
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_importers() -> None:
    """Delete every ``zipimporter`` entry from ``sys.path_importer_cache``.

    Dropping an entry is safe: the path hooks rebuild it on the next import
    that needs it, from zipimport's own directory cache.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


class ZipCacheTrim:
    """A ``sys.meta_path`` finder that finds nothing and, when
    ``importlib.invalidate_caches()`` runs, drops the ``zipimporter``
    entries before ``PathFinder`` gets to them.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``pyspark/worker_util.py`` ``setup_spark_files``).  On
    CPython 3.10-3.12 that makes each cached ``zipimporter`` re-read its
    whole archive directory in pure Python (``zipimport.py``
    ``invalidate_caches``): about 10 ms per ``pyspark.zip/pyspark/<pkg>``
    entry and about 50 ms per spark-core jar entry (5 359 members), which
    added up to 0.18-0.31 s per task on a reused worker, before the first
    batch reached the kernel (CPython 3.11, Spark 4.1, 4-CPU VM).
    ``importlib.invalidate_caches()`` calls the ``sys.meta_path`` finders
    in order, so a finder ahead of ``PathFinder`` trims the cache at the
    moment it matters, including the entries the previous task's lazy
    imports re-created.  CPython 3.13's zipimporter only drops its cache
    entry there, so the trim saves little on 3.13.
    """

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches() -> None:
        drop_zip_importers()


def install_zip_cache_trim() -> None:
    """Put :class:`ZipCacheTrim` first on ``sys.meta_path`` (once)."""
    if not any(f is ZipCacheTrim for f in sys.meta_path):
        sys.meta_path.insert(0, ZipCacheTrim)
