"""sparkcrawl — a PySpark-native web-crawl engine (frontier + fetch scheduler
+ HTML→text extraction) built from scratch per the behavioral spec in
BASELINE.json / SURVEY.md.

The reference snapshot (rebkwok/alcazar at /root/reference) was empty at
build time (SURVEY.md §0); all semantics here are frozen by this repo's own
spec + golden tests, designed so re-targeting to the reference's exact
husker/cleaner output is a localized change in ``extract.py``.

Pure PySpark: DataFrame API + vectorized pandas/Arrow UDFs only — no RDD
API surface, no per-row Python UDFs, ``spark-submit --py-files`` shippable.
"""

import os
import sys

__version__ = "0.1.0"


def _lazy_zip_invalidation() -> None:
    """In a PySpark worker, make ``zipimporter.invalidate_caches`` re-read
    an archive only when its ``(st_mtime_ns, st_size)`` changed since that
    importer last read it (or the stat fails).

    The worker calls ``importlib.invalidate_caches()`` before every task;
    before 3.13, each of its ~16 zipimporters (pyspark.zip, the spark-core
    jar, their package prefixes) then re-parses its archive's central
    directory: 0.14–0.44 s per task at local[4] on 4 cores, most of all
    Python-worker time in a crawl round.  3.13 made the method lazy.
    Any process that is not running a Spark task keeps stock behaviour."""
    pyspark = sys.modules.get("pyspark")
    if sys.version_info >= (3, 13) or pyspark is None or pyspark.TaskContext.get() is None:
        return
    import zipimport
    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "stock"):
        return

    def stamp(archive):
        try:
            st = os.stat(archive)
            return st.st_mtime_ns, st.st_size
        except OSError:
            return None

    def invalidate_caches(self):
        now = stamp(self.archive)
        if now is None or now != getattr(self, "_stamp", None):
            stock(self)
            self._stamp = now

    invalidate_caches.stock = stock
    # Importers built before this call read their archive at construction;
    # the current stat stands in for that read.
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._stamp = stamp(imp.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()
