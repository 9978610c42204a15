"""warcbase_spark — a from-scratch PySpark-native crawl/frontier analytics engine.

Re-expresses the query and data-processing capabilities of lintool/warcbase
(reference at /root/reference, semantics only — no code is ported) as
idiomatic PySpark: DataFrame/SQL plans optimized by Catalyst, Arrow-vectorized
pandas UDFs for the few operations built-ins cannot express, and an explicit
partitioning/skew strategy designed for a 1000-executor, 100 TB deployment.

Layout:
- ``session``    — tuned SparkSession factory
- ``fixtures``   — deterministic synthetic web corpus generators (seed=42)
- ``functions``  — scalar surface: URL canonicalization (urlToKey), matchbox
                   re-implementations, text analysis, hashing
- ``operators``  — relational/graph/dedup/similarity operators
- ``frontier``   — the URL-frontier + fetch scheduler (Bloom URL-seen,
                   per-host politeness queue, checkpointed round loop)

Imported inside a PySpark worker (any worker that unpickles an engine UDF
imports this package), it installs ``_cache_zip_directories``: PySpark's
``setup_spark_files`` calls ``importlib.invalidate_caches()`` before every
task, and on CPython 3.11 each zipimporter then re-reads its archive's
directory (12 of a worker's 16 point into Spark's ``pyspark.zip``, 1,328
entries): 0.12 CPU-s of every canonicalizer task on a 4-core VM (BENCH.md
"Fixed round costs").
"""

import os
import sys

__version__ = "0.1.0"


def _cache_zip_directories() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an
    archive's directory only when the archive's ``(st_mtime_ns, st_size)``
    differs from that importer's last read; a failing ``stat`` re-reads as
    before. A rewritten archive is still re-read, so its new modules import.

    Idempotent, and a no-op on a CPython whose zipimporter already defers
    the re-read (it has ``_get_files``). Every importer that exists now is
    stamped as read: inside a worker this runs while a task unpickles its
    UDF, after that task's ``invalidate_caches`` has re-read them all."""
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches

    def stamp(archive: str) -> tuple[int, int]:
        st = os.stat(archive)
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self) -> None:
        try:
            key = stamp(self.archive)
        except OSError:
            self.__dict__.pop("_dir_stamp", None)
            reread(self)
            return
        # stamped before the read: a rewrite during it re-reads next time
        if self.__dict__.get("_dir_stamp") != key:
            reread(self)
            self._dir_stamp = key

    invalidate_caches.reread = reread
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            try:
                finder._dir_stamp = stamp(finder.archive)
            except OSError:
                pass
    cls.invalidate_caches = invalidate_caches


if "pyspark.worker" in sys.modules:
    _cache_zip_directories()
