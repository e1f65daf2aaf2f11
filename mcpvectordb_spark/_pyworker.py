"""Python worker daemon for sessions built by ``session.get_spark``.

Spark starts its Python workers with ``pyspark.zip``, the py4j source zip
and the spark-core jar on ``sys.path``.  At the start of every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and every ``zipimporter`` cached for those
archives (one per imported pyspark subpackage, about 25) then re-reads its
archive's whole directory: about 0.25 s per task on a 4-core host, reused
workers or not.

When ``pyspark`` and ``py4j`` also resolve from a plain directory (the pip
install the driver imports), this module drops Spark's archives from
``sys.path`` and their importers from ``sys.path_importer_cache`` before it
starts ``pyspark.daemon``, so the per-task invalidation touches only
directory finders.  Otherwise the path stays as Spark built it.  Other
archives stay: the stdlib's ``python3X.zip``, and ``--py-files`` zips whose
modules live nowhere else.

Spark runs it as ``python -m mcpvectordb_spark._pyworker`` (the session sets
``spark.python.daemon.module``), so it must not import pyspark at module
level.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder

# pyspark.zip, py4j-<version>-src.zip, spark-core_<scala>-<version>.jar
_SPARK_ARCHIVE = re.compile(r"^(pyspark\.zip|py4j-.*\.zip|spark-core_.*\.jar)$")


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's own archives, or ``path`` unchanged when
    ``pyspark`` or ``py4j`` would not resolve from a directory without
    them."""
    kept = [p for p in path if not _SPARK_ARCHIVE.match(os.path.basename(p))]
    if len(kept) == len(path):
        return path
    for name in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(name, kept)
        if spec is None or not spec.submodule_search_locations:
            return path
        if not all(os.path.isdir(d) for d in spec.submodule_search_locations):
            return path
    return kept


def drop_spark_archives() -> None:
    """Apply :func:`without_spark_archives` to this interpreter.  Also
    evicts the cached importers of dropped entries and their sub-paths
    (``…/pyspark.zip/pyspark/sql`` and the like), and namespace packages
    found only inside them: stdlib ``copy`` and ``pickle`` probe
    ``org.python.core``, which leaves an ``org`` namespace rooted in the
    spark-core jar whose path a failed re-lookup never clears."""
    kept = without_spark_archives(sys.path)
    if kept is sys.path:
        return
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept

    def inside(entry: str) -> bool:
        return any(entry == d or entry.startswith(d + os.sep) for d in dropped)

    for key in list(sys.path_importer_cache):
        if inside(key):
            del sys.path_importer_cache[key]
    for name, module in list(sys.modules.items()):
        if getattr(module, "__file__", None) is None and hasattr(module, "__path__"):
            locations = list(module.__path__)
            if locations and all(map(inside, locations)):
                del sys.modules[name]


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
