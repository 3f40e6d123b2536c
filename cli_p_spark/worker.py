"""Per-task setup of the Python workers that run engine UDFs.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task.  On CPython <= 3.12 that makes each ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory
eagerly; a reused worker holds ~17 of them (the spark-core jar and
``pyspark.zip``, each once per imported subpackage, py4j, a shipped
``cli_p_spark.zip``), ~27k entries, which costs 0.13-0.27 s per task on
a 4-core host (CPython 3.11).  CPython 3.13 invalidates lazily.

Every engine UDF body calls ``drop_zip_finders()`` first, so the next
task on the same worker finds no zip finder to re-read.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    The dict is a cache: an import that later misses recreates the
    finder for its path entry, and modules already loaded keep their
    loaders.  Directory finders are left alone."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
