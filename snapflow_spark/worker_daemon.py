"""Python worker daemon that runs the installed pyspark, not Spark's zips.

Spark starts every Python worker daemon with ``$SPARK_HOME/python/lib/
pyspark.zip``, the py4j source zip and the spark-core jar at the head of
``sys.path``. Each task then runs ``worker_util.setup_spark_files``,
whose ``importlib.invalidate_caches()`` makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory
(pyspark.zip alone has 1,328 entries): ~0.2 CPU-s per task before any
work. ``session.build_session`` points ``spark.python.daemon.module``
here only when the installed pyspark is the version in Spark's zip, so
dropping Spark's entries changes which copy of the same code runs, not
the code.

Run as ``python -m snapflow_spark.worker_daemon``: the package
``__init__`` imports nothing, and this module imports only the standard
library before the filter, so no zip importer exists for pyspark yet.
Paths a task adds later (``addPyFile``, ``--py-files``) are untouched.
"""

from __future__ import annotations

import os
import re
import sys

#: Basenames of the entries ``PythonUtils.sparkPythonPath`` puts on a
#: worker's path.
_SPARK_ENTRY = re.compile(r"pyspark\.zip|py4j-[\w.]+-src\.zip|spark-core_[\w.]+-[\w.-]+\.jar")


def is_spark_entry(path: str) -> bool:
    return bool(_SPARK_ENTRY.fullmatch(os.path.basename(path)))


def drop_spark_entries(path: list[str], importer_cache: dict) -> None:
    """Remove Spark's entries from ``path`` and their importers (and the
    importers of any package inside them) from ``importer_cache``; keep
    both as they are when no pyspark is importable without them."""
    from importlib.machinery import PathFinder

    spark = [p for p in path if is_spark_entry(p)]
    kept = [p for p in path if p not in spark]
    if not spark or PathFinder.find_spec("pyspark", kept) is None:
        return
    path[:] = kept
    for key in list(importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in spark):
            del importer_cache[key]


if __name__ == "__main__":
    drop_spark_entries(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
