"""Spark Python daemon that keeps Spark's archives off the worker import path.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the ``spark-core`` jar ahead of every other
``PYTHONPATH`` entry, and each task calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``). On Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's central
directory: the jar (~5.4k entries, ~37 ms) once, and ``pyspark.zip`` (~1.3k
entries, ~8 ms) once per package directory imported from it. That is
0.13-0.2 s of CPU before any user code runs in a task.

When ``pyspark`` and ``py4j`` also resolve from an installed package, this
module drops the archives from ``sys.path`` and ``sys.path_importer_cache``
and then runs the stock daemon, so workers import pyspark from the installed
package and ``invalidate_caches()`` costs well under a millisecond. When they
resolve only from the archives (a cluster that ships pyspark only inside
``SPARK_HOME``), the path is left alone.

Set as ``spark.python.daemon.module`` (``session._BASE_CONF``); Spark runs it
as ``python -m poc_parquet_publisher_spark.worker_daemon <worker module>``.
Nothing here may import pyspark before the path is fixed.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Sequence
from importlib.machinery import PathFinder

# Modules every worker imports; the archives go only if all resolve without.
REQUIRED = ("pyspark", "py4j")


def is_spark_archive(entry: str, spark_home: str | None) -> bool:
    """A jar anywhere, or a zip directly under ``$SPARK_HOME/python/lib``."""
    if entry.endswith(".jar"):
        return True
    if not (spark_home and entry.endswith(".zip")):
        return False
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
    return os.path.dirname(os.path.realpath(entry)) == lib


def worker_path(path: Sequence[str], spark_home: str | None) -> list[str]:
    """``path`` without Spark's archives, or unchanged when ``REQUIRED``
    modules would no longer resolve without them."""
    kept = [p for p in path if not is_spark_archive(p, spark_home)]
    if len(kept) == len(path) or any(
        PathFinder.find_spec(m, kept) is None for m in REQUIRED
    ):
        return list(path)
    return kept


def drop_spark_archives() -> None:
    """Apply ``worker_path`` to ``sys.path`` and forget every importer made
    for a dropped archive (runpy made some while locating this module)."""
    kept = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    dropped = [p for p in sys.path if p not in kept]
    if dropped:
        sys.path[:] = kept
        inside = tuple(p + os.sep for p in dropped)
        for key in list(sys.path_importer_cache):
            if key in dropped or key.startswith(inside):
                del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
