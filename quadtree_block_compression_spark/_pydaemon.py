"""Python worker daemon: ``pyspark.daemon`` with Spark's own archives off the
path and the worker's heavy modules preloaded into a frozen heap.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task, and
on Python 3.11 that re-reads the central directory of every cached zip
importer: with pyspark imported from ``pyspark.zip`` and the spark-core jar on
the path, about 215 ms of CPU per task (Python 3.11.7, Spark 4.1.2, 4-core
x86 host). When the same pyspark and a py4j are
installed in a directory on the path, this drops Spark's archives so workers
import from there (directory finders invalidate almost for free).

A reused worker also runs a full ``gc.collect()`` after every task, which
walks every object the Arrow UDFs imported (~73k from pyarrow, pandas and
numpy: a median of 26 ms, p90 47 ms, over 48 tasks on the same host). This
imports those modules once, before the daemon forks any worker, and moves
them to the permanent generation with ``gc.freeze()``: forked workers
inherit them ready and never walk them (0.03 ms). Then it runs
``pyspark.daemon``. Registered by ``session.build_session`` as
``spark.python.daemon.module``.
"""

import gc
import importlib
import os
import re
import runpy
import sys
from importlib.machinery import PathFinder

_SPARK_ARCHIVE = re.compile(r"(pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar)$")
_VERSION = re.compile(rb"""__version__[^=]*=\s*['"]([^'"]+)""")


def _pyspark_version(entries: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", entries)
    if spec is None or not spec.origin:
        return None
    try:
        m = _VERSION.search(spec.loader.get_data(
            os.path.join(os.path.dirname(spec.origin), "version.py")))
    except OSError:
        return None
    return m and m.group(1)


def strip_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's own archives when its directory entries hold
    py4j and the same pyspark version as Spark's ``pyspark.zip``; otherwise
    ``path`` itself, unchanged."""
    archives = [p for p in path if _SPARK_ARCHIVE.match(os.path.basename(p))]
    dirs = [p for p in path if os.path.isdir(p)]
    version = _pyspark_version(dirs)
    if (version is None or PathFinder.find_spec("py4j", dirs) is None
            or version != _pyspark_version([p for p in archives if p.endswith("pyspark.zip")])):
        return path
    return [p for p in path if p not in archives]


if __name__ == "__main__":
    kept = strip_spark_archives(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    # invalidate_caches walks the importer cache, not sys.path
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    # preload-then-freeze before fork (the CPython gc docs' pattern)
    for module in ("pyspark.worker", "pyspark.sql.pandas.serializers",
                   "pyarrow", "pandas", "numpy"):
        importlib.import_module(module)
    gc.freeze()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
