"""The Python worker daemon of this engine's sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts ``python -m honors_p1_mapreduce_spark.pydaemon`` where it would
start ``pyspark.daemon``. The module prepares the daemon process once,
before the daemon forks a worker per task, then runs pyspark's own daemon
loop unchanged:

1. Spark puts ``pyspark.zip``, the py4j source zip and its ``spark-core``
   jar at the head of every worker's ``PYTHONPATH``. On CPython 3.11
   ``importlib.invalidate_caches()``, which pyspark's worker calls at the
   start of every task (``worker_util.setup_spark_files``), re-reads the
   central directory of every cached ``zipimporter`` (gh-103200; lazy
   only from 3.12), and a worker caches 16 of them: ~150 ms of CPU a
   task. When the pyspark installed outside the zip is the same release
   (identical ``version.py``), the archives leave ``sys.path`` and their
   importers leave ``sys.path_importer_cache``, so pyspark and py4j
   import from the installed packages instead.
2. pandas, pyarrow and ``pyspark.worker`` are imported here, so every
   forked worker inherits them, and ``gc.freeze()`` moves the daemon's
   objects to the permanent generation: the ``gc.collect()`` the daemon
   runs after every task no longer walks ~70k pandas/pyarrow objects,
   and their pages stay shared with the daemon.

If either step raises, the interpreter's path, importer cache and
pyspark modules are put back and the stock daemon runs as it would have.
Nothing here writes to stdout, which carries the daemon's port to the JVM.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import traceback
import zipfile
from fnmatch import fnmatch
from importlib.machinery import PathFinder
from pathlib import Path

# what a worker imports for a pandas UDF task, imported once in the daemon
PRELOAD = ("pandas", "pyarrow", "pyspark.worker")

# the archives Spark puts on a worker's PYTHONPATH (PythonUtils.sparkPythonPath)
_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch(name, pat) for pat in _SPARK_ARCHIVES) and os.path.isfile(entry)


def spark_archives(path: list[str]) -> list[str]:
    """The Spark archives on ``path`` that installed packages can replace.

    Empty unless ``path`` holds a ``pyspark.zip`` and the remaining
    entries provide py4j and a pyspark whose ``version.py`` is identical
    to the zip's.
    """
    archives = [p for p in path if _is_spark_archive(p)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return []
    rest = [p for p in path if p not in archives]
    installed = PathFinder.find_spec("pyspark", rest)
    if installed is None or installed.origin is None or PathFinder.find_spec("py4j", rest) is None:
        return []
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            zipped = zf.read("pyspark/version.py")
        same = Path(installed.origin).with_name("version.py").read_bytes() == zipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    return archives if same else []


def drop_spark_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Remove ``spark_archives(path)`` from ``path`` in place, and every
    ``importer_cache`` entry for them or a directory inside them; return
    the removed entries."""
    archives = spark_archives(path)
    if archives:
        path[:] = [p for p in path if p not in archives]
        for key in list(importer_cache):
            if any(key == a or key.startswith(a + os.sep) for a in archives):
                del importer_cache[key]
    return archives


def prepare() -> bool:
    """Drop the archives, preload and freeze; on failure restore the
    state the stock daemon expects and return False."""
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    saved_modules = set(sys.modules)
    try:
        drop_spark_archives(sys.path, sys.path_importer_cache)
        for name in PRELOAD:
            importlib.import_module(name)
    except Exception:
        # stderr goes to the executor log; stdout is the JVM's channel
        traceback.print_exc(file=sys.stderr)
        print("pydaemon: falling back to the stock pyspark.daemon", file=sys.stderr)
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        # pure-Python packages re-import from the restored path; native
        # extensions (numpy, pyarrow) cannot be loaded twice, so they stay
        for name in set(sys.modules) - saved_modules:
            if name.split(".")[0] in ("pyspark", "py4j"):
                del sys.modules[name]
        return False
    gc.collect()
    gc.freeze()
    return True


if __name__ == "__main__":
    prepare()
    from pyspark import daemon

    daemon.manager()
