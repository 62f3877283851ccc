"""Spark Python daemon that imports pyspark from its installed directory.

Spark starts each Python worker with ``pyspark.zip``, the py4j source zip
and the spark-core jar on ``sys.path``. Every task ends in pyspark's
``setup_spark_files`` with ``importlib.invalidate_caches()``, and on
Python 3.11 that makes each cached ``zipimporter`` re-read its whole
archive directory: ~0.27 s per task with the 17 importers a worker
holds. When the pyspark installed on the rest of the path is the same
version as the zip, this module drops those archives from ``sys.path``
and their importers from ``sys.path_importer_cache``, then runs
``pyspark.daemon``. ``engine.get_spark`` selects it through
``spark.python.daemon.module`` only when it starts a local context
whose workers have this package on their path.
"""

import importlib.machinery
import os
import runpy
import sys
import zipfile


def strip_spark_archives(path: list[str], cache: dict) -> list[str]:
    """Remove Spark's archives from ``path`` and ``cache`` in place and
    return them: ``pyspark.zip``, the other zips beside it (py4j) and
    every jar. Nothing changes unless the rest of ``path`` holds a
    pyspark whose ``version.py`` equals the zip's, and a py4j."""
    pyspark_zip = next(
        (p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    if pyspark_zip is None:
        return []
    lib = os.path.dirname(pyspark_zip)
    archives = [p for p in path if p.endswith(".jar") or (
        p.endswith(".zip") and os.path.dirname(p) == lib)]
    rest = [p for p in path if p not in archives]
    find = importlib.machinery.PathFinder.find_spec
    installed = find("pyspark", rest)
    if (installed is None or not installed.submodule_search_locations
            or find("py4j", rest) is None):
        return []
    version_py = os.path.join(
        installed.submodule_search_locations[0], "version.py")
    try:
        with zipfile.ZipFile(pyspark_zip) as zf:
            zipped = zf.read("pyspark/version.py")
        with open(version_py, "rb") as f:
            if f.read() != zipped:
                return []
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    path[:] = rest
    inside = tuple(a + os.sep for a in archives)
    for key in [k for k in cache if k in archives or k.startswith(inside)]:
        del cache[key]
    return archives


if __name__ == "__main__":
    strip_spark_archives(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
