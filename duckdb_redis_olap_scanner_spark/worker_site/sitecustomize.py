"""Startup hook for the Python processes of a ``get_spark()`` local context.

Spark starts each Python process (UDF and ``mapInArrow`` workers, and the
data-source planners that create, read-plan, write and commit) with
``pyspark.zip``, the py4j source zip and the spark-core jar on
``sys.path``. pyspark then compiles from the zip's ``.py`` files, and
every ``importlib.invalidate_caches()`` (one per task and per planner
call) makes each cached ``zipimporter`` re-read its archive directory.
``engine.get_spark`` puts this directory on the processes' path through
``spark.executorEnv.PYTHONPATH``, which Spark merges after its archives,
so ``site`` imports this module before anything imports pyspark. When
the pyspark installed on the rest of the path is the same version as the
zip, it drops those archives from ``sys.path`` and their importers from
``sys.path_importer_cache``. Then it runs the ``sitecustomize`` it
shadows, if one sits later on the path. Stdlib only: nothing is
importable from Spark's archives yet.
"""

import importlib.machinery
import importlib.util
import os
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


def run_shadowed(path: list[str]) -> None:
    """Execute the ``sitecustomize`` found on ``path`` after this
    module's directory, as ``site`` would have without this one."""
    here = os.path.dirname(os.path.abspath(__file__))
    dirs = [os.path.abspath(p) for p in path]
    later = path[len(dirs) - dirs[::-1].index(here):]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", later)
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


if __name__ == "sitecustomize":
    strip_spark_archives(sys.path, sys.path_importer_cache)
    run_shadowed(sys.path)
