#!/usr/bin/env python
"""Measure the fixed cost of one Spark Python worker and planner call.

Starts a ``get_spark()`` session and prints, as seen from inside a
Python worker, how many ``zipimporter``s sit in
``sys.path_importer_cache``, what one ``importlib.invalidate_caches()``
costs there (pyspark's ``setup_spark_files`` makes that call on every
task), and where the worker imported pyspark from. Then it prints the
median wall time of a 1-task and a 4-task ``mapInArrow(...).collect()``.

The data-source planners (the processes that create a Python data
source, plan its read, and run and commit its write) are counted by a
``sitecustomize`` this script puts on the JVM's PYTHONPATH: it wraps
``main`` of every ``pyspark.sql.worker`` module and logs each call with
the process's zipimporter count and ``pyspark.__file__``.
Against a ``FakeRedisServer`` it prints those facts, the median of a
fresh ``format("redis_scan").load()``, and the median of a 300-row,
3-partition ``redis_kv`` write with the planner calls one write makes.

Last it measures the first Redis read of a fresh context: it stops the
SparkContext and ``getOrCreate``s it again on the same JVM (as a
benchmark set-up does) ``fresh`` times, and prints the median of each
context's first ``redis_scan(...).count()``, the Python processes that
read ran in, and whether its task worker imported pandas (the same hook
logs ``pyspark.worker``'s ``main``).

Usage: python scripts/worker_floor.py [reps [fresh]]
       (default 15 reps, 6 fresh contexts)
"""

from __future__ import annotations

import collections
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_redis_olap_scanner_spark.engine import get_spark  # noqa: E402
from duckdb_redis_olap_scanner_spark.testing import FakeRedisServer  # noqa: E402

PLANNER_LOG_SITE = '''
import importlib.machinery
import sys
import zipimport

LOG = {log!r}


class _LogMainCalls:
    def find_spec(self, name, path=None, target=None):
        if not (name == "pyspark.worker"
                or name.startswith("pyspark.sql.worker.")):
            return None
        spec = importlib.machinery.PathFinder.find_spec(name, path)
        if spec is None:
            return None
        run = spec.loader.exec_module

        def exec_module(module):
            run(module)
            main = module.main

            def logged(*args):
                # A reused worker enters main() as soon as its previous
                # call ends, so log each call when it returns.
                try:
                    return main(*args)
                finally:
                    import pyspark
                    zips = sum(isinstance(v, zipimport.zipimporter)
                               for v in sys.path_importer_cache.values())
                    with open(LOG, "a") as f:
                        f.write(f"{{name}}\\t{{zips}}\\t{{pyspark.__file__}}"
                                f"\\t{{'pandas' in sys.modules}}\\n")

            module.main = logged

        spec.loader.exec_module = exec_module
        return spec


sys.meta_path.insert(0, _LogMainCalls())
'''


def worker_facts(batches):
    import importlib
    import zipimport

    import pyarrow as pa
    import pyspark

    for _ in batches:
        pass
    zips = [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)]
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    cost = time.perf_counter() - t0
    hook = sys.modules.get("sitecustomize")
    yield pa.RecordBatch.from_pydict({
        "zipimporters": [len(zips)],
        "invalidate_s": [cost],
        "pyspark_file": [pyspark.__file__],
        "zip_paths": ["\n".join(sorted(zips))],
        "sitecustomize": [getattr(hook, "__file__", None)],
    })


def passthrough(batches):
    yield from batches


def median_s(fn, reps: int) -> float:
    fn()  # warm: first use starts the daemon
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def logged_calls(log: str) -> list[tuple[str, int, str, bool]]:
    """(module, zipimporters, pyspark file, pandas imported) per logged
    ``main`` call: ``worker`` for a task, else the planner's name."""
    with open(log) as f:
        rows = [line.rstrip("\n").split("\t") for line in f]
    return [(m.rsplit(".", 1)[-1], int(z), p, pd == "True")
            for m, z, p, pd in rows]


def planner_calls(log: str) -> list[tuple[str, int, str, bool]]:
    return [c for c in logged_calls(log) if c[0] != "worker"]


def report_workers(spark, reps: int) -> None:
    schema = ("zipimporters long, invalidate_s double, pyspark_file string,"
              " zip_paths string, sitecustomize string")
    row = spark.range(1, numPartitions=1).mapInArrow(
        worker_facts, schema).collect()[0]
    conf = spark.sparkContext.getConf()
    print(f"executorEnv_PYTHONPATH {conf.get('spark.executorEnv.PYTHONPATH', '')}")
    print(f"worker_sitecustomize   {row.sitecustomize}")
    print(f"worker_zipimporters    {row.zipimporters}")
    for p in row.zip_paths.splitlines():
        print(f"  {p}")
    print(f"worker_invalidate_s    {row.invalidate_s:.4f}")
    print(f"worker_pyspark         {row.pyspark_file}")
    for tasks in (1, 4):
        df = spark.range(8 * tasks, numPartitions=tasks).mapInArrow(
            passthrough, "id long")
        print(f"mapInArrow_{tasks}task_s    {median_s(df.collect, reps):.3f}"
              f"  (median of {reps})")


def report_planners(spark, reps: int, log: str) -> None:
    with FakeRedisServer() as srv:
        srv.seed_strings({f"k:{i:04d}": f"v:{i:04d}" for i in range(300)})
        host, port = srv.address.split(":")

        def load():
            return (spark.read.format("redis_scan").option("host", host)
                    .option("port", port).option("pattern", "k:*").load())

        rows = spark.range(300, numPartitions=3).selectExpr(
            "concat('w:', id) AS key", "cast(id AS string) AS value")
        rows.collect()

        def write():
            (rows.write.format("redis_kv").option("host", host)
             .option("port", port).mode("append").save())

        print(f"planner_load_s         {median_s(load, reps):.3f}"
              f"  (median of {reps})")
        print(f"planner_write_s        {median_s(write, reps):.3f}"
              f"  (median of {reps}, 300 rows, 3 partitions)")
        load().count()  # plans a read, for the census below
        before = len(planner_calls(log))
        write()
        time.sleep(1)  # the commit call logs just after it replies
        per_write = collections.Counter(
            m for m, _, _, _ in planner_calls(log)[before:])
    calls = planner_calls(log)
    print(f"planner_calls_per_write {sum(per_write.values())}  "
          + " ".join(f"{m}={n}" for m, n in sorted(per_write.items())))
    for module in sorted({m for m, _, _, _ in calls}):
        zips, pyspark_file, pandas = next(
            (z, p, pd) for m, z, p, pd in reversed(calls) if m == module)
        print(f"planner {module:26s} zipimporters {zips:2d}  "
              f"pandas {pandas!s:5s}  pyspark {pyspark_file}")


def report_fresh_reads(spark, fresh: int, log: str):
    """The first ``redis_scan(...).count()`` of ``fresh`` new contexts on
    this JVM; returns the last session."""
    from duckdb_redis_olap_scanner_spark.engine import Engine

    times = []
    with FakeRedisServer() as srv:
        srv.seed_strings({f"k:{i:04d}": f"v:{i:04d}" for i in range(300)})
        for _ in range(fresh):
            spark.stop()
            spark = get_spark(app_name="worker_floor")
            spark.sparkContext.setLogLevel("ERROR")
            eng = Engine(spark)
            eng.connect(srv.address)
            before = len(logged_calls(log))
            t0 = time.perf_counter()
            assert eng.redis_scan("k:*").count() == 300
            times.append(time.perf_counter() - t0)
            time.sleep(1)  # a worker logs just after it replies
            calls = logged_calls(log)[before:]
            procs = " ".join(m for m, _, _, _ in calls)
            pandas = [pd for m, _, _, pd in calls if m == "worker"]
            print(f"fresh_first_read_s     {times[-1]:.3f}  processes: {procs}"
                  f"  read_worker_pandas {pandas}")
    print(f"fresh_first_read_s     {statistics.median(times):.3f}"
          f"  (median of {fresh} fresh contexts)")
    return spark


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    fresh = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    with tempfile.TemporaryDirectory(prefix="worker_floor-") as site_dir:
        log = os.path.join(site_dir, "planner_calls")
        open(log, "w").close()
        with open(os.path.join(site_dir, "sitecustomize.py"), "w") as f:
            f.write(PLANNER_LOG_SITE.format(log=log))
        # The JVM that get_spark launches passes this on to every Python
        # process, after Spark's archives and the executorEnv entries.
        inherited = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = site_dir + (
            os.pathsep + inherited if inherited else "")
        spark = get_spark(app_name="worker_floor")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            report_workers(spark, reps)
            report_planners(spark, reps, log)
            spark = report_fresh_reads(spark, fresh, log)
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
