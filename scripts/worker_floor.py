#!/usr/bin/env python
"""Measure the fixed cost of one Spark Python worker call.

Starts a ``get_spark()`` session and prints, as seen from inside a
Python worker, how many ``zipimporter``s sit in
``sys.path_importer_cache``, what one ``importlib.invalidate_caches()``
costs there (pyspark's ``setup_spark_files`` makes that call on every
task), and where the worker imported pyspark from. Then it prints the
median wall time of a 1-task and a 4-task ``mapInArrow(...).collect()``.

Usage: python scripts/worker_floor.py [reps]   (default 15 reps)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_redis_olap_scanner_spark.engine import get_spark  # noqa: E402


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
    yield pa.RecordBatch.from_pydict({
        "zipimporters": [len(zips)],
        "invalidate_s": [cost],
        "pyspark_file": [pyspark.__file__],
        "zip_paths": ["\n".join(sorted(zips))],
    })


def passthrough(batches):
    yield from batches


def median_collect(spark, tasks: int, reps: int) -> float:
    df = spark.range(8 * tasks, numPartitions=tasks).mapInArrow(
        passthrough, "id long")
    df.collect()  # warm: first use starts the daemon
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    spark = get_spark(app_name="worker_floor")
    spark.sparkContext.setLogLevel("ERROR")
    schema = ("zipimporters long, invalidate_s double, pyspark_file string,"
              " zip_paths string")
    row = spark.range(1, numPartitions=1).mapInArrow(
        worker_facts, schema).collect()[0]
    daemon = spark.sparkContext.getConf().get(
        "spark.python.daemon.module", "pyspark.daemon")
    print(f"daemon_module        {daemon}")
    print(f"worker_zipimporters  {row.zipimporters}")
    for p in row.zip_paths.splitlines():
        print(f"  {p}")
    print(f"worker_invalidate_s  {row.invalidate_s:.4f}")
    print(f"worker_pyspark       {row.pyspark_file}")
    for tasks in (1, 4):
        print(f"mapInArrow_{tasks}task_s  {median_collect(spark, tasks, reps):.3f}"
              f"  (median of {reps})")
    spark.stop()


if __name__ == "__main__":
    main()
