"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is a smoke check. Each ``queries()[name]`` is run at
sf=0.01 and compared with the matching ``oracle_sql()[name]`` run in
DuckDB: row count, schema and an order-insensitive value hash.

All entries are defined in the engine's query catalog
(``duckdb_redis_olap_scanner_spark/plans/``) — this module is thin glue.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_redis_olap_scanner_spark.plans.catalog import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing summary."""
    entries = registry()
    return entries["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (and the
    north-star pipeline operators). Each callable takes (spark, sf_dir)."""
    return {name: e.fn for name, e in registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checkable query (entries with
    ``oracle=None`` — approximate sketches, MapType outputs — are omitted
    and get the driver's weaker rows-only check)."""
    return {
        name: e.oracle for name, e in registry().items() if e.oracle is not None
    }
