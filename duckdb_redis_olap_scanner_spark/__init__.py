"""PySpark-native analytics engine with the query and data-processing
capabilities of ``Igor-Chernenko/duckdb-redis-olap-scanner`` ("RedDuck"),
re-expressed Spark-first, plus large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

See SURVEY.md for the capability blueprint this implements.
"""

__all__ = ["Engine", "get_spark", "load_tables", "register_datasources"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Importing the package must not import pyspark: Spark's Python
    # daemon runs ``worker_daemon`` from here, and that module has to
    # adjust sys.path before the first pyspark import.
    if name in __all__:
        from . import engine

        return getattr(engine, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
