"""PySpark-native analytics engine with the query and data-processing
capabilities of ``Igor-Chernenko/duckdb-redis-olap-scanner`` ("RedDuck"),
re-expressed Spark-first, plus large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

See SURVEY.md for the capability blueprint this implements.
"""

__all__ = ["Engine", "get_spark", "load_tables", "register_datasources"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Spark's data-source planner processes import this package to
    # unpickle our sources. Loading ``engine`` only on first use spares
    # each of them engine's imports, pandas among them: importing
    # ``sources.redis_source`` in a planner takes 0.04 s this way and
    # 0.39 s with eager exports.
    if name in __all__:
        from . import engine

        return getattr(engine, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
