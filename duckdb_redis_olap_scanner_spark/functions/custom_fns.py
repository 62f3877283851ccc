"""User-defined aggregate + table functions — the engine's native
extension surface (SURVEY.md §2.B "UDF/UDAF/UDTF surface").

The reference's entire mechanism is DuckDB's scalar/table-function
registration API (``redduck_extension.cpp:348-362``); the Spark-native
equivalents are:

* scalar      — iterator ``arrow_udf``            (functions/redis_fns.py)
* aggregate   — GROUPED_AGG ``pandas_udf``        (here: ``second_max_cents``)
* table       — Python UDTF (Spark ≥ 3.5)         (here: ``WordExpand``)
* source      — Python DataSource                 (sources/redis_source.py)

These run in Python workers over Arrow batches — the sanctioned slow
path for semantics built-ins can't express. Anything expressible with
``pyspark.sql.functions`` stays JVM-side instead (see operators/).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf


@pandas_udf("long")
def second_max_cents(v: pd.Series) -> int:  # GROUPED_AGG by usage
    """Aggregate: the second-largest distinct floor(x*100) in the group
    (NULL for groups with fewer than two distinct values) — a semantics
    gap in the built-in aggregate set, filled by a vectorized UDAF."""
    import numpy as np

    cents = np.unique(np.floor(v.to_numpy() * 100).astype("int64"))
    if len(cents) < 2:
        return None
    return int(cents[-2])


@udtf(returnType="word string, wlen int")
class WordExpand:
    """Table function: one row per DISTINCT lowercase word of the input
    text longer than 5 chars. The Python-UDTF analogue of the
    reference's table-function extension point."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        seen = set()
        for w in text.lower().split():
            if len(w) > 5 and w not in seen:
                seen.add(w)
                yield w, len(w)


def register_custom_functions(spark) -> None:
    """Register the UDTF surface for SQL (LATERAL) usage. Idempotent."""
    spark.udtf.register("word_expand", WordExpand)
