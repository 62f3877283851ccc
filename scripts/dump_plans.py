#!/usr/bin/env python
"""Capture .explain('formatted') for catalog entries into
OUT_DIR/<entry>.txt, plus a one-line summary of exchange / python-stage
counts per entry on stdout. The entries are the ENTRY names given, or
every bench-tagged entry when none are.

Expression ids (``#123``), exchange ids (``plan_id=45``), RDD ids
(``RDD[67]``) and lambda variable counters (``lambda x_12#``) are
normalised to ``#<id>``, ``plan_id=<id>``, ``RDD[<id>]`` and
``lambda x_<n>#``: they count up across the session, so without this
two runs of the same code differ. The application id (which names the
index tables some entries build) becomes ``<app>`` and the warehouse
directory ``<warehouse>``. Plans of two checkouts then compare with a
plain ``diff -r OUT_A OUT_B``.

An entry that fails to build (say, a table the dir does not hold)
gets a one-line ``error: <exception type>`` file instead.

Usage: python scripts/dump_plans.py OUT_DIR [SF_DIR [ENTRY ...]]
(SF_DIR defaults to $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1; the
session is ``get_spark``'s, local[$SPARK_GRAFT_CPUS].)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_redis_olap_scanner_spark.engine import get_spark  # noqa: E402
from duckdb_redis_olap_scanner_spark.plans.catalog import registry  # noqa: E402

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")
_LAMBDA_VAR = re.compile(r"(lambda \w+?_)\d+#")
_APP_ID = re.compile(r"local[-_]\d{10,}")
_PYTHON_OPS = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
               "BatchEvalPython", "FlatMapGroupsInPandas")


def normalise(plan: str, warehouse: str) -> str:
    plan = plan.replace(warehouse, "<warehouse>")
    plan = _APP_ID.sub("<app>", _LAMBDA_VAR.sub(r"\1<n>#", plan))
    plan = _RDD_ID.sub("RDD[<id>]", plan)
    return _PLAN_ID.sub("plan_id=<id>", _EXPR_ID.sub("#<id>", plan))


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    entries = registry()
    names = sys.argv[3:] or sorted(
        n for n, e in entries.items() if "bench" in e.tags
    )
    for name in names:
        buf = io.StringIO()
        try:
            df = (entries[name].raw_fn or entries[name].fn)(spark, sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        except Exception as exc:  # e.g. a table the dir does not hold
            error = f"error: {type(exc).__name__}"
            print(f"{name}: {error}")
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(error + "\n")
            continue
        plan = normalise(buf.getvalue(), warehouse)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        # one "(N) Operator" header per node in the details section
        ops = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
        ex = ops.count("Exchange")
        bx = ops.count("BroadcastExchange")
        py = sum(ops.count(t) for t in _PYTHON_OPS)
        smj = ops.count("SortMergeJoin")
        bhj = ops.count("BroadcastHashJoin")
        print(
            f"{name}: shuffle_ex={ex} bcast_ex={bx} py_stages={py} "
            f"smj={smj} bhj={bhj}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
