#!/usr/bin/env python
"""Capture .explain('formatted') for every bench-tagged query into
OUT_DIR/<query>.txt, plus a one-line summary of exchange / python-stage
counts per query on stdout.

Expression ids (``#123``) and exchange ids (``plan_id=45``) are
normalised to ``#<id>`` and ``plan_id=<id>``: they count up across the
session, so without this two runs of the same code differ. Plans of two
checkouts then compare with a plain ``diff -r OUT_A OUT_B``.

An entry that fails to build (say, a table the dir does not hold)
gets a one-line ``error: <exception type>`` file instead.

Usage: python scripts/r21_plans.py OUT_DIR [SF_DIR]
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

from duckdb_redis_olap_scanner_spark.engine import get_spark, local_cores  # noqa: E402
from duckdb_redis_olap_scanner_spark.plans.catalog import (  # noqa: E402
    registry,
    runtime_replan_worth_it,
)

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_PYTHON_OPS = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
               "BatchEvalPython", "FlatMapGroupsInPandas")


def normalise(plan: str) -> str:
    return _PLAN_ID.sub("plan_id=<id>", _EXPR_ID.sub("#<id>", plan))


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="r21plans")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = local_cores()
    spark.conf.set(
        "spark.sql.adaptive.enabled",
        str(runtime_replan_worth_it(sf_dir, cpus)).lower(),
    )
    entries = registry()
    names = sorted(n for n, e in entries.items() if "bench" in e.tags)
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
        plan = normalise(buf.getvalue())
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
