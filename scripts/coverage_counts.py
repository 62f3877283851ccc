#!/usr/bin/env python
"""Reproducible COVERAGE.md numbers, generated from the registry.

A hand-edited count once drifted (COVERAGE.md said 219 entries, the
registry had 218). This script is the fix: every count quoted in
COVERAGE.md comes from ``catalog.registry()``, so the docs can always
be re-derived:

    python scripts/coverage_counts.py

Prints (and nothing else, so it can be diffed in CI) the total
registered entries, split by oracle-checked vs rows-only.

No SparkSession is needed: registering the catalog only builds
closures.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from duckdb_redis_olap_scanner_spark.plans import catalog as C

    reg = C.registry()
    rows_only = [n for n, e in reg.items() if e.oracle is None]
    out = {
        "entries_total": len(reg),
        "entries_oracle_checked": len(reg) - len(rows_only),
        "entries_rows_only": len(rows_only),
        "rows_only_names": sorted(rows_only),
    }
    json.dump(out, sys.stdout, indent=2)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
