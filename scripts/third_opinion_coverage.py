#!/usr/bin/env python
"""Report which catalog entries have an independent third-opinion
re-derivation (tests/test_third_opinion*.py) and which do not.

The oracle gate proves Spark == DuckDB; the third-opinion tests prove
the shared SPEC reading against an independent implementation. This
script AST-parses the audit files and counts a registry entry as
covered when its name appears as a string literal in an EXPRESSION
context — a subscript (``reg["x"]``), a call argument
(``_check(reg, spark, "x", ...)``), or a list/tuple element feeding a
loop or ``parametrize`` — and prints a JSON summary:

    {"entries_total": N, "with_third_opinion": K,
     "without": [names...], "detection": "ast-expression contexts"}

Tightened from an earlier quoted-token regex: names that
appear ONLY in docstrings, comments, or skip/xfail ``reason`` strings
no longer count, so a mention in an audit file's header prose cannot
inflate the completeness claim. Under-counting remains possible only
for an entry exercised without its name ever appearing as a string
expression (none of the audit files do that — they all go through the
``reg`` fixture by quoted name).

Entries listed under `without` fall into documented classes (see
COVERAGE.md "Third-opinion audit, session 2"): engine-builtin scalar
wrappers, the TPC-H suite (the oracle IS the published spec),
multimodal codecs (hypothesis round-trips + external vectors), archive
ingest (stdlib vs closed-form), redis entries (transport tests + the
fake-fidelity audit), and skew (invariance-tested).
"""

from __future__ import annotations

import ast
import json
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _expression_strings(tree: ast.AST) -> set[str]:
    """String constants in expression contexts: everything except
    bare-string statements (docstrings / prose) and the ``reason=``
    keyword of skip/xfail marks."""
    skip: set[int] = set()
    for node in ast.walk(tree):
        # Bare string statement — module/class/function docstrings and
        # any free-standing prose block.
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            skip.add(id(node.value))
        # reason="..." on skip/xfail/skipif marks (and pytest.skip
        # positional is a sentence, excluded here too for symmetry).
        if isinstance(node, ast.Call):
            for kw in node.keywords:
                if kw.arg == "reason" and isinstance(kw.value, ast.Constant):
                    skip.add(id(kw.value))
            fn = node.func
            attr = fn.attr if isinstance(fn, ast.Attribute) else (
                fn.id if isinstance(fn, ast.Name) else ""
            )
            if attr in ("skip", "xfail", "fail", "importorskip"):
                for a in node.args:
                    if isinstance(a, ast.Constant):
                        skip.add(id(a))
    out: set[str] = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in skip
        ):
            out.add(node.value)
    return out


def main() -> int:
    sys.path.insert(0, str(ROOT))
    import duckdb_redis_olap_scanner_spark.plans  # noqa: F401
    from duckdb_redis_olap_scanner_spark.plans import catalog

    names = set(catalog.registry())
    covered: set[str] = set()
    for f in sorted((ROOT / "tests").glob("test_third_opinion*.py")):
        covered.update(_expression_strings(ast.parse(f.read_text())))
    covered &= names
    print(
        json.dumps(
            {
                "entries_total": len(names),
                "with_third_opinion": len(covered),
                "without": sorted(names - covered),
                "detection": "ast-expression contexts (docstrings, "
                "comments and skip reasons excluded) over "
                "tests/test_third_opinion*.py",
            },
            indent=2,
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
