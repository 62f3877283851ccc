#!/usr/bin/env python
"""One-screen pre-flight for a build round.

Prints a single JSON object combining the two existing generators —
``coverage_counts.py`` (registry counts) and
``third_opinion_coverage.py`` (audit completeness) — plus the
committed bench artifacts' headline numbers, so the round can start
(and end) with one reproducible snapshot:

    python scripts/round_preflight.py

Nothing here is new state: every field is re-derived from the
registry and the committed BENCH artifacts. A field reading "missing"
means the artifact is absent, not that the check failed.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _run_json(script: str) -> dict:
    out = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / script)],
        capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out)


def _bench_summary(name: str, fields: tuple[str, ...]) -> dict | str:
    path = ROOT / name
    if not path.exists():
        return "missing"
    try:
        data = json.loads(path.read_text())
    except ValueError:
        return "unparseable"
    return {k: data.get(k) for k in fields}


def _bench_guard_verdict() -> dict:
    """The r18-verdict ask: surface the bench-guard suite's verdict in
    the preflight so a red suite can't survive to end-of-round
    unnoticed. Runs the real tests (tests/test_bench_guard.py — pure
    parsing, no Spark; ~5-7 s now that it carries 160 hypothesis
    examples) rather than re-deriving their logic, plus the guard's
    own self-comparison over the resolved baseline."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import bench  # noqa: E402

    prev = bench.resolve_baseline(str(ROOT))
    self_flags = (
        bench.regression_report(dict(prev["queries"]), str(ROOT))
        if prev else []
    )
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q",
         str(ROOT / "tests" / "test_bench_guard.py")],
        capture_output=True, text=True, cwd=str(ROOT),
    )
    tail = (proc.stdout.strip().splitlines() or [""])[-1]
    return {
        "tests": "pass" if proc.returncode == 0 else f"FAIL: {tail}",
        "baseline_source": (
            "none" if prev is None
            else "BENCH_BASELINE_LOCAL.json"
            if prev == bench.load_recorded_bench(
                str(ROOT / "BENCH_BASELINE_LOCAL.json"))
            else "newest BENCH_r*.json"
        ),
        "self_comparison_flags": self_flags,
    }


def main() -> int:
    cov = _run_json("coverage_counts.py")
    audit = _run_json("third_opinion_coverage.py")
    out = {
        "entries_total": cov["entries_total"],
        "entries_oracle_checked": cov["entries_oracle_checked"],
        "third_opinion": {
            "with": audit["with_third_opinion"],
            "without": audit["without"],
        },
        "bench_duck_local": _bench_summary(
            "BENCH_DUCK_LOCAL.json",
            ("sf", "spark_total", "duck_total", "ratio_total"),
        ),
        "bench_10x": _bench_summary(
            "BENCH_10X.json", ("sf", "value", "duck_total")
        ),
        "bench_baseline_local": _bench_summary(
            "BENCH_BASELINE_LOCAL.json", ("sf", "value")
        ),
        "bench_guard": _bench_guard_verdict(),
        "redis_server_present": bool(
            any(
                os.access(os.path.join(p, "redis-server"), os.X_OK)
                for p in os.environ.get("PATH", "").split(os.pathsep)
                if p
            )
        ),
    }
    json.dump(out, sys.stdout, indent=2)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
