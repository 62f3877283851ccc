"""The per-query bench-regression guard: bench.py compares each run's
timings to BENCH_BASELINE_LOCAL.json, a record taken at the same sf and
core count, and flags a query slower than 1.5 × recorded + 0.15 s
absolute jitter slack, so a real slowdown is caught while sub-second
queries on a noisy host don't cry wolf. No Spark — pure parsing and
comparison logic over the committed record."""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402


def _committed_baseline() -> dict:
    prev = bench.resolve_baseline(_REPO)
    assert prev is not None, "BENCH_BASELINE_LOCAL.json missing or empty"
    return prev


def test_identical_timings_pass():
    """A run whose timings equal the guard's own resolved baseline
    produces zero flags — true by construction for any tolerance > 1,
    on any host, so the test asserts guard logic, not host weather."""
    prev = _committed_baseline()
    assert bench.regression_report(dict(prev["queries"]), _REPO) == []


def test_regression_detected():
    """Seeding a ×4 slowdown of the slowest query into the committed
    record flags exactly that query."""
    timings = dict(_committed_baseline()["queries"])
    assert bench.regression_report(dict(timings), _REPO) == []
    # The slowest query ×4 clears both the ratio and the absolute
    # slack — an unmistakable real regression must always flag.
    victim = max(timings, key=timings.get)
    timings[victim] = timings[victim] * 4.0
    report = bench.regression_report(timings, _REPO)
    assert len(report) == 1 and report[0].startswith(f"{victim}:")


def test_jitter_below_slack_not_flagged(tmp_path):
    """A short query inflated by host jitter (< ratio·base + slack)
    stays quiet."""
    base = {
        "metric": "m", "value": 0.1, "unit": "sec",
        "queries": {"tiny": 0.10}, "sf": 0.1,
    }
    (tmp_path / "BENCH_BASELINE_LOCAL.json").write_text(json.dumps(base))
    # bar = 1.5·0.10 + 0.15 = 0.30 s: 0.29 s is quiet, 0.31 s flags.
    assert bench.regression_report({"tiny": 0.29}, str(tmp_path)) == []
    assert len(bench.regression_report({"tiny": 0.31}, str(tmp_path))) == 1


def test_resolve_baseline_order(tmp_path):
    """resolve_baseline reads only the local record, and only when its
    sf and cpus match the run's; an empty dir gives None."""
    assert bench.resolve_baseline(str(tmp_path)) is None
    rec = {
        "metric": "m", "value": 1.0, "unit": "sec",
        "queries": {"q": 1.0}, "sf": 0.1, "cpus": 4,
    }
    (tmp_path / "BENCH_BASELINE_LOCAL.json").write_text(json.dumps(rec))
    assert bench.resolve_baseline(str(tmp_path))["queries"] == {"q": 1.0}
    assert bench.resolve_baseline(str(tmp_path), sf=0.1, cpus=4) is not None
    # sf-gated and cpus-gated: times from another scale factor or core
    # count are not comparable.
    assert bench.resolve_baseline(str(tmp_path), sf=0.01) is None
    assert bench.resolve_baseline(str(tmp_path), sf=0.1, cpus=8) is None
    # A gated-out baseline flags nothing, however slow the run.
    assert bench.regression_report({"q": 9.0}, str(tmp_path), cpus=8) == []
    # Self-comparison against the resolved baseline is empty by
    # construction — the invariant test_identical_timings_pass leans on.
    assert bench.regression_report({"q": 1.0}, str(tmp_path)) == []


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_timings = st.dictionaries(
    st.text(st.characters(categories=("Ll",)), min_size=1, max_size=8),
    st.floats(min_value=0.001, max_value=50.0, allow_nan=False),
    min_size=1,
    max_size=8,
)


@settings(max_examples=80, deadline=None)
@given(_timings)
def test_guard_self_comparison_is_always_empty(tmp_path_factory, queries):
    """Invariant behind test_identical_timings_pass: ANY recorded run
    compared against itself is flag-free — for every timing mix, since
    tolerance > 1 and slack > 0."""
    d = tmp_path_factory.mktemp("selfcmp")
    rec = {
        "metric": "m", "value": sum(queries.values()), "unit": "sec",
        "queries": queries, "sf": 0.1,
    }
    (d / "BENCH_BASELINE_LOCAL.json").write_text(json.dumps(rec))
    assert bench.regression_report(dict(queries), str(d)) == []


@settings(max_examples=80, deadline=None)
@given(_timings)
def test_guard_seeding_flags_exactly_the_victim(tmp_path_factory, queries):
    """Invariant behind test_regression_detected: multiplying ONE
    query by 4 (plus the full absolute slack) over its own baseline
    adds exactly that query's flag and no other."""
    d = tmp_path_factory.mktemp("seed")
    rec = {
        "metric": "m", "value": sum(queries.values()), "unit": "sec",
        "queries": queries, "sf": 0.1,
    }
    (d / "BENCH_BASELINE_LOCAL.json").write_text(json.dumps(rec))
    victim = sorted(queries)[0]
    seeded = dict(queries)
    seeded[victim] = seeded[victim] * 4.0 + 0.31
    report = bench.regression_report(seeded, str(d))
    assert len(report) == 1 and report[0].startswith(f"{victim}:")
