"""Session-order independence for the redis catalog entries.

R10's only correctness red (`redis_cluster_scan`) was an ordering bug:
the entry read `spark.read.format("redis_scan")` without registering the
Python data source, so it only worked when a sibling `_engine()`-using
entry had already run in the same session. These tests make that bug
class impossible to reintroduce:

1. `test_redis_entries_survive_fresh_session` runs every redis-tagged
   entry against `spark.newSession()` — a brand-new session state with
   no data sources registered and no conf carried over — exactly what
   the driver's gate presents when the entry runs first.
2. `test_direct_format_reads_register_first` is the static guard: any
   entry whose source reads a `redis_*` format string directly must
   also call `register_datasources` (or go through `_engine`/`Engine`,
   which registers in `Engine.__init__` — engine.py:155).
3. `test_table_cache_is_session_unique` pins the r16 cache-poisoning
   finding (fixed in r17): `_session_key` now includes the JVM
   sessionUUID, so sibling `newSession()`s can never share cache rows.
4. The session-LRU eviction tests pin that evicted frames are
   unpersisted with `_CACHE_LOCK` released and that each evicted
   session key logs one warning.
"""

from __future__ import annotations

import inspect
import threading

import pytest

from duckdb_redis_olap_scanner_spark.plans import catalog

from .conftest import SF_DIR, SF_DIR_ORACLE


def _redis_entries():
    return [
        e for e in catalog.registry().values() if "redis" in e.tags
    ]


def test_redis_entries_exist():
    assert len(_redis_entries()) >= 10


@pytest.mark.parametrize(
    "name", [e.name for e in _redis_entries()]
)
def test_redis_entries_survive_fresh_session(spark, name, monkeypatch):
    """Each redis entry must bootstrap its own session state: a fresh
    `newSession()` shares the SparkContext (no JVM restart) but has
    empty session-local data source registrations and conf — the same
    blank slate a fresh driver session gives the first gate entry.
    Env is cleared so the entries take the same golden-server path the
    driver's gate takes.

    `raw_fn`, not `entry.fn`: the point is to exercise the entry's own
    bootstrap, not the registry memo's (now session-unique) cache."""
    monkeypatch.delenv("SPARK_GRAFT_REDIS_ADDR", raising=False)
    fresh = spark.newSession()
    entry = catalog.registry()[name]
    df = (entry.raw_fn or entry.fn)(fresh, SF_DIR)
    assert df.count() >= 0  # executes without DATA_SOURCE_NOT_FOUND


def test_direct_format_reads_register_first():
    """Static guard: a plans/ entry reading a redis format string
    directly must register data sources in its own body."""
    for e in catalog.registry().values():
        src = inspect.getsource(e.raw_fn or e.fn)
        if 'read.format("redis' not in src:
            continue
        assert (
            "register_datasources" in src
            or "_engine(" in src
            or "Engine(" in src
        ), f"{e.name} reads a redis_* format without registering it"


@pytest.mark.parametrize(
    "name",
    [
        "pipeline_incremental_dedup_indexed",
        "pipeline_incremental_minhash_indexed",
    ],
)
def test_indexed_entries_survive_fresh_session_twice(spark, name):
    """The r12 indexed-dedup entries create catalog tables as part of
    their build — the same session-state bug class the redis entries
    had: they must work in a blank `newSession()` (first gate entry
    position) AND on a SECOND fresh session where the external
    catalog/paths already hold a previous run's index (the overwrite
    path the driver's repeated gate runs exercise)."""
    n_rows = []
    for _ in range(2):
        fresh = spark.newSession()
        # raw_fn bypasses the registry's per-(session, sf_dir) memo so
        # iteration 2 rebuilds the index instead of serving a plan.
        df = catalog.registry()[name].raw_fn(fresh, SF_DIR)
        n_rows.append(df.count())
    assert n_rows[0] == n_rows[1] >= 0


def test_dead_session_cache_rows_are_evicted(spark):
    """Session-unique keys without eviction would leak: every
    newSession()'s analyzed DataFrames would stay in _TABLE_CACHE and
    the entry memos forever, pinning the discarded session (r17
    review). The bounded session LRU must sweep a dead session's rows
    once enough newer sessions appear, while the ACTIVE main session's
    rows survive because each use re-touches it."""
    main_key = catalog._session_key(spark)
    victim = spark.newSession()
    victim_key = catalog._session_key(victim)
    catalog.table(victim, SF_DIR, "region")
    assert any(k[0] == victim_key for k in catalog._TABLE_CACHE)
    # churn more sessions than the cap, touching main in between
    for _ in range(catalog._MAX_CACHED_SESSIONS + 2):
        catalog.table(spark.newSession(), SF_DIR, "region")
        catalog._session_key(spark)  # keep main most-recently-used
    assert not any(k[0] == victim_key for k in catalog._TABLE_CACHE)
    assert not any(
        k[0] == victim_key for memo in catalog._ALL_MEMOS for k in memo
    )
    # the main session's rows survived the churn
    catalog.table(spark, SF_DIR, "region")
    assert any(k[0] == main_key for k in catalog._TABLE_CACHE)
    assert len(catalog._SESSION_LRU) <= catalog._MAX_CACHED_SESSIONS


def test_session_key_is_session_unique(spark):
    """Sibling sessions of one SparkContext must get distinct keys —
    the root cause of the r16 poisoning was both mapping to
    applicationId:startTime."""
    fresh = spark.newSession()
    assert catalog._session_key(spark) != catalog._session_key(fresh)
    # and the key is stable for a given session
    assert catalog._session_key(spark) == catalog._session_key(spark)


def test_table_cache_is_session_unique(spark):
    """THE r16 poisoning scenario, reproduced deterministically: after
    a fresh-session table() touch and a stale main-session view, a
    view-based entry rebuilt on the MAIN session at the small sf must
    still return small-sf rows. Fixed in r17 by including the JVM
    sessionUUID in `_session_key`.

    The big-sf side uses SF_DIR_ORACLE; if the suite is ever run with
    SF_DIR == SF_DIR_ORACLE the poisoned and truth counts coincide and
    the test proves nothing, so it skips (ADVICE r16)."""
    sf_small = SF_DIR
    sf_big = SF_DIR_ORACLE
    import os

    if os.path.abspath(sf_small) == os.path.abspath(sf_big):
        pytest.skip("SF_DIR == SF_DIR_ORACLE: poisoning is unobservable")
    entry = catalog.registry()["subquery_correlated"]
    truth = (entry.raw_fn or entry.fn)(spark, sf_small).count()

    key = (
        catalog._session_key(spark),
        os.path.abspath(sf_small),
        "customer",
    )
    try:
        # 0) the historical poisoning required the FRESH session to be
        # the first owner of the cache key — evict the main-session
        # entry the truth computation just created
        catalog._TABLE_CACHE.pop(key, None)
        # 1) a fresh-session code path touches the dim table; with the
        # session-unique key this stores under the FRESH session's key
        catalog.table(spark.newSession(), sf_small, "customer")
        # 2) an earlier test left the main-session view at another sf
        catalog.table(spark, sf_big, "customer").createOrReplaceTempView(
            "customer"
        )
        # 3) a main-session rebuild must be immune to both
        got = (entry.raw_fn or entry.fn)(spark, sf_small).count()
        assert got == truth
    finally:
        # drop this test's cache rows and restore the main-session
        # view for any later view-based test
        catalog._TABLE_CACHE.pop(key, None)
        catalog.table(spark, sf_small, "customer").createOrReplaceTempView(
            "customer"
        )


class _StubDF:
    """Duck-typed stand-in for a cached DataFrame: its unpersist()
    probes — from ANOTHER thread, so RLock reentrancy can't lie —
    whether _CACHE_LOCK is free while the sweep releases storage."""

    def __init__(self, sink: dict):
        self._sink = sink

    def unpersist(self):
        got = {}

        def probe():
            ok = catalog._CACHE_LOCK.acquire(timeout=5)
            got["ok"] = ok
            if ok:
                catalog._CACHE_LOCK.release()

        t = threading.Thread(target=probe)
        t.start()
        t.join()
        self._sink.setdefault("probes", []).append(got.get("ok", False))


def _churn_keys(prefix: str, n: int, memo: dict, sink: dict) -> None:
    for i in range(n):
        catalog._insert_cache_row(memo, (f"{prefix}-{i}", "sf"), _StubDF(sink))


def test_insert_cache_row_unpersists_outside_lock():
    """Evictions triggered THROUGH _insert_cache_row must run their
    unpersist round trips with _CACHE_LOCK released: a py4j call under
    the global lock stalls every catalog call in every session."""
    sink: dict = {}
    memo: dict = {}
    catalog._ALL_MEMOS.append(memo)
    try:
        # One sweepable victim row, then enough fresh keys through the
        # _insert_cache_row path to evict it (and then some).
        catalog._insert_cache_row(memo, ("bundle-victim", "sf"), _StubDF(sink))
        _churn_keys("bundle-churn", catalog._MAX_CACHED_SESSIONS + 2, memo, sink)
        assert sink.get("probes"), "churn never evicted the victim row"
        assert all(sink["probes"]), (
            "unpersist ran while _CACHE_LOCK was held: the sweep must "
            "collect doomed frames under the lock and release them after"
        )
    finally:
        catalog._ALL_MEMOS.remove(memo)


def test_eviction_warns_per_evicted_key(caplog):
    """Two distinct evicted session keys → two warnings, each naming
    its key. The old once-per-process latch went silent after the
    first eviction for the life of the driver."""
    sink: dict = {}
    memo: dict = {}
    catalog._ALL_MEMOS.append(memo)
    try:
        with caplog.at_level("WARNING", logger=catalog.__name__):
            catalog._insert_cache_row(memo, ("bundle-warn-a", "sf"), _StubDF(sink))
            catalog._insert_cache_row(memo, ("bundle-warn-b", "sf"), _StubDF(sink))
            _churn_keys(
                "bundle-warn-churn",
                catalog._MAX_CACHED_SESSIONS + 2,
                memo,
                sink,
            )
        warned = [r.getMessage() for r in caplog.records]
        assert any("bundle-warn-a" in m for m in warned)
        assert any("bundle-warn-b" in m for m in warned)
        # and re-evicting the SAME key does not spam
        with caplog.at_level("WARNING", logger=catalog.__name__):
            caplog.clear()
            catalog._insert_cache_row(memo, ("bundle-warn-a", "sf"), _StubDF(sink))
            _churn_keys(
                "bundle-warn-churn2",
                catalog._MAX_CACHED_SESSIONS + 2,
                memo,
                sink,
            )
        again = [r.getMessage() for r in caplog.records]
        assert not any("bundle-warn-a" in m for m in again)
    finally:
        catalog._ALL_MEMOS.remove(memo)
