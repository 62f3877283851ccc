"""Query catalog: the registry behind ``__spark_entry__.queries()`` /
``oracle_sql()``.

Every capability from SURVEY.md §2 (and the §7 north-star extensions)
is declared here as a named entry pairing

* a Spark callable ``(spark, sf_dir) -> DataFrame`` (DataFrame API or
  ``spark.sql`` — both are the engine's public surface), and
* an equivalent ANSI-SQL oracle string DuckDB can run over the same
  parquet tables (``None`` for genuinely non-SQL-expressible ops, which
  the driver then checks rows-only).

Determinism / hash-match discipline (the driver compares value hashes
order-insensitively but exactly):

* Monetary/quantity SUMs are computed over ``DECIMAL(18,2)`` casts on
  BOTH sides — decimal aggregation is exact, so results are bitwise
  identical regardless of partial-aggregation order, then cast to
  DOUBLE for a common output schema.
* AVGs are expressed as exact-decimal SUM divided by COUNT (one double
  division of identical operands on both sides).
* Transcendentals (ln/exp/pow) are rounded to 6 decimals — Java Math
  and libm may differ in the last ulp.
* Every computed column is aliased identically on both sides; the
  driver sorts columns by name before hashing.
* Timestamps are cast to DATE or formatted strings in outputs (duckdb
  returns naive timestamps, Spark session-TZ ones).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    doc: str = ""
    # The un-memoized builder: calls it bypass the per-(session,
    # sf_dir) prepared-plan cache that ``fn`` goes through.
    raw_fn: Callable | None = None


_REGISTRY: dict[str, CatalogEntry] = {}


def _session_key(spark: SparkSession) -> str:
    """Stable, session-unique cache key.

    ``id(spark)`` is unsafe: CPython reuses object ids after GC, so a
    DataFrame bound to a stopped session could be served to a new
    session whose id() collides. applicationId + startTime alone is
    also unsafe: ``spark.newSession()`` shares the SparkContext (same
    applicationId and startTime) but has its OWN session state — temp
    views registered in one session are invisible in the other, so a
    context-scoped key lets a fresh-session ``table()`` call poison
    view-based entries for the main session (found by the r16
    third-opinion audit: sf0.01 rows served at sf0.001). The JVM
    ``sessionUUID`` is generated per SparkSession instance and never
    reused, so it disambiguates sibling sessions; applicationId +
    startTime stays in the key as a belt-and-braces context scope.
    """
    sc = spark.sparkContext
    # The sessionUUID lookup is a py4j round trip; memoize it on the
    # Python wrapper (safe: the wrapper holds its JVM session for
    # life, and a different wrapper for the same JVM session re-reads
    # the same UUID). _session_key sits on every cached-plan call, so
    # this keeps the fix off the per-query dispatch floor.
    uuid = getattr(spark, "_drosp_session_uuid", None)
    if uuid is None:
        try:
            uuid = spark._jsparkSession.sessionUUID()
        except Exception:
            # No JVM handle (e.g. Spark Connect): fall back to a
            # nonce attached to the Python session wrapper. setattr
            # keeps the nonce alive exactly as long as the wrapper
            # object, so a recycled id() can never inherit a stale
            # nonce.
            import uuid as _uuid

            uuid = _uuid.uuid4().hex
        try:
            spark._drosp_session_uuid = uuid
        except Exception:
            pass
    key = f"{sc.applicationId}:{sc.startTime}:{uuid}"
    _touch_session(key)
    return key


# Session-unique keys make the caches CORRECT across newSession(),
# but without eviction they would also make them a leak: every fresh
# session's analyzed DataFrames would stay in _TABLE_CACHE and the
# per-entry memos forever, each pinning its (possibly discarded)
# SparkSession wrapper (r17 review). A weak-keyed map can't work here
# — the cached DataFrames hold their session strongly, so the cycle
# never collects. Instead: bounded per-session LRU. The cap covers
# any realistic number of CONCURRENT sessions (exceeding it with LIVE
# sessions turns the prepared-plan cache into thrash, so each evicted
# session key warns once); a long-lived driver cycling newSession()
# per request evicts the dead ones as it goes.
_MAX_CACHED_SESSIONS = 8
_SESSION_LRU: dict[str, None] = {}
# every register() memo enrolls here so eviction can sweep it; keys
# of both _TABLE_CACHE and the memos start with the session key
_ALL_MEMOS: list[dict] = []
# One lock for every mutation of _SESSION_LRU / _TABLE_CACHE / the
# memos: the eviction sweep iterates these dicts, and an unlocked
# concurrent insert from another session's thread would raise
# "dictionary changed size during iteration" (r17 review pass 2).
_CACHE_LOCK = threading.RLock()
# Session keys whose eviction was already logged: each evicted key
# warns once, so a driver that keeps thrashing keeps hearing about
# it, while re-evicting the same key stays quiet.
_WARNED_EVICTION: set[str] = set()


def _evict_locked(key: str) -> list:
    """Move ``key`` to the LRU's young end and evict past the cap.
    The caller holds ``_CACHE_LOCK``; returns the evicted frames, which
    the caller releases with :func:`_release` AFTER dropping the lock."""
    doomed: list = []
    # dict preserves insertion order; re-insert = move to end
    _SESSION_LRU.pop(key, None)
    _SESSION_LRU[key] = None
    while len(_SESSION_LRU) > _MAX_CACHED_SESSIONS:
        dead = next(iter(_SESSION_LRU))
        del _SESSION_LRU[dead]
        if dead not in _WARNED_EVICTION:
            _WARNED_EVICTION.add(dead)
            import logging

            logging.getLogger(__name__).warning(
                "evicting cached plans of session %s (more than "
                "%d session keys seen). Benign for discarded "
                "newSession()s; if this many sessions are LIVE, "
                "their prepared plans thrash.",
                dead,
                _MAX_CACHED_SESSIONS,
            )
        for memo in _ALL_MEMOS:
            for k in [k for k in memo if k[0] == dead]:
                doomed.append(memo.pop(k))
        for k in [k for k in _TABLE_CACHE if k[0] == dead]:
            doomed.append(_TABLE_CACHE.pop(k))
    return doomed


def _release(doomed: list) -> None:
    """Release evicted frames' JVM-side storage, never under the lock:
    a cached frame may be persisted (.cache()), and dropping the last
    Python reference would strand their blocks in the shared
    CacheManager with no handle left to free them (r17 review pass 2)
    — but each unpersist is a py4j round trip, and holding the global
    lock across the sweep would stall every catalog call in every
    session (pass 3). unpersist on a never-persisted frame is a no-op;
    a stopped session raises, which is equally fine — its blocks died
    with the context."""
    for df in doomed:
        try:
            df.unpersist()
        except Exception:
            pass


def _touch_session(key: str) -> None:
    with _CACHE_LOCK:
        doomed = _evict_locked(key)
    _release(doomed)


def _insert_cache_row(cache: dict, k, df) -> None:
    """All cache inserts go through here: under the lock, AND with the
    session key re-touched — a key evicted between the caller's
    _session_key() and this insert would otherwise leave the new row
    unsweepable forever (r17 review pass 3). The eviction work happens
    before our insert, so the row we add belongs to a key that is in
    the LRU; the evicted frames are released after the lock drops."""
    with _CACHE_LOCK:
        doomed = _evict_locked(k[0])
        cache[k] = df
    _release(doomed)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
):
    """Decorator registering a catalog query.

    The registered callable memoizes the built DataFrame per
    (session, sf_dir) — a prepared-plan cache. Building a big pipeline
    through the Python DSL costs 0.1–0.5 s of py4j round trips and JVM
    analysis; a DataFrame is an immutable plan, so re-serving it to
    repeat callers is free and changes nothing about execution.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate catalog entry {name!r}")
        memo: dict[tuple[str, str], DataFrame] = {}
        _ALL_MEMOS.append(memo)  # so session eviction can sweep it

        def cached_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            k = (_session_key(spark), os.path.abspath(sf_dir))
            df = memo.get(k)
            if df is None:
                df = fn(spark, sf_dir)
                _insert_cache_row(memo, k, df)
            return df

        cached_fn.__name__ = fn.__name__
        cached_fn.__doc__ = fn.__doc__
        _REGISTRY[name] = CatalogEntry(
            name, cached_fn, oracle, tuple(tags), doc, fn
        )
        return fn

    return deco


# The plan modules, in declaration order: registry() orders entries by
# their module's position here, then by registration order within the
# module, so the order never depends on which module a process happened
# to import first.
_PLAN_MODULES = (
    "relational",
    "pipeline_ops",
    "redis_demo",
    "streaming_ops",
    "temporal_ops",
    "relational2",
    "pipeline_ops2",
    "pipeline_ops3",
    "pipeline_ops4",
    "pipeline_ops5",
)


def registry() -> dict[str, CatalogEntry]:
    """All catalog entries in declaration order (imports the defining
    modules on first use; each registers its entries on import)."""
    import importlib

    rank = {}
    for i, mod in enumerate(_PLAN_MODULES):
        rank[importlib.import_module(f".{mod}", __package__).__name__] = i
    return dict(
        sorted(
            _REGISTRY.items(),
            key=lambda kv: rank.get(kv[1].raw_fn.__module__, len(rank)),
        )
    )


# Catalog metadata cache: (session key, sf_dir, table) → analyzed DataFrame.
# A DataFrame is an immutable logical plan, so sharing one across queries
# is safe; re-running spark.read.parquet costs ~100 ms of file listing +
# footer/schema reads per call, which dominates plan-build time for
# multi-table queries. Real engines cache catalog metadata the same way.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# Tables whose loads fan out to the session's full width at the scan
# (forced hash layout on the listed key). r21 REDUCED this set to the
# two corpora feeding CPU-bound per-row work (hashing, shingling,
# vector math) whose consumers measurably need the wide layout.
#
# The relational tables (lineitem/orders/customer/supplier/part/events)
# used to be force-repartitioned on their join keys here too — the
# "keyed layout" co-location strategy. That was only free while the
# bench cached the repartitioned tables OUTSIDE the timed region; with
# caching removed (r21 measurement fix), the layout exchange runs
# inside every query, and it is exactly the shuffle the guide says to
# remove: a join inserts the same exchange itself when it needs one
# (ENSURE_REQUIREMENTS — same bytes, same width), while scan-bound
# aggregations (q1/q6/q19/q14) were paying a full fact shuffle BEFORE
# their map-side partial agg for nothing. Measured (min-of-N, noop
# sink): sf0.1 suite 7.2→5.95 s, 10× suite 19.5→16.5 s; q1 0.93→0.17 s
# and q6 0.45→0.11 s at 10× (where the parquet splits wide naturally,
# so the forced repartition was pure cost). Per-operator width fixes
# (operators.util.fan_out's non-forced path, scorer_width) keep narrow
# scans parallel where the per-row work warrants it.
_TABLE_KEYS: dict[str, str] = {
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _file_size(sf_dir: str, name: str) -> int:
    """On-disk bytes of one table's parquet — THE statistics source for
    every cost gate below, and the single seam tests monkeypatch
    (r21 ADVICE: test_band_gates patched os.path.getsize globally,
    which PySpark internals also call mid-test). Raises ``OSError``
    when stats are missing; each gate maps that to its own safe
    cluster assumption."""
    return os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))


_SCORER_BYTES_PER_TASK = 4 << 20


def scorer_width(sf_dir: str, name: str, cpus: int) -> int:
    """Task count for a vectorized (Arrow) scorer over table ``name``:
    one task per ~4 MiB of on-disk parquet, clamped to [1, cpus].

    Each Arrow task pays a fixed cost (worker hand-off, Arrow
    serialization, per-task scorer setup), so spreading a small corpus
    over the table's full layout multiplies that cost for no
    throughput. Measured at sf0.1 on a 4-core host (10k vectors, one
    task here vs the 4-wide layout): ann_cosine_topk 0.16 s vs 0.26 s,
    random_projection 0.12 s vs 0.16 s. The width converges to
    ``cpus`` as data grows (or when stats are missing), where the
    coalesce it feeds is a no-op on an already-wide scan."""
    import math

    try:
        size = _file_size(sf_dir, name)
    except OSError:
        return cpus
    return max(1, min(math.ceil(size / _SCORER_BYTES_PER_TASK), cpus))


BROADCAST_CAP_BYTES = 64 << 20


def fits_broadcast(sf_dir: str, name: str) -> bool:
    """The size gate behind :func:`maybe_broadcast`, exposed for call
    sites that SWITCH SHAPE on broadcastability (e.g. q4's semi-join
    rewrite) instead of merely hinting: True iff table ``name``'s
    on-disk parquet is under ``BROADCAST_CAP_BYTES``. Missing stats →
    False (the safe cluster assumption: never assume a table is small)."""
    try:
        return _file_size(sf_dir, name) < BROADCAST_CAP_BYTES
    except OSError:
        return False


def maybe_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Cost-based broadcast hint from REAL table statistics: hint
    broadcast iff ``name``'s on-disk parquet is under
    ``BROADCAST_CAP_BYTES``.

    Static planning can't be trusted either way here: with a hard
    ``F.broadcast`` an SF-scaling table (customer, supplier, part)
    becomes a driver-OOM at cluster volume, and with no hint the
    planner's post-join size guesses shuffle the big intermediate
    instead of broadcasting a genuinely small side (measured: q5
    0.35→0.23 s at sf0.1). File size is ground truth: filters and
    projections at the call site only shrink the true build side
    below it, and compressed parquet understates memory by a bounded
    2-4× that the cap already budgets for. The SAME call site
    broadcasts at test scale and leaves the join to the planner (a
    sort-merge join past its auto-broadcast threshold) at 100 TB,
    with no code change.
    """
    if fits_broadcast(sf_dir, name):
        from pyspark.sql import functions as F

        return F.broadcast(df)
    return df


# Below this much source parquet a (group, value)→count histogram's
# map-side hash aggregation cannot pay for itself before the percentile
# finisher: at sf0.1 the 600 k lineitem cents are ~99% distinct, so the
# aggregate burns a 594 k-group hash pass to save ~1% of exchange rows
# (measured r22: 1.24 s → 0.80 s skipping it). At and above the 10×
# dir, repeated values make the histogram value-space-bounded — its
# exchange carries 10×+ fewer rows than the raw stream (measured:
# raw 3.09 s vs histogram 0.69 s at 10×) and at cluster volume it is
# the ONLY shape whose finisher input stays bounded. Missing stats →
# histogram (the safe cluster assumption).
HISTOGRAM_OVER_RAW_BYTES = 32 << 20


def histogram_pays(sf_dir: str, name: str) -> bool:
    """True iff table ``name`` is big enough that the percentile
    histogram's map-side reduction beats shipping raw (group, value)
    rows to the finisher — see :data:`HISTOGRAM_OVER_RAW_BYTES`."""
    try:
        size = _file_size(sf_dir, name)
    except OSError:
        return True
    return size >= HISTOGRAM_OVER_RAW_BYTES

# broadcast_when_counted: stop paying the count probe once the gate
# table's file alone is cluster-sized — the probe would be a real
# extra pass over a huge table, and the memory-safe fallback shape is
# the right plan there anyway. 4 GiB ≈ 64× the static broadcast cap.
COUNT_PROBE_CAP_BYTES = BROADCAST_CAP_BYTES * 64
# Row cap for a probe-approved broadcast build, derived from the
# driver's heap: the build is driver-serial and the built relation
# lives on the driver AND every executor, so the bound is a memory
# budget: ~500 k narrow rows per driver-GiB keeps the relation near 3%
# of the heap (4 M rows × ~64 B built ≈ 256 MB at the default 8 GiB
# driver, the measured anchor) and the serial build in the
# few-hundred-ms range (~0.5-0.8 s/M rows measured). Far below Spark's
# hard 512 M-row/8 GiB broadcast cap.
_COUNTED_ROWS_PER_DRIVER_GIB = 500_000
# Byte budget for the same relation: the row gate alone lets a
# wide-columned frame through (q5's build carries n_name). Estimated
# as count × schema width (fixed-width types exact, strings budgeted)
# against the same ~3%-of-driver-heap envelope as the row cap.
_COUNTED_BCAST_BYTES_PER_DRIVER_GIB = 32 << 20


def _driver_heap_gib(spark: SparkSession) -> float:
    """The live session's ``spark.driver.memory`` in GiB (Spark's own
    size parser and its 1g default)."""
    conf = spark.sparkContext._jsc.sc().conf()
    return conf.getSizeAsBytes("spark.driver.memory", "1g") / (1 << 30)


def _counted_broadcast_max_rows(spark: SparkSession) -> int:
    return max(
        100_000, int(_driver_heap_gib(spark) * _COUNTED_ROWS_PER_DRIVER_GIB)
    )


def _counted_broadcast_max_bytes(spark: SparkSession) -> int:
    return int(_driver_heap_gib(spark) * _COUNTED_BCAST_BYTES_PER_DRIVER_GIB)


_EST_FIELD_BYTES = {
    "long": 8, "double": 8, "integer": 4, "float": 4, "short": 2,
    "byte": 1, "boolean": 1, "date": 4, "timestamp": 8,
}


def _est_row_bytes(df: DataFrame) -> int:
    """Schema-derived per-row width estimate for a broadcast budget:
    fixed-width types exact, everything else (strings, arrays, …)
    budgeted at 24 B — deliberately rough; the gate it feeds already
    carries a 2-4× safety factor like maybe_broadcast's."""
    return sum(
        _EST_FIELD_BYTES.get(f.dataType.typeName(), 24)
        for f in df.schema.fields
    ) or 8


def broadcast_when_counted(
    df: DataFrame, sf_dir: str, name: str, max_rows: int | None = None
) -> DataFrame | None:
    """Runtime-statistics broadcast gate for a FILTERED build side in
    the band where static file stats say "too big": pay ONE
    column-pruned count job over ``df`` and return ``F.broadcast(df)``
    iff the actual row count fits, else ``None`` (caller keeps its
    memory-safe volume shape).

    Guide §3.1: the planner's size estimates are often badly wrong
    after filters — without CBO stats a selective date filter on a
    175 MB orders file still estimates ~file size × column ratio, so
    q4/q5-class queries sort-merge a 60 M-row fact against a build
    side that truly holds a few hundred thousand rows (measured at the
    100× sf10-equivalent: q4 2.19 s merge-semi vs 1.04 s + 0.12 s
    probe broadcast-inner; q5 4.74 s vs 1.37 s dim-chain). A measured
    count is ground truth the same way AQE's runtime stage sizes are;
    the probe is a real job inside the timed region on every
    execution — never cached across runs.

    ``max_rows`` defaults to the cap derived from the heap of ``df``'s
    live session (``spark.driver.memory``).

    The caller reaches this only when ``fits_broadcast`` already said
    no, so the regimes are:
    - file < ``COUNT_PROBE_CAP_BYTES`` (the band): run the probe;
      broadcast on a true count ≤ ``max_rows`` AND an estimated built
      size (count × schema row width) within the driver byte budget
      (the row gate alone would admit wide-columned frames).
    - file ≥ ``COUNT_PROBE_CAP_BYTES`` (cluster scale): skip the probe
      — scanning a cluster-sized table just to ask is itself the cost
      the fallback shape avoids, and at that volume the filtered side
      almost never fits the driver. Return ``None``.
    """
    try:
        size = _file_size(sf_dir, name)
    except OSError:
        return None
    if size >= COUNT_PROBE_CAP_BYTES:
        return None
    spark = df.sparkSession
    if max_rows is None:
        max_rows = _counted_broadcast_max_rows(spark)
    # A plain count: fully parallel, column-pruned (Catalyst prunes to
    # the filter columns), one row per task over the wire. A LIMIT-ed
    # count would funnel up to max_rows per partition through a
    # single-partition exchange — strictly worse here.
    n = df.count()
    byte_budget = _counted_broadcast_max_bytes(spark)
    if n > max_rows or n * _est_row_bytes(df) > byte_budget:
        return None
    from pyspark.sql import functions as F

    return F.broadcast(df)


def gather_sort(df: DataFrame, *cols) -> DataFrame:
    """Totally-ordered final sort for a DIM-BOUNDED result (an
    aggregation output whose row count is bounded by key cardinality,
    not data volume): coalesce to one partition and sort locally.

    ``orderBy`` plans a range-partitioning Exchange whose bounds come
    from a SEPARATE sampling job — two driver round-trips to sort a few
    hundred rows (~60-100 ms per query at test scale, and at cluster
    scale still a full extra stage). A single-partition local sort is
    the gather-merge every engine uses for small ordered results; the
    coalesce is narrow (no shuffle). Only apply when the input is
    provably small — for volume-sized outputs keep ``orderBy`` so the
    sort distributes."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (declarative scan → Catalyst
    gets column pruning + predicate pushdown into the file scan).

    The ``events`` table has shipped with two physical types for ``ts``
    across sandbox generations: parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader surfaces as raw ``bigint`` nanos under the legacy
    conf) and native TIMESTAMP(MICROS) (which Spark 4 infers as
    TIMESTAMP_NTZ when isAdjustedToUTC=false).  Branch on the dtype
    actually loaded: ``bigint`` → integer-divide nanos to microseconds
    (the same truncation DuckDB applies); ``timestamp_ntz`` → cast to
    TIMESTAMP, value-preserving under the engine's fixed UTC session
    timezone and required because downstream consumers (``unix_micros``,
    streaming watermarks) reject NTZ; ``timestamp`` → use as-is.  Every
    branch lands on the same TIMESTAMP µs values DuckDB surfaces.
    """
    key = (_session_key(spark), os.path.abspath(sf_dir), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # NTZ→TIMESTAMP reinterprets the wall-clock value in the
            # session timezone; that is value-preserving ONLY under UTC
            # (engine.get_spark pins it). A caller-built non-UTC session
            # would silently shift every event timestamp — fail loudly.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
                raise ValueError(
                    f"events.ts is TIMESTAMP_NTZ and the session timezone "
                    f"is {tz!r}; the NTZ→TIMESTAMP cast is only "
                    "value-preserving under UTC. Use engine.get_spark() "
                    "or set spark.sql.session.timeZone=UTC."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    part_key = _TABLE_KEYS.get(name)
    if part_key is not None:
        from ..operators.util import fan_out

        # Fan out once, AT THE SCAN, for the CPU-bound corpora only
        # (see _TABLE_KEYS): every downstream fan_out on the same key
        # then no-ops. Relational tables return the raw scan — joins
        # insert exactly the exchanges they need, aggregations keep
        # their map-side partial agg before the first shuffle, and at
        # volume the parquet splits wide by itself (r21; measured
        # numbers at _TABLE_KEYS).
        df = fan_out(df, key=part_key, force_layout=True)
    _insert_cache_row(_TABLE_CACHE, key, df)
    return df
