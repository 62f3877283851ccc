#!/usr/bin/env python
"""Benchmark runner: headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1, "cpus": N, ...}

Each query is forced end-to-end with the `noop` sink (full computation,
no driver-side collect — the number measures the engine, not result
transfer). A warmup run of the flagship query absorbs one-time JVM/
codegen startup so per-query numbers reflect steady state.

Modes:
  (none)             the sf suite; REGRESSION lines on stderr
  --record-baseline  also write this run as BENCH_BASELINE_LOCAL.json
  --duck-local       also pair it with same-box DuckDB (BENCH_DUCK_LOCAL.json)
  --scale10x / --scale100x      the suite at a 10×/100× replication,
                                paired with DuckDB (BENCH_10X/100X.json)
  --scaling10x / --scaling100x  the same dirs at main and main/4 cores
                                (SCALING_10X/100X.json)
  --streaming        the stream operators' micro-batches (STREAM_BENCH.json)
"""

from __future__ import annotations

import json
import os
import socket
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_redis_olap_scanner_spark.engine import get_spark, local_cores  # noqa: E402
from duckdb_redis_olap_scanner_spark.plans.catalog import registry, table  # noqa: E402

_REPO = os.path.dirname(os.path.abspath(__file__))
_BASELINE = "BENCH_BASELINE_LOCAL.json"

# Sampling shape of main(): PASSES over the suite × consecutive REPS per
# query, best across all samples. Consecutive reps of one query run
# against a warm codegen cache (round-robin over the suite overflows the
# bounded generated-class cache, and every sample pays recompilation —
# measured ~2× inflation), while bursty neighbour noise can poison all
# consecutive samples of one query; separate passes give the min
# independent time windows. The scale, scaling and streaming loops take
# one sample per pass.
_MAIN_PASSES, _MAIN_REPS = 3, 2
_PASSES = 2


def resolve_baseline(
    repo_root: str, sf: float | None = None, cpus: int | None = None
) -> dict | None:
    """The record ``regression_report`` compares against:
    ``BENCH_BASELINE_LOCAL.json`` when it holds per-query times and its
    ``sf`` and ``cpus`` match the run's (``None`` skips that gate).
    Times from another scale factor or core count are not comparable,
    so a mismatch gives no baseline rather than a wrong one."""
    try:
        with open(os.path.join(repo_root, _BASELINE)) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    if not isinstance(rec, dict) or not rec.get("queries"):
        return None
    if sf is not None and rec.get("sf") != sf:
        return None
    if cpus is not None and rec.get("cpus") != cpus:
        return None
    return rec


def regression_report(
    timings: dict[str, float],
    repo_root: str,
    tolerance: float = 1.5,
    sf: float | None = None,
    cpus: int | None = None,
) -> list[str]:
    """Per-query guard against silent slowdowns: every query of this
    run slower than ``tolerance`` × its time in the local baseline
    (``resolve_baseline``) plus an absolute slack. The tolerance is
    generous because neighbour noise inflates a single run by ±25%."""
    prev = resolve_baseline(repo_root, sf=sf, cpus=cpus)
    if not prev:
        return []
    # Absolute slack on top of the ratio: host scheduling jitter is
    # additive (~0.1 s observed on back-to-back identical runs), so a
    # pure ratio guard flaps on sub-0.25 s queries where 1.5× is under
    # the jitter amplitude, while staying negligible for the queries a
    # real regression would actually hurt.
    slack = 0.15
    out = []
    for name, t in sorted(timings.items()):
        p = prev["queries"].get(name)
        if not p:
            continue
        if t > tolerance * p + slack:
            out.append(
                f"{name}: {t:.3f}s vs {p:.3f}s baseline ({t / p:.2f}x > {tolerance}x)"
            )
    return out


def _force(df) -> None:
    """Materialize every row/column of the plan without collecting."""
    df.write.format("noop").mode("overwrite").save()


def _time_suite(
    spark, entries, names, data_dir, tables, passes: int, reps: int = 1
) -> dict[str, float]:
    """Warm up, then time each query ``passes`` × ``reps`` times and
    keep its best. The warmup counts the base tables without
    ``.cache()``: every timed run computes from the parquet inputs, so
    it measures the engine and not Spark's in-memory columnar cache."""
    for t in tables:
        table(spark, data_dir, t).count()
    _force(entries["q1_pricing_summary"].fn(spark, data_dir))
    best: dict[str, float] = {n: float("inf") for n in names}
    for _ in range(passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench: {name}")
            for _ in range(reps):
                t0 = time.perf_counter()
                _force(entries[name].fn(spark, data_dir))
                best[name] = min(best[name], time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    return {name: round(v, 3) for name, v in best.items()}


def _duck_pairing(
    entries, timings: dict[str, float], data_dir: str, tables, cpus: int,
    reps: int,
) -> dict:
    """Same-box DuckDB on each query's oracle SQL over the same parquet,
    ``cpus`` threads, warm best-of-``reps``, and the Spark/DuckDB ratio
    per query and in total."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={cpus}")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
        )
    duck: dict[str, float] = {}
    for name in timings:
        sql = entries[name].oracle
        if not sql:
            continue
        tbest = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            tbest = min(tbest, time.perf_counter() - t0)
        duck[name] = round(tbest, 3)
    duck_total = round(sum(duck.values()), 3)
    return {
        "duck": duck,
        "duck_total": duck_total,
        "ratios": {n: round(timings[n] / d, 2) for n, d in duck.items() if d},
        "ratio_total": round(sum(timings.values()) / duck_total, 3)
        if duck_total
        else None,
    }


def _group_task_count(spark, group: str) -> int:
    """Executed task count for every job submitted under ``group``
    (statusTracker sums stage numTasks across the group's jobs) — the
    per-query parallelism evidence the scaling analysis needs: a query
    whose executed task count is ~1 cannot speed up with more cores,
    whatever its plan looks like."""
    tracker = spark.sparkContext.statusTracker()
    total = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                total += sinfo.numTasks
    return total


def _task_counts(spark, entries, bench_names, sf_dir) -> dict[str, int]:
    """One forced run per query under a dedicated job group, OUTSIDE
    the timed region, to record how many tasks each query actually
    executes. Single-row-group scans are 1 task at any core count, so
    without the counts a flat core-scaling ratio could not be told
    apart from a harness that ignores $SPARK_GRAFT_CPUS."""
    out: dict[str, int] = {}
    for name in bench_names:
        group = f"tasks:{name}"
        spark.sparkContext.setJobGroup(group, f"task-count probe: {name}")
        _force(entries[name].fn(spark, sf_dir))
        spark.sparkContext.setJobGroup(None, None)
        out[name] = _group_task_count(spark, group)
    return out


def _sf_of(sf_dir: str) -> float:
    """The scale factor a data dir's name gives (``.../sf0.1`` → 0.1)."""
    return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")


def _write_json(name: str, payload: dict) -> None:
    with open(os.path.join(_REPO, name), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")


_10X_OFF = 1_000_000_000  # id offset per replica — far above any sf0.1 key

_ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")
# The TPC-H relational subset: enough for every q* bench query. The
# 100× dir replicates ONLY these — naively replicating documents 100×
# would give every doc 99 near-duplicates (candidate pairs grow
# quadratically in cluster size: a synthetic-replication artifact, not
# a realistic corpus profile), and the pipeline/text/ann operators
# already prove their crossover at the 10× dir (BENCH_10X.json).
_RELATIONAL_TABLES = ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem")


def build_scale10x_dir(
    src: str, dst: str, factor: int = 10,
    tables: tuple[str, ...] = _ALL_TABLES,
) -> None:
    """Materialize an sf1-equivalent dir: every sf0.1 table replicated
    ``factor``× with FK-consistent id offsets and per-replica value
    variation (replica-suffixed document text, perturbed embeddings,
    offset users) so dedup/similarity work profiles stay realistic
    instead of collapsing to all-duplicates. Deterministic; built once
    and reused (marker file) — delete the dir to force a rebuild."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=16")
    plain = {"region", "nation"}
    select_sql = {
        "customer": f"c_custkey + r*{_10X_OFF} AS c_custkey, c_name, "
        "c_nationkey, c_acctbal, c_mktsegment",
        "supplier": f"s_suppkey + r*{_10X_OFF} AS s_suppkey, s_name, "
        "s_nationkey, s_acctbal",
        "part": f"p_partkey + r*{_10X_OFF} AS p_partkey, p_name, p_brand, "
        "p_type, p_size, p_retailprice",
        "orders": f"o_orderkey + r*{_10X_OFF} AS o_orderkey, "
        f"o_custkey + r*{_10X_OFF} AS o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority",
        "lineitem": f"l_orderkey + r*{_10X_OFF} AS l_orderkey, "
        f"l_partkey + r*{_10X_OFF} AS l_partkey, "
        f"l_suppkey + r*{_10X_OFF} AS l_suppkey, l_linenumber, "
        "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
        "l_linestatus, l_shipdate",
        "events": f"event_id + r*{_10X_OFF} AS event_id, ts, "
        f"user_id + r*{_10X_OFF} AS user_id, event_type, value, props",
        # Replica 0 keeps the original text byte-identical; replicas
        # 1..9 append a distinct token so cross-replica rows are
        # NEAR-duplicates (realistic minhash/segment work), not exact.
        "documents": f"doc_id + r*{_10X_OFF} AS doc_id, "
        "CASE WHEN r = 0 THEN text ELSE text || ' zrep' || r END AS text, "
        "lang, source, "
        "CASE WHEN r = 0 THEN n_chars "
        "ELSE n_chars + 5 + length(CAST(r AS VARCHAR)) END AS n_chars",
        "embeddings": f"vec_id + r*{_10X_OFF} AS vec_id, "
        "CASE WHEN r = 0 THEN embedding ELSE "
        "CAST(list_transform(embedding, x -> x + r * 0.0001) "
        "AS FLOAT[]) END AS embedding, label",
    }
    for t in tables:
        out = os.path.join(dst, f"{t}.parquet")
        src_pq = os.path.join(src, f"{t}.parquet")
        if t in plain:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src_pq}')) TO '{out}'"
            )
        else:
            con.execute(
                f"COPY (SELECT {select_sql[t]} "
                f"FROM read_parquet('{src_pq}') "
                f"CROSS JOIN range({factor}) t(r)) "
                f"TO '{out}'"
            )
    with open(os.path.join(dst, ".complete"), "w") as f:
        f.write("ok\n")


def _scale_setup(
    factor: int, entries
) -> tuple[str, tuple[str, ...], list[str], float]:
    """The ``factor``× dir (built on first use), the tables it holds,
    the bench queries over them and its scale factor. The 100× dir
    replicates only the relational tables, so at 100× only the TPC-H
    ``q*`` queries run."""
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    relational = factor >= 100
    if relational:
        dst = os.environ.get("SPARK_GRAFT_100X_DIR", "/tmp/spark_graft_sf10eq")
        tables = _RELATIONAL_TABLES
    else:
        dst = os.environ.get("SPARK_GRAFT_10X_DIR", "/tmp/spark_graft_sf1eq")
        tables = _ALL_TABLES
    if not os.path.exists(os.path.join(dst, ".complete")):
        print(f"building {factor}x dir {dst} from {src} ...", file=sys.stderr)
        build_scale10x_dir(src, dst, factor=factor, tables=tables)
    names = sorted(
        n for n, e in entries.items()
        if "bench" in e.tags and (n.startswith("q") or not relational)
    )
    return dst, tables, names, round(_sf_of(src) * factor, 6)


def scale_main(factor: int) -> None:
    """The headline queries at a ``factor``× replication of the sf dir
    (from sf0.1, 10× is sf1-equivalent and 100× sf10-equivalent over
    the TPC-H tables), Spark AND same-box DuckDB on the same oracle SQL
    over the same parquet, recorded as BENCH_10X.json / BENCH_100X.json.
    At 10× the pipeline/text/ann operators cross over; the TPC-H
    queries are still mostly dispatch-bound there, and 100× shows where
    each of their plans crosses over."""
    entries = registry()
    dst, tables, names, sf = _scale_setup(factor, entries)
    spark = get_spark(app_name=f"bench{factor}x")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = local_cores()
    timings = _time_suite(spark, entries, names, dst, tables, _PASSES)
    spark.stop()

    payload = {
        "metric": "headline_queries_total_sec_10x"
        if factor == 10
        else f"tpch_queries_total_sec_{factor}x",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        **_duck_pairing(entries, timings, dst, tables, cpus, reps=2),
        "notes": (
            f"sf{sf:g}-equivalent dir: the sf dir's "
            f"{'relational tables' if factor >= 100 else 'tables'} "
            f"replicated {factor}x with FK-consistent id offsets "
            "(bench.py build_scale10x_dir). duck = same oracle SQL, "
            f"{cpus} threads, warm best-of-2, same parquet."
        ),
    }
    _write_json(f"BENCH_{factor}X.json", payload)
    print(json.dumps(payload))


def scaling_main(factor: int) -> None:
    """Core-scaling evidence at the 10×/100× dirs. At sf0.1 every table
    is a single-row-group parquet file, so scans are 1 task at any core
    count and a core-scaling ratio there is ~1 by construction. At 10×
    the scans split and core count becomes observable for the
    CPU-bound operators; at 100× (TPC-H subset, multi-second queries)
    it separates for the relational plans too. This mode runs the suite
    at $SPARK_GRAFT_CPUS (default: the usable CPUs) and at a quarter of
    that, one Spark session each built by the same ``get_spark``, and
    records SCALING_10X.json / SCALING_100X.json with per-query ratios
    and executed task counts."""
    entries = registry()
    dst, tables, names, sf = _scale_setup(factor, entries)
    cpus_main = local_cores()
    cpus_low = max(1, cpus_main // 4)

    saved_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    results: dict[int, dict] = {}
    try:
        # Low first: the main-core session then runs on the warmer page
        # cache — any cache bias makes the scaling ratio SMALLER, the
        # conservative direction for a claim that more cores help.
        for cpus in (cpus_low, cpus_main):
            # get_spark derives master=local[N] and every width/AQE
            # formula from this env var — no hard-coded master anywhere.
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
            spark = get_spark(app_name=f"scaling{factor}x-{cpus}")
            spark.sparkContext.setLogLevel("ERROR")
            best = _time_suite(spark, entries, names, dst, tables, _PASSES)
            results[cpus] = {
                "queries": best,
                "total": round(sum(best.values()), 3),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                ),
                "tasks": _task_counts(spark, entries, names, dst),
            }
            spark.stop()
    finally:
        if saved_cpus is None:
            os.environ.pop("SPARK_GRAFT_CPUS", None)
        else:
            os.environ["SPARK_GRAFT_CPUS"] = saved_cpus

    main_q = results[cpus_main]["queries"]
    low_q = results[cpus_low]["queries"]
    payload = {
        "metric": f"scaling_{factor}x_low_over_main",
        "cpus_main": cpus_main,
        "cpus_low": cpus_low,
        "main": results[cpus_main],
        "low": results[cpus_low],
        "ratios": {
            n: round(low_q[n] / main_q[n], 2) for n in names if main_q.get(n)
        },
        "ratio_total": round(
            results[cpus_low]["total"] / results[cpus_main]["total"], 3
        ),
        "sf": sf,
        "unit": "sec",
        "notes": (
            f"Core-scaling evidence at the {factor}x dir, where "
            "parallelism is observable (at sf0.1 every table is a "
            "single-row-group file, so scans are 1 task at any core "
            "count). cpus_low = cpus_main // 4. ratios = low-core sec / "
            "main-core sec per query, min over passes, noop sink, "
            "warmup per session; the low-core session runs FIRST so "
            "page-cache bias, if any, shrinks the ratio (conservative). "
            "tasks = executed task counts per query per session "
            "(statusTracker)."
        ),
    }
    _write_json(f"SCALING_{factor}X.json", payload)
    print(json.dumps(payload))


def streaming_main() -> None:
    """Timed surface for the STREAMING operators.

    The registry's stream_* entries run the same transformations in
    batch mode (that is what the DuckDB oracle can check); this mode
    times the real micro-batch executions — file stream source over
    the sf dir's events parquet (a fixed, deterministic row budget),
    availableNow trigger, memory sink, fresh checkpoint per run — so
    optimization claims about streaming_ops.py/streaming/events.py are
    falsifiable. Records STREAM_BENCH.json (min over passes; each
    sample is one complete stream run including source listing, state
    store setup and sink commit). Not part of the headline line
    main() prints."""
    import shutil
    import tempfile

    from duckdb_redis_olap_scanner_spark.streaming import events as SE

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)
    cpus = local_cores()
    spark = get_spark(app_name="bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    OPS = {
        "stream_tumbling_window": (SE.tumbling_window_counts, "complete"),
        "stream_sliding_window": (SE.sliding_window_counts, "complete"),
        "stream_session_window": (SE.session_window_stats, "complete"),
        "stream_stream_join": (SE.clicks_purchases_join, "append"),
        "stream_dedup_watermark": (
            SE.dedup_events_within_watermark, "append"),
        "stream_running_user_state": (SE.running_user_state, "update"),
        "stream_rolling_anomaly": (SE.rolling_anomaly_stream, "append"),
        "stream_type_histogram": (SE.running_type_histogram, "update"),
    }
    n_rows = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).count()

    best: dict[str, float] = {n: float("inf") for n in OPS}
    rows_out: dict[str, int] = {}
    run_id = 0
    # warmup: one full stream run (JIT, codegen, state-store classes)
    src = SE.read_events_stream(spark, sf_dir)
    SE.run_stream_to_memory(
        SE.tumbling_window_counts(src), "s_warmup"
    ).count()
    for _ in range(_PASSES):
        for name, (fn, mode) in OPS.items():
            run_id += 1
            qname = f"sbench_{run_id}"
            ckpt = tempfile.mkdtemp(prefix=f"sbench-ckpt-{run_id}-")
            spark.sparkContext.setJobDescription(f"stream-bench: {name}")
            try:
                df = fn(SE.read_events_stream(spark, sf_dir))
                t0 = time.perf_counter()
                out = SE.run_stream_to_memory(
                    df, qname, output_mode=mode, checkpoint_dir=ckpt
                )
                rows_out[name] = out.count()
                best[name] = min(best[name], time.perf_counter() - t0)
            finally:
                spark.catalog.dropTempView(qname)
                shutil.rmtree(ckpt, ignore_errors=True)
    spark.sparkContext.setJobDescription(None)
    timings = {n: round(v, 3) for n, v in best.items()}
    payload = {
        "metric": "streaming_ops_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "rows_out": rows_out,
        "input_rows": n_rows,
        "sf": sf,
        "cpus": cpus,
        "notes": (
            "Real micro-batch executions: file stream source over the "
            "sf dir's events parquet (fixed deterministic row budget), "
            "availableNow trigger, memory sink, fresh checkpoint per "
            "run; min over passes, each sample a complete stream run "
            "(source listing + state store + sink commit included). "
            "rows_out sanity-pins each op's emitted row count."
        ),
    }
    _write_json("STREAM_BENCH.json", payload)
    print(json.dumps(payload))
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = local_cores()
    host = socket.gethostname()

    entries = registry()
    bench_names = sorted(n for n, e in entries.items() if "bench" in e.tags)
    timings = _time_suite(
        spark, entries, bench_names, sf_dir, _ALL_TABLES,
        _MAIN_PASSES, _MAIN_REPS,
    )
    total = round(sum(timings.values()), 3)

    # Per-query executed task counts and the session's parallelism,
    # recorded OUTSIDE the timed region, so the payload shows whether
    # more cores CAN help at this SF (a 1-task scan is core-count-
    # invariant by construction).
    task_counts = _task_counts(spark, entries, bench_names, sf_dir)

    # Regression guard on stderr — stdout stays the one JSON line.
    for msg in regression_report(timings, _REPO, sf=sf, cpus=cpus):
        print(f"REGRESSION {msg}", file=sys.stderr)

    if "--duck-local" in sys.argv:
        # Same-box DuckDB pairing at THIS sf, warm best-of-3 to mirror
        # the Spark min-of-N shape. stdout stays the one JSON line.
        _write_json("BENCH_DUCK_LOCAL.json", {
            "metric": "headline_spark_vs_duckdb_local_sec",
            "sf": sf,
            "cpus": cpus,
            "host": host,
            "spark": timings,
            "spark_total": total,
            **_duck_pairing(entries, timings, sf_dir, _ALL_TABLES, cpus, reps=3),
            "notes": (
                "Same-box pairing: Spark min over passes x reps "
                "(see main), DuckDB the identical oracle SQL on "
                "the same parquet views, warm best-of-3, "
                f"{cpus} threads. Written by bench.py --duck-local."
            ),
        })

    if "--record-baseline" in sys.argv:
        # This run becomes the record the guard compares later runs
        # with, at the same sf and core count.
        _write_json(_BASELINE, {
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "cpus": cpus,
            "host": host,
            "notes": "min-of-N baseline for the regression guard",
        })

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                ),
                "tasks": task_counts,
                "notes": (
                    "Best of passes x reps per query, noop sink; the "
                    "warmup caches no table, so every timed run "
                    "computes from parquet. tasks = executed task "
                    "count per query (one forced run outside the "
                    "timed region, statusTracker). At sf0.1 every "
                    "table is a single-row-group parquet file (scans "
                    "= 1 task at ANY core count), so core scaling is "
                    "observable only at the 10x dir (bench.py "
                    "--scaling10x, SCALING_10X.json)."
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if "--streaming" in sys.argv:
        streaming_main()
    elif "--scale100x" in sys.argv:
        scale_main(100)
    elif "--scaling100x" in sys.argv:
        scaling_main(100)
    elif "--scaling10x" in sys.argv:
        scaling_main(10)
    elif "--scale10x" in sys.argv:
        scale_main(10)
    else:
        main()
