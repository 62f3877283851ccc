"""Physical-plan quality gates: the properties that decide whether a
query that passes at sf0.01 still works at 100 TB.

Each test asserts on the formatted explain output:

* filter pushdown  — predicates reach the parquet scan (PushedFilters),
* column pruning   — ReadSchema carries only referenced columns,
* broadcast joins  — schema-bounded dims never shuffle the fact side,
* top-k            — ORDER BY+LIMIT plans as TakeOrderedAndProject
                     (no global sort),
* codegen          — hot relational paths run inside WholeStageCodegen
                     with no Python row UDFs (BatchEvalPython).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from duckdb_redis_olap_scanner_spark.plans.catalog import registry

from .conftest import SF_DIR

ENTRIES = registry()


def plan_of(spark, name: str) -> str:
    # raw_fn, not the memoized fn: once ANY earlier test has executed
    # the memoized DataFrame, AQE finalizes its plan and
    # explain("formatted") renders the adaptive final plan (different
    # exchange-line counts) — the reverse-file-order r16 sweep caught
    # test_window_plans_single_shuffle flipping on exactly this. A
    # fresh unexecuted frame always shows the submitted plan.
    e = ENTRIES[name]
    df = (e.raw_fn or e.fn)(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters:" in plan
    # All four predicates' columns are pushdown-eligible.
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    # Column pruning: the scan must not read wide columns it doesn't
    # need. r21 (raw-scan loads): l_orderkey is no longer forced into
    # the scan by a load-time repartition either.
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_partkey", "l_comment", "l_orderkey"):
        assert col not in read


def test_q1_pruned_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # Referenced columns (+ the load-time partition key) only — not
    # the full 16-column lineitem schema.
    for col in ("l_returnflag", "l_linestatus", "l_quantity"):
        assert col in read
    for col in ("l_partkey", "l_suppkey", "l_comment"):
        assert col not in read


def test_q5_broadcasts_dims(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    # The bounded dims arrive via BroadcastExchange, and at least the
    # region/nation/supplier side never produces a fact-sized shuffle.
    assert plan.count("BroadcastExchange") >= 3


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan  # would imply sort-then-limit


def test_hot_paths_have_no_python_row_udfs(spark):
    """Relational + dedup + similarity entries must stay JVM-side:
    no row-at-a-time Python eval in any plan (Arrow mapInPandas for the
    multimodal stub and the redis UDF surface are the sanctioned
    exceptions and live in other entries)."""
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "dedup_minhash_lsh",
        "pipeline_incremental_dedup",
        "pipeline_incremental_minhash",
        "ann_cosine_topk",
        "text_token_stats",
        "text_fingerprints",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_q1_codegen_and_partial_agg(spark):
    """After execution (AQE finalizes stages lazily), the q1 plan must
    show whole-stage codegen spans ('*(n)') and a map-side partial
    aggregation before the shuffle — the two properties that keep a
    100 TB aggregation scan-bound instead of shuffle-bound."""
    df = ENTRIES["q1_pricing_summary"].fn(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final
    assert "partial_sum" in final or "partial_count" in final


def test_window_plans_single_shuffle(spark):
    """A partitioned window function shuffles exactly once on its
    partition key (r21 raw-scan loads: no load-time layout exchange
    precedes it)."""
    plan = plan_of(spark, "window_running_sum")
    window_shuffles = [
        ln
        for ln in plan.splitlines()
        if "Arguments: hashpartitioning(o_custkey" in ln
    ]
    assert len(window_shuffles) == 1, plan


def test_q19_disjunction_splits_to_both_scans(spark):
    """The OR'd brand/size/quantity bands must split into single-side
    conjuncts pushed into EACH parquet scan (the classic TPC-H Q19
    optimization) — a plan that evaluates the whole disjunction only
    after the join re-reads both tables in full at 100 TB."""
    plan = plan_of(spark, "q19_discounted_revenue")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    assert "l_quantity" in joined, joined  # lineitem-side residual pushed
    assert "p_brand" in joined or "p_size" in joined, joined  # part side


def test_q2_correlated_min_is_single_window_no_python(spark):
    """The correlated-MIN subquery must plan as ONE window over the
    partkey (no second aggregation-join re-scan of the part-supplier
    relation) and stay JVM-side."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    window_nodes = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and ln.strip().endswith(" Window")
    ]
    assert len(window_nodes) == 1, window_nodes
    assert "BatchEvalPython" not in plan


def test_q21_exists_shapes_are_semi_and_anti_joins(spark):
    """EXISTS → left semi, NOT EXISTS → left anti, both as hash joins
    on the order key (co-partitioned fact sides) — never a nested-loop
    or cartesian re-scan."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q18_single_lineitem_scan(spark):
    """The HAVING-subquery aggregate IS the output aggregate: lineitem
    must be scanned once, not re-joined for a second aggregation."""
    plan = plan_of(spark, "q18_large_orders")
    assert plan.count("lineitem.parquet") == 1, plan


def test_multimodal_frame_sample_no_fanout_shuffle(spark):
    """The frame fan-out happens inside the Arrow batch: the ONLY
    Exchange is the load-time keyed fan_out of the documents table
    (a no-op at real scale) — the per-frame explosion itself never
    shuffles and nothing follows the Python stage."""
    plan = plan_of(spark, "multimodal_frame_sample")
    assert "MapInPandas" in plan
    exchange_nodes = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and ln.strip().endswith(" Exchange")
    ]
    assert len(exchange_nodes) <= 1, exchange_nodes


def test_q7_q8_fact_never_shuffles_by_custkey(spark):
    """The filtered customer slice broadcasts into the fact pipeline —
    a regression here re-shuffles every surviving fact row by custkey
    (the widest possible exchange in both queries)."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        for ln in plan.splitlines():
            # Only planner-inserted join/agg shuffles count; the
            # load-time keyed fan_out (REPARTITION_BY_NUM) is input
            # layout, not query cost.
            if "hashpartitioning" in ln and "ENSURE_REQUIREMENTS" in ln:
                assert "o_custkey" not in ln and "c_custkey" not in ln, (
                    name,
                    ln,
                )


def test_q9_all_dims_broadcast(spark):
    """part/supplier/nation all broadcast; only the co-partitioned
    order-key join and the final aggregation move fact rows."""
    plan = plan_of(spark, "q9_product_type_profit")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_fact_rows_cross_at_most_one_exchange(spark):
    """r21 layout contract (raw scans — catalog._TABLE_KEYS no longer
    force-repartitions the relational tables): q3/q18 collapse lineitem
    to one row per order with a MAP-SIDE partial aggregation on the
    scan tasks, so full-width fact rows cross AT MOST ONE hash
    exchange — the aggregation's own l_orderkey shuffle, which the
    order-key join can then reuse. Join strategy is the planner's
    size-estimate call (broadcast at test scale, sort-merge at volume
    — parquet file size is the estimate's ground truth); never a
    cartesian fallback."""
    for name in ("q3_shipping_priority", "q18_large_orders"):
        plan = plan_of(spark, name)
        ensure = [ln for ln in plan.splitlines() if "ENSURE_REQUIREMENTS" in ln]
        li = [ln for ln in ensure if "l_orderkey" in ln]
        assert len(li) <= 1, (name, ensure)
        assert "CartesianProduct" not in plan


def test_cluster_survivors_anti_join_is_hint_free(spark):
    """The dedup anti join must stay a LeftAnti hash/merge join whose
    strategy is the PLANNER's size-based call, not a hard-coded
    broadcast: the loser set scales with the corpus's duplicate
    fraction, so a forced broadcast would driver-OOM at 100 TB while a
    forced shuffle over-pays at test scale. Pin (a) the anti-join shape,
    (b) no nested-loop/cartesian fallback, and (c) no ResolvedHint in
    the optimized plan (nobody re-adds a hard hint upstream)."""
    import inspect

    from duckdb_redis_olap_scanner_spark.plans import pipeline_ops2

    df = ENTRIES["dedup_cluster_survivors"].fn(spark, SF_DIR)
    plan = plan_of(spark, "dedup_cluster_survivors")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized
    src = inspect.getsource(pipeline_ops2.dedup_cluster_survivors)
    assert "broadcast(" not in src


def test_session_codegen_cache_fits_catalog(spark):
    """The generated-class cache must hold the whole catalog: at the
    default 100 entries, cycling through the 19-query bench suite
    (~5 codegen stages each) evicts and recompiles ~1 s of Java per
    revisited stage — measured as a 1.3 s/pass inflation of the sf0.1
    suite. get_spark pins it above the catalog's stage count."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 500


def test_gather_sort_is_total_order_single_partition(spark):
    """gather_sort must produce the same total order as orderBy while
    planning NO range exchange (no sampling job) — one partition,
    locally sorted."""
    from pyspark.sql import functions as F

    from duckdb_redis_olap_scanner_spark.plans.catalog import gather_sort

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    g = gather_sort(df, F.desc("k"), F.asc("v"))
    assert g.rdd.getNumPartitions() == 1
    expected = df.orderBy(F.desc("k"), F.asc("v")).collect()
    assert g.collect() == expected
    plan_g = g._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan_g.lower()


def test_round7_curation_plans_are_clean(spark):
    """The seven round-7 entries: no Python row UDFs anywhere, scans
    pruned to referenced columns, and the intended operator shapes
    (single agg for the histogram, Arrow map for the projection,
    join-free narrow map for the classifier)."""
    # Histogram: one aggregation, no join, pruned events scan. The
    # r10 user_id-keyed events layout adds its key column to the scan
    # (the one-time repartition into the cached layout needs it —
    # same trade as the relational keyed loads); every OTHER unused
    # column must still prune out.
    plan = plan_of(spark, "events_value_histogram")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "event_type" in read and "value" in read
    for col in ("props", "ts", "event_id"):
        assert col not in read
    assert "Join" not in plan and "BatchEvalPython" not in plan

    # Classifier: narrow map — no join, no Python, text+doc_id scan only.
    plan = plan_of(spark, "pipeline_quality_classifier")
    assert "Join" not in plan and "BatchEvalPython" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in read and "source" not in read

    # Random projection: the Arrow matmul map, no Python ROW udf, no
    # label column read.
    plan = plan_of(spark, "embedding_random_projection")
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "label" not in read

    # Segment dedup / bigram LM: shuffle-based, but zero Python and no
    # cartesian products.
    for name in ("pipeline_segment_dedup", "pipeline_bigram_lm"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    # Curriculum shards: the join back to per-doc rows must be a
    # broadcast (the distinct-margin table is bounded), never a
    # sort-merge shuffle of the corpus.
    plan = plan_of(spark, "pipeline_curriculum_shards")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_round7_window_plans_are_clean(spark):
    """The window-based round-7 entries: no joins where none belong,
    no Python, pruned scans."""
    # Token budget: one window over the natural source key, no join.
    plan = plan_of(spark, "pipeline_token_budget")
    assert "Join" not in plan and "BatchEvalPython" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in read and "n_chars" not in read

    # SCD2 intervals: one window + one agg on user_id — join-free,
    # and the scan must not read props/value.
    plan = plan_of(spark, "events_scd2_intervals")
    assert "Join" not in plan and "BatchEvalPython" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in read and "value" not in read

    # Equi-depth histogram: the only window runs over the DISTINCT
    # cents aggregate; no cartesian product, no sort-merge join.
    plan = plan_of(spark, "events_equidepth_histogram")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan

    # Heavy hitters: rank window partitioned on source after the agg;
    # join-free.
    plan = plan_of(spark, "text_top_terms_per_source")
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_coverage_counts_script_matches_registry():
    """scripts/coverage_counts.py is the COVERAGE.md source of truth
    (the r11 hand-count drift fix): it must run, emit valid JSON, and
    agree with the live registry."""
    import json
    import os
    import subprocess
    import sys

    from duckdb_redis_olap_scanner_spark.plans.catalog import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "coverage_counts.py")],
        capture_output=True, text=True, timeout=120, check=True,
    )
    d = json.loads(out.stdout)
    reg = registry()
    assert d["entries_total"] == len(reg)
    assert d["entries_oracle_checked"] == sum(
        1 for e in reg.values() if e.oracle is not None
    )
    assert d["entries_total"] == (
        d["entries_oracle_checked"] + d["entries_rows_only"]
    )


def test_registry_is_declaration_order(monkeypatch, tmp_path):
    """registry() lists entries in declaration order: plan modules in
    ``catalog._PLAN_MODULES`` order, source order within each. The
    order needs no subprocess (git or otherwise) and does not depend
    on the working directory."""
    import ast
    import json
    import os
    import subprocess
    import sys

    from duckdb_redis_olap_scanner_spark.plans import catalog as C

    def no_subprocess(*args, **kwargs):
        raise OSError("registry() must not spawn processes")

    with monkeypatch.context() as m:
        m.setattr(subprocess, "run", no_subprocess)
        got = list(C.registry())

    declared = []
    plans_dir = os.path.dirname(os.path.abspath(C.__file__))
    for mod in C._PLAN_MODULES:
        with open(os.path.join(plans_dir, f"{mod}.py")) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef):
                continue
            for dec in node.decorator_list:
                if isinstance(dec, ast.Call) and getattr(
                    dec.func, "id", ""
                ) == "register":
                    declared.append(dec.args[0].value)
    assert got == declared

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json, subprocess, sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "def no_subprocess(*args, **kwargs):\n"
        "    raise OSError('registry() must not spawn processes')\n"
        "subprocess.run = no_subprocess\n"
        "from duckdb_redis_olap_scanner_spark.plans.catalog import "
        "registry\n"
        "print(json.dumps(list(registry())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=str(tmp_path), timeout=120, check=True,
    )
    assert json.loads(out.stdout) == got


def test_q10_aggregates_by_custkey_before_names(spark):
    """q10 has one shape: the revenue aggregation is keyed on o_custkey
    ALONE, and the name columns attach after it, so c_name/n_name never
    ride the re-keying exchange. Its top-20 rows at sf0.01 equal those
    of the shape it replaced (aggregating on the name columns after the
    joins)."""
    from pyspark.sql import functions as F

    from duckdb_redis_olap_scanner_spark.plans.catalog import table
    from duckdb_redis_olap_scanner_spark.plans.relational import _cents

    from .conftest import SF_DIR_ORACLE as sf

    df = ENTRIES["q10_returned_items"].raw_fn(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "keys=[o_custkey" in plan, "agg must precede the names"
    assert "keys=[c_custkey" not in plan, "no aggregation on name columns"

    l = table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    cents = _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    names_last = (
        l.join(table(spark, sf, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(table(spark, sf, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(table(spark, sf, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )
    got = [tuple(r) for r in df.collect()]
    assert len(got) == 20
    assert got == [tuple(r) for r in names_last.collect()]


def test_preaggregated_order_joins_merge_above_gate(spark):
    """q3/q10/q18 orders-side join strategy: at the fixture SF the
    planner broadcasts the pruned orders projection into the
    pre-aggregated per-order side (no SortMergeJoin), and the entries
    return rows."""
    for name in (
        "q3_shipping_priority",
        "q10_returned_items",
        "q18_large_orders",
    ):
        df = ENTRIES[name].raw_fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, (name, "test scale broadcasts")
        assert df.collect(), name


def test_edit_distance_plan_prunes_unused_hash_set(spark):
    """``minhash_signatures`` always aggregates the shingle-hash set
    (``sh_arr``); ``edit_distance_dedup`` never reads it, and Catalyst
    must prune its ``collect_set`` out of the executed aggregate. The
    Jaccard entry, which reads the set, keeps it — so the string check
    cannot pass vacuously."""
    df = ENTRIES["dedup_edit_distance"].raw_fn(spark, SF_DIR)
    df.collect()
    assert "collect_set" not in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_set" in plan_of(spark, "dedup_minhash_lsh")


@pytest.mark.parametrize(
    "name", ["pipeline_full_curation", "pipeline_curation_v2"]
)
def test_entry_action_leaves_cache_empty(spark, name):
    """A frame persisted inside an entry and never released stays
    pinned in the session's cache until eviction. After the entry's
    action the JVM cache manager must be as empty as before it."""
    spark.catalog.clearCache()
    ENTRIES[name].raw_fn(spark, SF_DIR).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
