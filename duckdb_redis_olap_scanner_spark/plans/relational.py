"""Relational capability catalog (SURVEY.md §2.B).

The reference delegates its entire relational surface to host DuckDB —
the capability bar is that every operator family works over our engine
with hash-identical results vs a DuckDB oracle.  Entries here cover:
scans/projection/filter, every join type (inner/left/right/full/semi/
anti/theta/cross), aggregation (group/distinct/rollup/cube/grouping
sets/having/stats), window functions (row_number/rank/lag/lead/running
/moving/ntile/first-last), sort/limit/top-k, set ops, scalar function
families (string/regexp/math/date/JSON/case/null/cast/array), subqueries,
pivot, and sessionization.

Float determinism: aggregates over double columns are quantized to
integer cents first — ``FLOOR(col * 100)`` is bit-identical IEEE math
in Spark and DuckDB, and BIGINT sums are exact, so hashes match no
matter the partial-aggregation order.  Single-row double arithmetic
(min/max, lag-diff, element access) is exact and left unquantized.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import (
    broadcast_when_counted,
    fits_broadcast,
    gather_sort,
    maybe_broadcast,
    register,
    table,
)

# ---------------------------------------------------------------------------
# helpers — deterministic money math (see module docstring)
# ---------------------------------------------------------------------------


def _cents(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(100)).cast("long")


_SQL_CENTS = "CAST(FLOOR({expr} * 100) AS BIGINT)"


def sql_cents(expr: str) -> str:
    return _SQL_CENTS.format(expr=expr)


def sql_sum_cents(expr: str) -> str:
    """DuckDB SUM over integers returns HUGEINT (which pandas renders as
    float64); cast back to BIGINT so both engines emit int64."""
    return f"CAST(SUM({sql_cents(expr)}) AS BIGINT)"


def exact_group_percentiles(
    df,
    group: str,
    value: Column,
    specs: list[tuple[str, str, int, int]],
    pre_aggregate: bool = True,
):
    """Exact per-group percentiles over integer values, computed from a
    ``(group, value) → count`` histogram instead of Spark's
    ``Percentile`` aggregate.

    ``Percentile`` buffers every input row into a boxed
    ``OpenHashMap[AnyRef, Long]`` per partial and merges those maps —
    measured 3.5 s for three percentiles over lineitem at sf0.1 where
    the codegen'd histogram aggregate plus this finisher runs in
    ~0.8 s (guide §1.2 step 2 / §4.2: hand whole batches to vectorized
    native code). The histogram is also the right 100 TB shape: its
    row count is bounded by the VALUE SPACE per group (≤ ~11 M distinct
    cents for TPC-H money), not by data volume, so the per-group
    finisher input stays bounded while ``Percentile``'s per-partial
    maps grow with row count.

    ``specs``: ``(out_name, kind, p_num, p_den)`` per requested
    percentile with ``kind`` in ``{"disc", "cont"}`` and the fraction
    ``p = p_num/p_den`` exact in integers.

    * ``disc`` (SQL-standard PERCENTILE_DISC): the value at the
      smallest 1-based rank ``r`` with ``r/n >= p`` — computed as
      ``r = ceil(p_num*n/p_den)`` in exact integer arithmetic, so the
      boundary case (``p*n`` integral) can never flip on a floating
      rounding. Matches DuckDB on boundary probes (n = 4, 599 990,
      600 572) where floor((n-1)p) indexing differs. Emitted as BIGINT.
    * ``cont`` (PERCENTILE_CONT / quantile_cont): ``pos = p*(n-1)`` in
      double, bracketing values at 0-based ranks floor(pos)/ceil(pos),
      interpolated as ``v_lo*(hi-pos) + v_hi*(pos-lo)`` — bitwise the
      two-product form Spark's ``Percentile`` and DuckDB's
      ``quantile_cont`` share (verified bitwise against DuckDB on the
      bench data at all three SFs; the naive ``lo + (hi-lo)*frac``
      form differs in the last ulp on sf0.1 flag N p95). Emitted as
      DOUBLE.

    Null VALUES are dropped before counting (both engines' percentile
    semantics); group values must be non-null (the finisher's
    dictionary codes don't model a null group — both call sites group
    by a NOT NULL column). One shuffle builds the histogram, one narrow exchange
    gathers each group's histogram into a single task, and one Arrow
    stage does the lexsort + cumsum + rank lookups in numpy — no
    WindowExec pass (two window functions over the same 490 k-row
    histogram measured ~1.1 s on their own) and no JVM row sort.

    ``pre_aggregate=False`` (r22, volume-gated by callers via
    ``catalog.histogram_pays``): skip the histogram aggregation and
    ship raw ``(group, value, cnt=1)`` rows to the finisher — a
    degenerate histogram, so the finisher code and every emitted value
    are IDENTICAL (duplicate values sort adjacent; the cumsum/rank
    arithmetic never assumed distinct rows). At sf0.1 the lineitem
    cents are ~99% distinct, so the 594 k-group hash aggregation saves
    ~1% of exchange rows while costing 0.56 s (measured: 1.24 →
    0.80 s); at the 10× dir and above, value repetition makes the
    histogram 10×+ smaller than the raw stream (raw 3.09 s vs 0.69 s
    measured at 10×) and it stays the only value-space-bounded shape
    at cluster volume — so the histogram remains the default and the
    raw form is strictly a small-input dispatch-floor optimization.
    """
    gtype = df.schema[group].dataType.simpleString()
    base = df.select(F.col(group), value.alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    if pre_aggregate:
        hist = (
            base.groupBy(group, "_v")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            # Every row of one group into one task (no JVM sort: the
            # finisher lexsorts its few hundred thousand rows in numpy
            # in ~30 ms where UnsafeExternalSorter measured ~0.25 s).
            # 100 TB note above: histogram rows are value-space-bounded.
            .repartition(F.col(group))
        )
    else:
        hist = base.select(
            group, "_v", F.lit(1).cast("long").alias("_cnt")
        ).repartition(F.col(group))
    out_schema = f"{group} {gtype}, " + ", ".join(
        f"{name} " + ("double" if kind == "cont" else "bigint")
        for name, kind, _, _ in specs
    )
    spec_rows = tuple(specs)

    def finish(batches):
        import math

        import numpy as np
        import pyarrow as pa

        import pyarrow.compute as pc

        bufs = list(batches)
        if not bufs or sum(b.num_rows for b in bufs) == 0:
            return
        tbl = pa.Table.from_batches(bufs)
        # Group codes via dictionary encoding (no per-row Python
        # objects), then one vectorized lexsort orders (group, value).
        gcol = pc.dictionary_encode(tbl.column(group).combine_chunks())
        codes = gcol.indices.to_numpy(zero_copy_only=False)
        gvals = gcol.dictionary
        v = tbl.column("_v").to_numpy(zero_copy_only=False)
        c = tbl.column("_cnt").to_numpy(zero_copy_only=False)
        order = np.lexsort((v, codes))
        codes, v, c = codes[order], v[order], c[order]
        change = np.nonzero(codes[1:] != codes[:-1])[0] + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(codes)]))
        out: dict[str, list] = {group: []}
        for name, _, _, _ in spec_rows:
            out[name] = []
        for s, e in zip(starts, ends):
            cum = np.cumsum(c[s:e])
            n = int(cum[-1])
            vv = v[s:e]
            out[group].append(gvals[int(codes[s])].as_py())
            for name, kind, pn, pd_ in spec_rows:
                if kind == "disc":
                    r = (pn * n + pd_ - 1) // pd_
                    out[name].append(
                        int(vv[int(np.searchsorted(cum, r, side="left"))])
                    )
                else:
                    pos = (pn / pd_) * (n - 1)
                    lo = math.floor(pos)
                    hi = math.ceil(pos)
                    vlo = int(vv[int(np.searchsorted(cum, lo + 1, side="left"))])
                    if lo == hi:
                        out[name].append(float(vlo))
                    else:
                        vhi = int(
                            vv[int(np.searchsorted(cum, hi + 1, side="left"))]
                        )
                        out[name].append(vlo * (hi - pos) + vhi * (pos - lo))
        arrays = [pa.array(out[group], type=tbl.schema.field(group).type)]
        for name, kind, _, _ in spec_rows:
            arrays.append(
                pa.array(
                    out[name],
                    type=pa.float64() if kind == "cont" else pa.int64(),
                )
            )
        yield pa.RecordBatch.from_arrays(
            arrays, [group] + [name for name, _, _, _ in spec_rows]
        )

    return hist.mapInArrow(finish, out_schema)


# ---------------------------------------------------------------------------
# TPC-H-style analytical queries
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_cents('l_quantity')} AS sum_qty_cents,
           {sql_sum_cents('l_extendedprice')} AS sum_base_price_cents,
           {sql_sum_cents('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price_cents,
           {sql_sum_cents('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge_cents,
           SUM({sql_cents('l_quantity')}) / (100.0 * COUNT(*)) AS avg_qty,
           SUM({sql_cents('l_extendedprice')}) / (100.0 * COUNT(*)) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("bench", "agg"),
    doc="TPC-H Q1 pricing summary: filter → hash agg with map-side combine.",
)
def q1_pricing_summary(spark: SparkSession, sf: str):
    li = table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-01 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc * (F.lit(1.0) + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_cents("l_quantity")).alias("sum_qty_cents"),
        F.sum(_cents("l_extendedprice")).alias("sum_base_price_cents"),
        F.sum(_cents(disc)).alias("sum_disc_price_cents"),
        F.sum(_cents(charge)).alias("sum_charge_cents"),
        (F.sum(_cents("l_quantity")) / (F.lit(100.0) * F.count(F.lit(1)))).alias(
            "avg_qty"
        ),
        (
            F.sum(_cents("l_extendedprice")) / (F.lit(100.0) * F.count(F.lit(1)))
        ).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o.o_orderkey,
           {sql_sum_cents('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue_cents,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue_cents DESC, o.o_orderkey
    LIMIT 10
    """,
    tags=("bench", "join", "topk"),
    doc="TPC-H Q3: 3-way join + agg + deterministic top-k (unique tiebreak).",
)
def q3_shipping_priority(spark: SparkSession, sf: str):
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    l = table(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # Band branch (r22, measured at the 100× sf10-equivalent): the
    # pre-agg-first shape below aggregates EVERY order with a late
    # line (13.2 M groups from 31.9 M rows at 100×) and only then
    # drops non-BUILDING customers — ~80% of that aggregation is
    # thrown away (DuckDB joins first, which is why its q3 ran 8× our
    # time). When orders is above the static broadcast cap, build the
    # QUALIFIED order set (date window × BUILDING customers — one
    # broadcast dim join, ~1.4 M narrow rows at 100×) and let the
    # runtime count probe decide whether it broadcasts into lineitem:
    # group AFTER the join, so the aggregation sees only qualifying
    # lines (~3 M rows, 1.4 M groups). 3.37 → 2.53 s min-of-5
    # including the probe job, rows identical. Grouping by
    # (o_orderkey, o_orderdate) is exact: o_orderkey is unique, the
    # date functionally dependent, and per-row floored cents re-sum
    # exactly in any order. At cluster volume the probe is skipped /
    # says no and the memory-safe pre-agg + merge shape below stays.
    if not fits_broadcast(sf, "orders"):
        qual = (
            o.select("o_orderkey", "o_orderdate", "o_custkey")
            .join(
                maybe_broadcast(c.select("c_custkey"), sf, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", "o_orderdate")
        )
        qual_b = broadcast_when_counted(qual, sf, "orders")
        if qual_b is not None:
            return (
                l.join(qual_b, l.l_orderkey == F.col("o_orderkey"))
                .groupBy("o_orderkey", "o_orderdate")
                .agg(F.sum(_cents(disc)).alias("revenue_cents"))
                .select(
                    "o_orderkey",
                    "revenue_cents",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias(
                        "orderdate"
                    ),
                )
                .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
                .limit(10)
            )
    # Pre-aggregate lineitem revenue per order before joining: the final
    # group key IS the order key, so the map-side partial agg collapses
    # lineitem on the scan tasks and the join ships one row per order
    # instead of one per lineitem (per-row floored cents re-sum exactly).
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(_cents(disc)).alias("revenue_cents")
    )
    return (
        per_order.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "o_orderkey",
            "revenue_cents",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {sql_sum_cents('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue_cents
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("bench", "join"),
    doc="TPC-H Q5: 6-way join; region/nation/supplier broadcast (dims are "
    "schema-bounded or SF-small — the 100 TB plan keeps lineitem shuffle-free "
    "on the dim side).",
)
def q5_local_supplier_volume(spark: SparkSession, sf: str):
    r = table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf, "nation")
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = table(spark, sf, "lineitem")
    s = table(spark, sf, "supplier")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # Band branch (r21, measured at the 100× sf10-equivalent): above
    # the static broadcast cap the planner sort-merges l⋈o — a full
    # exchange + sort of BOTH fact streams (60 M lineitem rows) — yet
    # the true build side after the date window (29%) and the ASIA
    # region cut (1/5) is well under a million rows. When customer is
    # still statically broadcastable, fold region→nation→customer into
    # a broadcast dim chain, stream orders against it (no orders
    # exchange), and let the runtime count probe decide whether the
    # resulting (orderkey → nation) frame broadcasts into lineitem:
    # 4.74 s → 1.37 s min-of-5 interleaved, result-identical. At
    # cluster volume the probe is skipped / says no and the planner
    # shape below stays (memory-safe sort-merge).
    if not fits_broadcast(sf, "orders") and fits_broadcast(sf, "customer"):
        c_asia = (
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .select("c_custkey", "c_nationkey", "n_name")
        )
        build = (
            o.select("o_orderkey", "o_custkey")
            .join(
                maybe_broadcast(c_asia, sf, "customer"),
                F.col("o_custkey") == c_asia.c_custkey,
            )
            .select("o_orderkey", "c_nationkey", "n_name")
        )
        build_b = broadcast_when_counted(build, sf, "orders")
        if build_b is not None:
            return (
                l.join(build_b, l.l_orderkey == F.col("o_orderkey"))
                .join(
                    maybe_broadcast(s, sf, "supplier"),
                    (l.l_suppkey == s.s_suppkey)
                    & (s.s_nationkey == F.col("c_nationkey")),
                )
                .groupBy("n_name")
                .agg(F.sum(_cents(disc)).alias("revenue_cents"))
            )
    # l⋈o strategy is the planner's size-estimate call (r21 — the
    # merge hint dated from the cached keyed-layout era): the estimate
    # scales with the parquet file size times the pruned-column ratio,
    # so the filtered orders side broadcasts at test scale (no sorts,
    # no fact exchange) and flips to sort-merge at volume where the
    # estimate clears the 10 MB threshold by orders of magnitude.
    # customer/supplier scale with SF, so they take the cost-based
    # maybe_broadcast keyed on real file size, not a hard hint.
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(s, sf, "supplier"), l.l_suppkey == s.s_suppkey)
        .join(
            maybe_broadcast(c, sf, "customer"),
            (o.o_custkey == c.c_custkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_cents(disc)).alias("revenue_cents"))
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_sum_cents('l_extendedprice * l_discount')} AS revenue_cents,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24.0
    """,
    tags=("bench", "filter"),
    doc="TPC-H Q6: pure filter + scalar agg — pushdown showcase (all four "
    "predicates reach the parquet scan).",
)
def q6_forecast_revenue(spark: SparkSession, sf: str):
    li = table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_sum_cents('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue_cents
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_cents DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("bench", "join", "topk"),
    doc="TPC-H Q10: returned-item revenue ranking.",
)
def q10_returned_items(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    l = table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf, "nation")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # Partial-agg pushdown: collapse lineitem to one row per returned
    # order BEFORE any join.  Cents are floored per ROW, so the
    # per-order subtotals re-sum to the exact same BIGINT as a flat
    # aggregation; the orderkey exchange carries ~4:1 fewer rows and
    # the serial portion of the scan task hashes a single LONG key
    # (r21 re-audit: grouping directly by (custkey, name, nation)
    # after broadcast probes — one exchange fewer — measured SLOWER,
    # 0.55 vs 0.47 s interleaved at sf0.1: string-keyed partial
    # aggregation on the scan task outweighs the saved exchange).
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(_cents(disc)).alias("order_rev_cents")
    )
    # Aggregate BY CUSTKEY on narrow (custkey, cents) rows BEFORE
    # attaching names: c_name/n_name strings never ride the shuffle,
    # and the customer join probes one row per customer instead of one
    # per returned order.  The re-keying exchange runs at the session
    # width.  Measured at sf0.1 on 4 cores against grouping on the name
    # columns after the joins: 0.53-0.62 s vs 0.64-0.69 s (three
    # sessions).
    per_cust = (
        per_order.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "order_rev_cents")
        .groupBy("o_custkey")
        .agg(F.sum("order_rev_cents").alias("revenue_cents"))
    )
    return (
        per_cust.join(
            maybe_broadcast(c, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# join family
# ---------------------------------------------------------------------------


@register(
    "join_inner_groupby",
    oracle=f"""
    SELECT c.c_nationkey,
           COUNT(*) AS order_cnt,
           {sql_sum_cents('o.o_totalprice')} AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    tags=("join",),
    doc="Inner equi-join + agg; fact-side shuffle on join key only.",
)
def join_inner_groupby(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(_cents("o_totalprice")).alias("total_cents"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_cnt
    FROM customer c LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
    GROUP BY c.c_custkey
    """,
    tags=("join",),
    doc="Left outer join preserving customers with zero qualifying orders.",
)
def join_left_outer(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_totalprice > 400000.0),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_cnt
    FROM orders o RIGHT JOIN customer c
      ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey
    """,
    tags=("join",),
    doc="Right outer join (mirror of left; exercises Spark's right-join path).",
)
def join_right_outer(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    return (
        o.join(
            c,
            (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "F"),
            "right",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "join_full_outer",
    oracle=f"""
    WITH big_spenders AS (
        SELECT o_custkey AS k, {sql_sum_cents('o_totalprice')} AS spend_cents
        FROM orders WHERE o_totalprice > 450000.0 GROUP BY o_custkey
    ),
    low_balance AS (
        SELECT c_custkey AS k, {sql_cents('c_acctbal')} AS acctbal_cents
        FROM customer WHERE c_acctbal < 0.0
    )
    SELECT COALESCE(a.k, b.k) AS custkey, a.spend_cents, b.acctbal_cents
    FROM big_spenders a FULL OUTER JOIN low_balance b ON a.k = b.k
    """,
    tags=("join",),
    doc="Full outer join with non-overlapping key sets on both sides.",
)
def join_full_outer(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    a = (
        o.filter(F.col("o_totalprice") > 450000.0)
        .groupBy(F.col("o_custkey").alias("ka"))
        .agg(F.sum(_cents("o_totalprice")).alias("spend_cents"))
    )
    b = c.filter(F.col("c_acctbal") < 0.0).select(
        F.col("c_custkey").alias("kb"), _cents("c_acctbal").alias("acctbal_cents")
    )
    return a.join(b, a.ka == b.kb, "full_outer").select(
        F.coalesce("ka", "kb").alias("custkey"), "spend_cents", "acctbal_cents"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    tags=("join",),
    doc="Left semi join (EXISTS): customers with at least one 'P' order.",
)
def join_semi(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000.0)
    """,
    tags=("join",),
    doc="Left anti join (NOT EXISTS): customers with no large order.",
)
def join_anti(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_theta",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_higher_nations
    FROM supplier s JOIN nation n ON s.s_nationkey < n.n_nationkey
    GROUP BY s.s_suppkey
    """,
    tags=("join",),
    doc="Theta (non-equi) join — planned as broadcast nested loop over the "
    "25-row nation side.",
)
def join_theta(spark: SparkSession, sf: str):
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey < n.n_nationkey)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_higher_nations"))
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
    tags=("join",),
    doc="Cross join of the two schema-bounded dims (5 x 25).",
)
def join_cross(spark: SparkSession, sf: str):
    r = table(spark, sf, "region")
    n = table(spark, sf, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# ---------------------------------------------------------------------------
# aggregation family
# ---------------------------------------------------------------------------


@register(
    "agg_distinct_count",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
    doc="Multi-distinct aggregation (expand-based plan in Spark).",
)
def agg_distinct_count(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    tags=("agg",),
    doc="DISTINCT projection.",
)
def distinct_rows(spark: SparkSession, sf: str):
    return table(spark, sf, "customer").select("c_nationkey", "c_mktsegment").distinct()


@register(
    "agg_rollup",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_customers,
           {sql_sum_cents('c.c_acctbal')} AS acctbal_cents
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("agg",),
    doc="ROLLUP hierarchy totals (region → nation → grand total).",
)
def agg_rollup(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_cents("c_acctbal")).alias("acctbal_cents"),
        )
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {sql_sum_cents('l_quantity')} AS qty_cents
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
    doc="CUBE over two low-cardinality dimensions.",
)
def agg_cube(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_cents("l_quantity")).alias("qty_cents"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg",),
    doc="Explicit GROUPING SETS (via Spark SQL).",
)
def agg_grouping_sets(spark: SparkSession, sf: str):
    table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           {sql_sum_cents('o_totalprice')} AS spend_cents
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    tags=("agg",),
    doc="GROUP BY ... HAVING (post-aggregation filter).",
)
def agg_having(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("spend_cents"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           MIN(l_shipdate) AS first_ship_ts,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / (100.0 * COUNT(*)) AS mean_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
    doc="min/max/mean stats (min/max of doubles and timestamps are exact).",
)
def agg_stats(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.min("l_shipdate").alias("first_ship_ts"),
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(_cents("l_quantity")).cast("double")
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("mean_qty"),
        )
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS parts_est_ok,
           TRUE AS orders_est_ok
    FROM lineitem
    """,
    tags=("agg", "approx"),
    doc="approx_count_distinct (HLL++) made driver-verifiable: sketch "
    "estimates are engine-specific, so the cross-engine contract is the "
    "EXACT count plus a boolean pinning the estimate within ±15% of it "
    "(default rsd=0.05; the sketch is deterministic for a fixed dataset, "
    "so the boolean is stable). The oracle's TRUE literals make a drifted "
    "estimate a hash MISMATCH, not an invisible rows-only pass.",
)
def agg_approx_distinct(spark: SparkSession, sf: str):
    # One agg per distinct column (r21): two exact distincts on
    # DIFFERENT columns in one aggregate make Spark plan an Expand
    # (every row replicated per distinct group, then a double-pass
    # aggregation) — per-column aggs keep each scan pruned to one
    # column with no row expansion, and the two 1-row results
    # cross-join for free (1.01→0.87 s interleaved at sf0.1).
    l = table(spark, sf, "lineitem")
    parts = l.agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("ap"),
    )
    orders = l.agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey").alias("ao"),
    )
    est = parts.crossJoin(orders)
    tol = 0.15
    return est.select(
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("ap") - F.col("exact_parts"))
            <= F.lit(tol) * F.col("exact_parts")
        ).alias("parts_est_ok"),
        (
            F.abs(F.col("ao") - F.col("exact_orders"))
            <= F.lit(tol) * F.col("exact_orders")
        ).alias("orders_est_ok"),
    )


@register(
    "agg_approx_percentile",
    oracle=f"""
    SELECT l_returnflag,
           quantile_cont({sql_cents('l_extendedprice')}, 0.5) AS exact_p50_cents,
           quantile_cont({sql_cents('l_extendedprice')}, 0.95) AS exact_p95_cents,
           TRUE AS p50_est_ok,
           TRUE AS p95_est_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
    doc="percentile_approx (GK sketch) per returnflag, made "
    "driver-verifiable: quantile sketches differ across engines, so the "
    "cross-engine contract is the EXACT continuous percentile over "
    "integer cents (bitwise-equal across engines, as in "
    "agg_median_cents) plus a boolean pinning the approx estimate "
    "within ±5% of it. A drifted sketch flips the boolean → hash "
    "mismatch in the driver gate.",
)
def agg_approx_percentile(spark: SparkSession, sf: str):
    # The exact p50/p95 come from the histogram finisher (bitwise the
    # Percentile/quantile_cont interpolation — see
    # exact_group_percentiles; Spark's Percentile aggregate alone
    # measured 1.46 s here vs ~0.8 s for the histogram path). The GK
    # sketch still runs over the raw rows (its estimate IS part of the
    # declared result); un-fanned, because the sketch's map-side
    # partial on the scan task beats paying a 600 k-row round-robin
    # exchange first (0.51 vs 0.95 s measured at sf0.1 — and at volume
    # the scan is already wide, so fan_out would no-op anyway). The
    # two subtrees are independent stages of one job and overlap.
    from .catalog import histogram_pays

    exact = exact_group_percentiles(
        table(spark, sf, "lineitem"),
        "l_returnflag",
        _cents("l_extendedprice"),
        [
            ("exact_p50_cents", "cont", 1, 2),
            ("exact_p95_cents", "cont", 19, 20),
        ],
        pre_aggregate=histogram_pays(sf, "lineitem"),
    )
    gk = (
        table(spark, sf, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5).alias("ap50"),
            F.percentile_approx("l_extendedprice", 0.95).alias("ap95"),
        )
    )
    est = exact.join(F.broadcast(gk), "l_returnflag")
    tol = 0.05
    return est.select(
        "l_returnflag",
        "exact_p50_cents",
        "exact_p95_cents",
        (
            F.abs(F.col("ap50") * 100 - F.col("exact_p50_cents"))
            <= F.lit(tol) * F.col("exact_p50_cents")
        ).alias("p50_est_ok"),
        (
            F.abs(F.col("ap95") * 100 - F.col("exact_p95_cents"))
            <= F.lit(tol) * F.col("exact_p95_cents")
        ).alias("p95_est_ok"),
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


@register(
    "window_row_number",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ) t WHERE rn <= 3
    """,
    tags=("window",),
    doc="row_number per partition with unique tiebreak; first-3 orders per customer.",
)
def window_row_number(spark: SparkSession, sf: str):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_rank_dense",
    oracle="""
    SELECT p_partkey, p_brand,
           RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS rnk,
           DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS drnk
    FROM part
    """,
    tags=("window",),
    doc="rank/dense_rank with ties (deterministic: equal values share rank).",
)
def window_rank_dense(spark: SparkSession, sf: str):
    w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    return table(spark, sf, "part").select(
        "p_partkey",
        "p_brand",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "window_lag_lead",
    oracle=f"""
    SELECT event_id, user_id,
           {sql_cents('value')}
             - LAG({sql_cents('value')}) OVER w AS delta_cents,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window",),
    doc="lag/lead over event streams (per-user time ordering).",
)
def window_lag_lead(spark: SparkSession, sf: str):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = _cents("value")
    return table(spark, sf, "events").select(
        "event_id",
        "user_id",
        (cents - F.lag(cents).over(w)).alias("delta_cents"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "window_running_sum",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(SUM({sql_cents('o_totalprice')}) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_spend_cents
    FROM orders
    """,
    tags=("window",),
    doc="Running total per customer (explicit ROWS frame, exact cents).",
)
def window_running_sum(spark: SparkSession, sf: str):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(_cents("o_totalprice")).over(w).alias("running_spend_cents"),
    )


@register(
    "window_moving_avg",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(SUM({sql_cents('value')}) OVER w AS DOUBLE)
             / (100.0 * COUNT(*) OVER w) AS moving_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
    doc="3-row moving average (exact-cents sum / count — engine-stable).",
)
def window_moving_avg(spark: SparkSession, sf: str):
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return table(spark, sf, "events").select(
        "event_id",
        "user_id",
        (
            F.sum(_cents("value")).over(w).cast("double")
            / (F.lit(100.0) * F.count(F.lit(1)).over(w))
        ).alias("moving_avg"),
    )


@register(
    "window_ntile_first_last",
    oracle="""
    SELECT c_custkey,
           NTILE(4) OVER w AS quartile,
           FIRST_VALUE(c_custkey) OVER w AS poorest_in_nation,
           LAST_VALUE(c_custkey) OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS richest_in_nation
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window",),
    doc="ntile/first_value/last_value with full frames.",
)
def window_ntile_first_last(spark: SparkSession, sf: str):
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return table(spark, sf, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_custkey").over(w).alias("poorest_in_nation"),
        F.last("c_custkey").over(w_full).alias("richest_in_nation"),
    )


# ---------------------------------------------------------------------------
# sort / limit / set ops
# ---------------------------------------------------------------------------


@register(
    "topk_orders",
    oracle=f"""
    SELECT o_orderkey, {sql_cents('o_totalprice')} AS totalprice_cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort",),
    doc="Top-k by price (Spark plans TakeOrderedAndProject — no full sort).",
)
def topk_orders(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "orders")
        .select("o_orderkey", _cents("o_totalprice").alias("totalprice_cents"))
        .orderBy(F.desc("totalprice_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "sort_multi_key",
    oracle=f"""
    SELECT c_custkey, c_nationkey, {sql_cents('c_acctbal')} AS acctbal_cents
    FROM customer
    ORDER BY c_nationkey ASC, c_acctbal DESC, c_custkey ASC
    LIMIT 25
    """,
    tags=("sort",),
    doc="Multi-key mixed-direction sort with limit.",
)
def sort_multi_key(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "customer")
        .orderBy(F.asc("c_nationkey"), F.desc("c_acctbal"), F.asc("c_custkey"))
        .select("c_custkey", "c_nationkey", _cents("c_acctbal").alias("acctbal_cents"))
        .limit(25)
    )


@register(
    "set_union_all",
    oracle="""
    SELECT c_custkey, 'building' AS seg FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, 'auto' AS seg FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
    tags=("setop",),
    doc="UNION ALL with a provenance marker column.",
)
def set_union_all(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("building").alias("seg")
    )
    b = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey", F.lit("auto").alias("seg")
    )
    return a.unionByName(b)


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop",),
    doc="INTERSECT (distinct): customers having both open and finished orders.",
)
def set_intersect(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    tags=("setop",),
    doc="EXCEPT (distinct): customers without any pending order.",
)
def set_except(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer").select("c_custkey")
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o)  # subtract == EXCEPT DISTINCT (exceptAll is the bag form)


# ---------------------------------------------------------------------------
# scalar function families
# ---------------------------------------------------------------------------


@register(
    "string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           SUBSTR(p_name, 1, 5) AS name_pfx,
           REPLACE(p_type, 'A', '_') AS type_repl,
           CONCAT(p_brand, '#', p_type) AS brand_type,
           LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
           TRIM('  x  ') AS trimmed,
           REVERSE(p_brand) AS brand_rev
    FROM part
    """,
    tags=("scalar",),
    doc="String function family: case/length/substr/replace/concat/pad/trim/reverse.",
)
def string_funcs(spark: SparkSession, sf: str):
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("_")).alias("type_repl"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
        F.reverse("p_brand").alias("brand_rev"),
    )


@register(
    "like_case_funcs",
    oracle="""
    SELECT p_partkey,
           (p_name LIKE '%red%') AS is_red,
           (p_name NOT LIKE 'small%') AS not_small,
           (p_type IN ('PROMO', 'STANDARD')) AS is_common_type,
           CASE WHEN p_size BETWEEN 10 AND 25 THEN 'mid'
                WHEN p_size < 10 THEN 'small'
                ELSE 'large' END AS size_class
    FROM part
    """,
    tags=("scalar",),
    doc="LIKE / NOT LIKE / IN / CASE WHEN / BETWEEN.",
)
def like_case_funcs(spark: SparkSession, sf: str):
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.col("p_name").like("%red%").alias("is_red"),
        (~F.col("p_name").like("small%")).alias("not_small"),
        F.col("p_type").isin("PROMO", "STANDARD").alias("is_common_type"),
        F.when((F.col("p_size") >= 10) & (F.col("p_size") <= 25), "mid")
        .when(F.col("p_size") < 10, "small")
        .otherwise("large")
        .alias("size_class"),
    )


@register(
    "regexp_funcs",
    oracle="""
    SELECT p_partkey,
           REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS first_word,
           REGEXP_REPLACE(p_name, '[aeiou]', '*', 'g') AS devoweled,
           REGEXP_MATCHES(p_name, 'w.dget') AS is_widget
    FROM part
    """,
    tags=("scalar",),
    doc="Regex extract/replace/match. DuckDB regexp_replace needs the 'g' "
    "flag to match Spark's replace-all semantics.",
)
def regexp_funcs(spark: SparkSession, sf: str):
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
        F.col("p_name").rlike("w.dget").alias("is_widget"),
    )


@register(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_quantity - 25.0) AS abs_dev,
           CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT) AS price_ceil_k,
           CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS price_floor_k,
           SQRT(l_quantity) AS qty_sqrt,
           ROUND(LN(l_extendedprice), 6) AS log_price,
           l_orderkey % 7 AS key_mod
    FROM lineitem WHERE l_orderkey < 500
    """,
    tags=("scalar",),
    doc="Math family. sqrt is IEEE-correctly-rounded (exact both engines); "
    "ln is rounded to 6 decimals (libm vs JVM last-ulp).",
)
def math_funcs(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem").filter(F.col("l_orderkey") < 500)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25.0).alias("abs_dev"),
        F.ceil(F.col("l_extendedprice") / 1000.0).cast("long").alias("price_ceil_k"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("long").alias("price_floor_k"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("log_price"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@register(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS order_day,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS order_quarter,
           strftime(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS order_month_start,
           CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
               AS days_since_epoch95,
           strftime(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders WHERE o_orderkey < 1000
    """,
    tags=("scalar",),
    doc="Date/time family: extract, trunc, diff, last_day.",
)
def date_funcs(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch95"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
    )


@register(
    "json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           (CAST(json_extract_string(props, '$.k') AS INT) % 10) AS k_bucket
    FROM events WHERE event_id < 200
    """,
    tags=("scalar",),
    doc="JSON scalar extraction over the events.props column.",
)
def json_funcs(spark: SparkSession, sf: str):
    e = table(spark, sf, "events").filter(F.col("event_id") < 200)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id",
        k.alias("k_val"),
        (k % 10).alias("k_bucket"),
    )


@register(
    "conditional_agg",
    oracle=f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN {sql_cents('value')} ELSE 0 END) AS BIGINT) AS purchase_cents,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("agg", "scalar"),
    doc="Conditional aggregation (CASE inside SUM/COUNT).",
)
def conditional_agg(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", _cents("value")).otherwise(0)
        ).alias("purchase_cents"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "null_funcs",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(o.o_orderstatus, 'NO_ORDERS') AS status_or_default,
           (o.o_orderkey IS NULL) AS has_no_big_order,
           NULLIF(c.c_mktsegment, 'BUILDING') AS seg_nullified
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, MIN(o_orderkey) AS o_orderkey,
               MIN(o_orderstatus) AS o_orderstatus
        FROM orders WHERE o_totalprice > 450000.0 GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    """,
    tags=("scalar",),
    doc="NULL handling: coalesce / IS NULL / nullif over outer-join nulls.",
)
def null_funcs(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer")
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 450000.0)
        .groupBy("o_custkey")
        .agg(
            F.min("o_orderkey").alias("o_orderkey"),
            F.min("o_orderstatus").alias("o_orderstatus"),
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("o_orderstatus", F.lit("NO_ORDERS")).alias("status_or_default"),
        F.col("o_orderkey").isNull().alias("has_no_big_order"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nullified"),
    )


@register(
    "cast_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip
    FROM orders WHERE o_orderkey < 1000
    """,
    tags=("scalar",),
    doc="Cast family (double→int via FLOOR: DuckDB rounds on cast, Spark "
    "truncates — FLOOR first makes both deterministic).",
)
def cast_funcs(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_orderkey").cast("string").cast("long").alias("key_roundtrip"),
    )


@register(
    "array_funcs",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           embedding[1] AS e_first,
           embedding[64] AS e_last
    FROM embeddings
    """,
    tags=("scalar", "array"),
    doc="Array basics over the embedding column (size + element access; "
    "float32 elements compare bitwise).",
)
def array_funcs(spark: SparkSession, sf: str):
    e = table(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("e_first"),
        F.element_at("embedding", 64).alias("e_last"),
    )


# ---------------------------------------------------------------------------
# subqueries / pivot / sessionization
# ---------------------------------------------------------------------------


@register(
    "subquery_in_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0.0)
      AND o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """,
    tags=("subquery",),
    doc="IN-subquery + uncorrelated scalar subquery (avg compare is a "
    "filter, not an output — double avg is safe as a predicate here because "
    "both engines see identical per-row compare except at ulp boundaries of "
    "the mean itself; the orders far from the mean dominate).",
)
def subquery_in_scalar(spark: SparkSession, sf: str):
    table(spark, sf, "orders").createOrReplaceTempView("orders")
    table(spark, sf, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0.0)
          AND o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@register(
    "pivot_event_types",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS "view"
    FROM events GROUP BY user_id
    """,
    tags=("agg", "pivot"),
    doc="Pivot event_type → columns (fixed value list so no discovery scan).",
)
def pivot_event_types(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT)
                         - CAST(FLOOR(EXTRACT(EPOCH FROM LAG(ts) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                         > 1800
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    )
    SELECT user_id, CAST(SUM(is_new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    tags=("window", "sessionize"),
    doc="Gaps-and-islands sessionization (30-min inactivity gap) — the "
    "classic streaming-adjacent pattern done in batch with windows.",
)
def events_sessionize(spark: SparkSession, sf: str):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf, "events")
    epoch = F.unix_timestamp("ts")
    prev_ts = F.lag("ts").over(w)
    prev_epoch = F.unix_timestamp(prev_ts)
    flagged = e.select(
        "user_id",
        F.when((epoch - prev_epoch > 1800) | prev_ts.isNull(), 1)
        .otherwise(0)
        .alias("is_new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("is_new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# bag set ops / lateral / map / struct / unpivot
# ---------------------------------------------------------------------------


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('O', 'F')
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop",),
    doc="EXCEPT ALL (bag semantics — multiplicities subtract, not vanish).",
)
def set_except_all(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus").isin("O", "F")).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b)


@register(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
    doc="INTERSECT ALL (bag semantics — min of multiplicities).",
)
def set_intersect_all(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders")
    a = o.filter(F.col("o_totalprice") > 200000.0).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersectAll(b)


@register(
    "lateral_posexplode",
    oracle="""
    WITH t AS (
        SELECT p_partkey, string_split(p_name, ' ') AS w
        FROM part WHERE p_partkey < 500
    ),
    e AS (
        SELECT p_partkey,
               unnest(list_transform(range(1, len(w) + 1),
                      i -> struct_pack(pos := i - 1, word := w[i]))) AS u
        FROM t
    )
    SELECT p_partkey, CAST(u.pos AS INT) AS pos, u.word AS word FROM e
    """,
    tags=("lateral",),
    doc="posexplode (LATERAL VIEW): one row per word of p_name with its "
    "position.",
)
def lateral_posexplode(spark: SparkSession, sf: str):
    p = table(spark, sf, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    )


@register(
    "map_funcs",
    oracle="""
    SELECT p_partkey,
           p_brand AS brand_from_map,
           p_type  AS type_from_map,
           2 AS n_keys,
           'missing' AS absent_key
    FROM part WHERE p_partkey < 300
    """,
    tags=("scalar", "map"),
    doc="MapType construction + element access + cardinality + safe "
    "missing-key access (oracle states expected values directly).",
)
def map_funcs(spark: SparkSession, sf: str):
    p = table(spark, sf, "part").filter(F.col("p_partkey") < 300)
    m = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type")),
        F.array(F.col("p_brand"), F.col("p_type")),
    )
    return p.select(
        "p_partkey",
        m["brand"].alias("brand_from_map"),
        m["type"].alias("type_from_map"),
        F.size(m).alias("n_keys"),
        F.coalesce(m["nope"], F.lit("missing")).alias("absent_key"),
    )


@register(
    "struct_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_field,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents_field,
           (o_orderstatus = 'O' AND o_totalprice > 100000.0) AS is_big_open
    FROM orders WHERE o_orderkey < 800
    """,
    tags=("scalar", "struct"),
    doc="Nested struct construction and field extraction, flattened back "
    "to scalars for the hash check.",
)
def struct_funcs(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders").filter(F.col("o_orderkey") < 800)
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        _cents("o_totalprice").alias("price_cents"),
    )
    return o.select(
        "o_orderkey",
        s["status"].alias("status_field"),
        s["price_cents"].alias("price_cents_field"),
        ((s["status"] == "O") & (s["price_cents"] > 10000000)).alias("is_big_open"),
    )


@register(
    "unpivot_measures",
    oracle=f"""
    SELECT p_partkey, 'size' AS measure, CAST(p_size AS BIGINT) AS val
    FROM part WHERE p_partkey < 400
    UNION ALL
    SELECT p_partkey, 'retail_cents' AS measure, {sql_cents('p_retailprice')} AS val
    FROM part WHERE p_partkey < 400
    """,
    tags=("unpivot",),
    doc="Unpivot (stack): wide measures to long (measure, value) rows.",
)
def unpivot_measures(spark: SparkSession, sf: str):
    p = table(spark, sf, "part").filter(F.col("p_partkey") < 400)
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS BIGINT), "
            "'retail_cents', CAST(FLOOR(p_retailprice * 100) AS BIGINT)) "
            "AS (measure, val)"
        ),
    )


# ---------------------------------------------------------------------------
# more window / date / agg families
# ---------------------------------------------------------------------------


@register(
    "window_percent_rank",
    oracle="""
    SELECT c_custkey,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           NTH_VALUE(c_custkey, 2) OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window",),
    doc="percent_rank / cume_dist / nth_value (rank ratios are int/int "
    "divisions of identical operands — engine-stable doubles).",
)
def window_percent_rank(spark: SparkSession, sf: str):
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return table(spark, sf, "customer").select(
        "c_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_poorest"),
    )


@register(
    "date_arith_funcs",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d')
               AS plus_30d,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d')
               AS plus_2mo,
           strftime(CAST(o_orderdate AS DATE) - INTERVAL 1 YEAR, '%Y-%m-%d')
               AS minus_1y,
           CAST(EXTRACT(DOW FROM o_orderdate) AS INT) AS dow,
           CAST(EXTRACT(WEEK FROM o_orderdate) AS INT) AS iso_week
    FROM orders WHERE o_orderkey < 600
    """,
    tags=("scalar", "date"),
    doc="Date arithmetic: interval add/sub, day-of-week, ISO week. "
    "(DuckDB DOW is 0=Sunday; Spark dayofweek is 1=Sunday → subtract 1.)",
)
def date_arith_funcs(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders").filter(F.col("o_orderkey") < 600)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.add_months(d, 2), "yyyy-MM-dd").alias("plus_2mo"),
        F.date_format(F.add_months(d, -12), "yyyy-MM-dd").alias("minus_1y"),
        (F.dayofweek(d) - 1).alias("dow"),
        F.weekofyear(d).alias("iso_week"),
    )


@register(
    "agg_string_listagg",
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
               AS segments,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer GROUP BY c_nationkey
    """,
    tags=("agg",),
    doc="Ordered string aggregation (listagg): deterministic via "
    "distinct + sort before join.",
)
def agg_string_listagg(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
    doc="GROUPING() marker columns distinguish real NULL groups from "
    "rollup subtotal rows.",
)
def agg_grouping_id(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "subquery_correlated",
    oracle="""
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE CAST(FLOOR(c_acctbal * 100) AS BIGINT)
          * (SELECT COUNT(*) FROM customer c2
             WHERE c2.c_nationkey = c.c_nationkey)
          > (SELECT CAST(SUM(CAST(FLOOR(c3.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
    """,
    tags=("subquery",),
    doc="Correlated scalar subqueries: customers above their nation's "
    "mean balance, expressed as an exact integer cross-multiplication "
    "(cents*count > sum_cents) so no double division is compared.",
)
def subquery_correlated(spark: SparkSession, sf: str):
    table(spark, sf, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM customer c
        WHERE CAST(FLOOR(c_acctbal * 100) AS BIGINT)
              * (SELECT COUNT(*) FROM customer c2
                 WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT SUM(CAST(FLOOR(c3.c_acctbal * 100) AS BIGINT))
                 FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
        """
    )


# ---------------------------------------------------------------------------
# UDAF / UDTF extension surface
# ---------------------------------------------------------------------------


@register(
    "udaf_second_max",
    oracle="""
    WITH cents AS (
        SELECT o_custkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    ranked AS (
        SELECT o_custkey, c,
               DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY c DESC) AS r
        FROM (SELECT DISTINCT o_custkey, c FROM cents)
    )
    SELECT g.o_custkey, r.c AS second_best_cents
    FROM (SELECT DISTINCT o_custkey FROM cents) g
    LEFT JOIN ranked r ON r.o_custkey = g.o_custkey AND r.r = 2
    """,
    tags=("udf", "agg"),
    doc="GROUPED_AGG pandas UDAF (second-largest distinct order value "
    "per customer) vs a dense_rank oracle — the custom-aggregate "
    "extension surface, deliberately demonstrating the Python-UDAF "
    "hop. For production scale the same semantics stay pure-JVM: "
    "max_by over rows below the per-group max, or the dense_rank=2 "
    "window the oracle itself uses — reach for GROUPED_AGG only when "
    "no built-in aggregate composition expresses the state.",
)
def udaf_second_max(spark: SparkSession, sf: str):
    from ..functions.custom_fns import second_max_cents

    return (
        table(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(second_max_cents(F.col("o_totalprice")).alias("second_best_cents"))
    )


@register(
    "udtf_word_expand",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' ')))
                   AS word
        FROM documents WHERE doc_id < 40
    )
    SELECT doc_id, word, CAST(LENGTH(word) AS INT) AS wlen
    FROM t WHERE LENGTH(word) > 5
    """,
    tags=("udf", "lateral"),
    doc="Python UDTF via SQL LATERAL (distinct long words per doc) — the "
    "table-function extension surface, mirroring the reference's "
    "redis_scan registration mechanism.",
)
def udtf_word_expand(spark: SparkSession, sf: str):
    from ..functions.custom_fns import register_custom_functions

    register_custom_functions(spark)
    table(spark, sf, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.word, t.wlen
        FROM documents d, LATERAL word_expand(d.text) t
        WHERE d.doc_id < 40
        """
    )


# ---------------------------------------------------------------------------
# array set ops / range frames / bitwise / median / more strings
# ---------------------------------------------------------------------------


@register(
    "array_set_ops",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             string_split(p_name, ' ') AS words,
             string_split(lower(p_type), ' ') AS twords
      FROM part WHERE p_partkey < 300
    )
    SELECT p_partkey,
           COALESCE(array_to_string(list_sort(list_distinct(list_cat(words, twords))), ','), '')
               AS union_csv,
           COALESCE(array_to_string(list_sort(list_intersect(words, twords)), ','), '')
               AS intersect_csv,
           COALESCE(array_to_string(list_sort(list_filter(list_distinct(words),
                                                 w -> NOT list_contains(twords, w))), ','), '')
               AS except_csv,
           list_contains(words, 'red') AS has_red
    FROM t
    """,
    tags=("scalar", "array"),
    doc="Array set algebra (union/intersect/except/contains) over word "
    "arrays, serialized sorted for the hash check.",
)
def array_set_ops(spark: SparkSession, sf: str):
    p = table(spark, sf, "part").filter(F.col("p_partkey") < 300)
    t = p.select(
        "p_partkey",
        F.split(F.col("p_name"), " ").alias("words"),
        F.split(F.lower(F.col("p_type")), " ").alias("twords"),
    )
    return t.select(
        "p_partkey",
        F.array_join(
            F.array_sort(F.array_distinct(F.concat(F.col("words"), F.col("twords")))),
            ",",
        ).alias("union_csv"),
        F.array_join(
            F.array_sort(F.array_intersect("words", "twords")), ","
        ).alias("intersect_csv"),
        F.array_join(F.array_sort(F.array_except("words", "twords")), ",").alias(
            "except_csv"
        ),
        F.array_contains("words", "red").alias("has_red"),
    )


@register(
    "window_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey
               ORDER BY {sql_cents('o_totalprice')}
               RANGE BETWEEN 1000000 PRECEDING AND 1000000 FOLLOWING
           ) AS BIGINT) AS n_within_10k
    FROM orders
    """,
    tags=("window",),
    doc="RANGE frame on integer cents: peers within ±$10,000 of each "
    "order's price (value-based frame, not row-based).",
)
def window_range_frame(spark: SparkSession, sf: str):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(_cents("o_totalprice"))
        .rangeBetween(-1_000_000, 1_000_000)
    )
    return table(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_within_10k"),
    )


@register(
    "agg_bitwise",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(l_linenumber) AS BIGINT) AS all_and,
           CAST(bit_or(l_linenumber) AS BIGINT) AS all_or,
           CAST(bit_xor(l_orderkey % 4096) AS BIGINT) AS keys_xor
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
    doc="Bitwise aggregates (and/or/xor) — order-independent, exact.",
)
def agg_bitwise(spark: SparkSession, sf: str):
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bit_and("l_linenumber").cast("long").alias("all_and"),
            F.bit_or("l_linenumber").cast("long").alias("all_or"),
            F.bit_xor(F.col("l_orderkey") % 4096).cast("long").alias("keys_xor"),
        )
    )


@register(
    "agg_median_cents",
    oracle=f"""
    SELECT c_nationkey,
           quantile_cont({sql_cents('c_acctbal')}, 0.5) AS median_cents,
           quantile_cont({sql_cents('c_acctbal')}, 0.9) AS p90_cents
    FROM customer GROUP BY c_nationkey
    """,
    tags=("agg",),
    doc="Exact continuous median/p90 over integer cents — both engines "
    "use the p*(n-1) linear-interpolation formula on identical sorted "
    "integers, so the doubles agree bitwise.",
)
def agg_median_cents(spark: SparkSession, sf: str):
    cents = _cents("c_acctbal")
    return (
        table(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.percentile(cents, F.lit(0.5)).alias("median_cents"),
            F.percentile(cents, F.lit(0.9)).alias("p90_cents"),
        )
    )


@register(
    "string_funcs2",
    oracle="""
    SELECT p_partkey,
           split_part(p_type, ' ', 1) AS type_head,
           translate(p_brand, '#', '-') AS brand_dash,
           left(p_name, 4) AS name_left,
           right(p_name, 3) AS name_right,
           repeat('ab', 3) AS repeated,
           CAST(strpos(p_name, 'a') AS INT) AS first_a,
           md5(p_name) AS name_md5
    FROM part WHERE p_partkey < 300
    """,
    tags=("scalar",),
    doc="Second string family: split_part/translate/left/right/repeat/"
    "strpos/md5.",
)
def string_funcs2(spark: SparkSession, sf: str):
    p = table(spark, sf, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey",
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.translate(F.col("p_brand"), "#", "-").alias("brand_dash"),
        F.substring("p_name", 1, 4).alias("name_left"),
        F.substr(F.col("p_name"), F.length("p_name") - 2, F.lit(3)).alias(
            "name_right"
        ),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.md5("p_name").alias("name_md5"),
    )


# ---------------------------------------------------------------------------
# additional TPC-H-style benchmark queries
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("bench", "join", "subquery"),
    doc="TPC-H Q4 shape (order-priority checking) adapted to the "
    "synthetic schema (no commit/receipt dates): an order counts when "
    "any line shipped >60 days after the order date. Correlated EXISTS "
    "with a cross-table inequality — planned as a left semi join.",
)
def q4_order_priority(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    # Volume branch (r21, measured both scales). When orders fits the
    # broadcast budget, flip the EXISTS to an inner join against the
    # BROADCAST filtered orders + distinct on the unique o_orderkey —
    # equivalent because o_orderkey is unique, so "any qualifying
    # line" ≡ "appears at least once in the inner join". The semi join
    # forces both sides through exchange+sort (lineitem is the big
    # side and can't be the semi's build side without a plan Spark
    # won't pick); the broadcast-inner shape scans lineitem in place
    # and only shuffles the surviving (orderkey, priority) pairs.
    # Interleaved min/med of 6: sf0.1 0.18/0.20 s vs 0.31/0.33 s
    # merge-semi; 10× 0.54/0.65 vs 0.64/0.79. Above the budget the
    # band probe below gets one more say; past that the memory-safe
    # merge semi is kept — same gate file-size ground truth
    # maybe_broadcast uses.
    ob = o.select("o_orderkey", "o_orderdate", "o_orderpriority")
    if fits_broadcast(sf, "orders"):
        # Static gate: no probe job — same plan as rounds ≤20 here.
        ob_b = maybe_broadcast(ob, sf, "orders")
    else:
        # Band above the static cap (r21, measured at the 100×
        # sf10-equivalent): file stats say orders is too big, but the
        # 3-month date window keeps ~3.6% of rows — one pruned count
        # job (0.12 s) decides, and the broadcast-inner shape beats
        # the merge-semi 1.04 s vs 2.19 s (min-of-5 interleaved)
        # because the 60 M-row lineitem side is never exchanged or
        # sorted. At cluster volume the probe is skipped / says no
        # and the merge semi below stays the plan.
        ob_b = broadcast_when_counted(ob, sf, "orders")
    if ob_b is not None:
        l = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
        j = l.join(
            ob_b,
            (l.l_orderkey == ob.o_orderkey)
            & (
                l.l_shipdate
                > F.timestamp_add("DAY", F.lit(60), ob.o_orderdate)
            ),
        )
        return (
            j.select("o_orderkey", "o_orderpriority")
            .distinct()
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
        )
    # Merge hint KEPT for the fallback after the r21 re-audit: the
    # unhinted plan broadcast-builds the 600 k-row 2-column lineitem
    # projection on the driver (0.45 s vs 0.31 s interleaved at
    # sf0.1), and the MAX(l_shipdate)-per-order pre-aggregate rewrite
    # measured slower at both scales (0.36/0.64 vs 0.31/0.59: the
    # aggregation hashmap costs more than the merge join's sort).
    # Sort-merge stays the memory-safe semi-join shape at 100 TB.
    l = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate").hint(
        "merge"
    )
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (
                l.l_shipdate
                > F.timestamp_add("DAY", F.lit(60), o.o_orderdate)
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q12_shipmode",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag IN ('R', 'A')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
    tags=("bench", "join"),
    doc="TPC-H Q12 shape (priority split per line category) adapted to "
    "the synthetic schema (no l_shipmode): returned/acknowledged lines "
    "shipped in 1996, split by order priority.",
)
def q12_shipmode(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    # Evaluate the priority predicate INSIDE the orders projection
    # (the q14 is_promo trick): the join side carries (o_orderkey,
    # high:boolean) — int+bool per order instead of the priority
    # string — and the IN-list evaluates once per order, off the
    # per-lineitem probe path. The join strategy is the planner's.
    o = table(spark, sf, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("high"),
    )
    high = F.col("high")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q14_promo_effect",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN {sql_cents('l.l_extendedprice * (1.0 - l.l_discount)')}
                    ELSE 0 END) AS BIGINT) AS promo_cents,
           {sql_sum_cents('l.l_extendedprice * (1.0 - l.l_discount)')} AS total_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    tags=("bench", "join"),
    doc="TPC-H Q14: promotion-revenue share as two exact integer sums "
    "(the ratio is derivable; comparing cents avoids a double divide). "
    "The LIKE is evaluated INSIDE the join build side, so the "
    "hash table carries (p_partkey, is_promo) — int+bool per part "
    "instead of the p_type string — shrinking the build payload and "
    "moving the LIKE off the per-lineitem probe path (r6→r7: "
    "0.063→0.058 s measured at sf0.1). part scales with SF, so the "
    "broadcast is the cost-based maybe_broadcast hint, not a hard "
    "F.broadcast: identical plan at test scale, shuffle fallback at "
    "cluster volume.",
)
def q14_promo_effect(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf, "part").select(
        "p_partkey", F.col("p_type").like("PROMO%").alias("is_promo")
    )
    disc_cents = _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return l.join(
        maybe_broadcast(p, sf, "part"), l.l_partkey == p.p_partkey
    ).agg(
        F.sum(F.when(F.col("is_promo"), disc_cents).otherwise(0))
        .cast("long")
        .alias("promo_cents"),
        F.sum(disc_cents).alias("total_cents"),
    )


@register(
    "q18_large_orders",
    oracle=f"""
    SELECT c.c_custkey, o.o_orderkey,
           {sql_sum_cents('l.l_quantity')} AS qty_cents
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) > 21200
    )
    GROUP BY c.c_custkey, o.o_orderkey
    ORDER BY qty_cents DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("bench", "join", "subquery", "topk"),
    doc="TPC-H Q18: large-volume orders via an IN-aggregate subquery "
    "(planned as a semi join on the pre-aggregated key set).",
)
def q18_large_orders(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    # The HAVING-subquery aggregate IS the output aggregate: per-order
    # quantity is grouped once (map-side partial agg on the scan tasks,
    # one narrow orderkey exchange), filtered, and carried through the
    # joins — no second lineitem scan, no semi join, no re-aggregation.
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(_cents("l_quantity")).alias("qty_cents")
    )
    big = per_order.filter(F.col("qty_cents") > 21200)
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey", "qty_cents")
        .orderBy(F.desc("qty_cents"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("bench", "join", "agg", "outer"),
    doc="TPC-H Q13 shape (customer order-count distribution) adapted to "
    "the synthetic schema (no o_comment; the anti-filter is on "
    "o_orderpriority instead). Left outer join keeps zero-order "
    "customers as c_count=0. COUNT(o_orderkey) over the left join "
    "≡ COALESCE of a pre-counted per-custkey value with 0, so orders "
    "collapses to one narrow row per customer (map-side partial agg "
    "before its only shuffle) and the bounded per-cust count table "
    "joins customer under the cost-based broadcast gate — no "
    "customer-side exchange at test scale, co-partitioned shuffle "
    "fallback at cluster volume. (r21: the previous shape read a "
    "PERSISTED secondary orders-by-custkey layout whose build the "
    "bench pre-warmed — removed with the measurement fix.)",
)
def q13_customer_distribution(spark: SparkSession, sf: str):
    c = table(spark, sf, "customer").select("c_custkey")
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey")
    )
    # One row per customer BEFORE anything moves: the partial agg runs
    # on the scan tasks, so the only orders-sized exchange carries
    # (custkey, count) pairs, and the aggregate's row count is bounded
    # by customer cardinality — broadcastable at test scale.
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c_count"))
    # (A join-elimination variant computing the zero bucket as
    # |customer| − |per_cust| measured WORSE at 100×, 1.53 s: the
    # reused-exchange second aggregation pass costs more than the join
    # it saves — negative result, kept the join.)
    dist = (
        c.join(
            maybe_broadcast(per_cust, sf, "customer"),
            c.c_custkey == F.col("o_custkey"),
            "left_outer",
        )
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )
    # Distribution output is bounded by the max per-customer order
    # count → gather_sort.
    return gather_sort(dist, F.desc("custdist"), F.desc("c_count"))
