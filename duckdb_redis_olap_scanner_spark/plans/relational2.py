"""Round-2 relational additions: the remaining TPC-H query shapes.

The reference delegates its whole relational surface to host DuckDB
(``test/sql/scan.test`` runs plain SQL through it), so the capability
bar includes the full TPC-H suite.  Round 1 covered q1/q3/q4/q5/q6/q10/
q12/q13/q14/q18; this module adds the remaining shapes — q2, q7–q9,
q11, q15–q17, q19–q22 — **adapted to the synthetic schema** (no
partsupp table; no phone/comment/commitdate/receiptdate/shipmode/
container columns).  Each adaptation preserves the query's defining
operator shape (correlated min, EXISTS/NOT EXISTS over the same fact,
scalar-aggregate thresholds, disjunctive join predicates, nested
IN-aggregates) and each docstring names the substitution.

Where classic TPC-H needs partsupp, the part↔supplier relation is
derived from lineitem (``GROUP BY l_partkey, l_suppkey``) — the same
join graph, sourced from the fact table.

Determinism: money aggregates quantized to integer cents
(``FLOOR(x*100)`` per row, BIGINT sums — bit-identical across engines
regardless of partial-agg order); quantity averages computed over
integer-valued doubles (order-free exact sums), year via EXTRACT/year
cast to INT on both sides.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .catalog import (
    gather_sort,
    maybe_broadcast,
    register,
    table,
)
from .relational import _cents, sql_cents, sql_sum_cents


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(MIN({sql_cents('l_extendedprice')}) AS BIGINT) AS cost_cents
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
        SELECT ps.l_partkey, ps.cost_cents,
               s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT eu.s_acctbal, eu.s_name, eu.n_name,
           p.p_partkey, p.p_name, eu.cost_cents
    FROM part p
    JOIN eu ON eu.l_partkey = p.p_partkey
    WHERE p.p_size <= 10 AND p.p_type = 'LARGE'
      AND eu.cost_cents = (SELECT MIN(e2.cost_cents) FROM eu e2
                           WHERE e2.l_partkey = eu.l_partkey)
    ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p.p_partkey
    """,
    tags=("join", "subquery", "window"),
    doc="TPC-H Q2 shape (minimum-cost supplier with a correlated MIN "
    "subquery) adapted to the synthetic schema: the part↔supplier "
    "catalog is derived from lineitem and the supply cost is the "
    "minimum observed line price in cents. Spark plans the correlated "
    "MIN as a min-over-window on the partkey — one shuffle instead of "
    "a self-join re-scan.",
)
def q2_min_cost_supplier(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_cents("l_extendedprice")).alias("cost_cents")
    )
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    # nation⋈region is fixed-size (25×5 rows at any SF) — hard
    # broadcast is safe there.  supplier⋈nation⋈region scales with SF,
    # so its hint is cost-based: broadcast at test scale, shuffle
    # fallback at cluster volume (catalog.maybe_broadcast doctrine).
    sn = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eu = ps.join(maybe_broadcast(sn, sf, "supplier"), ps.l_suppkey == F.col("s_suppkey"))
    # Correlated MIN per part → analytic min over a partkey window
    # (re-uses one hash shuffle; no second scan of eu).
    w = Window.partitionBy("l_partkey")
    eu = eu.withColumn("min_cost", F.min("cost_cents").over(w)).filter(
        F.col("cost_cents") == F.col("min_cost")
    )
    p = table(spark, sf, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "LARGE")
    )
    return (
        eu.join(maybe_broadcast(p, sf, "part"), eu.l_partkey == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost_cents")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_sum_cents('volume')} AS revenue_cents
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
               l.l_extendedprice * (1.0 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("bench", "join", "agg"),
    doc="TPC-H Q7 (volume shipping between two nations, by year). "
    "Full shape on the synthetic schema (nation pair via the "
    "NATION_1/NATION_2 analog of FRANCE/GERMANY; no date-range filter "
    "since the synthetic span is the whole range). Both nation joins "
    "broadcast; the disjunctive nation-pair predicate prunes on the "
    "broadcast sides before the fact joins.",
)
def q7_volume_shipping(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    s = table(spark, sf, "supplier")
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    pair = ("NATION_1", "NATION_2")
    n1 = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    # Restrict each dim to the two nations FIRST, broadcast-join them
    # into supplier/customer, then join the (now ~8%-selectivity) dims
    # into the facts — the fact tables only shuffle surviving rows.
    sup = s.join(maybe_broadcast(n1, sf, "nation"), s.s_nationkey == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    cust = c.join(maybe_broadcast(n2, sf, "nation"), c.c_nationkey == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # sup/cust are SF-scaling (8% of supplier/customer survives the
    # nation filter) → cost-based broadcast keyed on the base table's
    # real size; l⋈o strategy is the planner's size call (r21 —
    # measured at the 10× equivalent: 1.02 s hinted merge vs 0.68 s
    # unhinted, where the pruned orders projection still broadcasts;
    # at volume the estimate forces sort-merge).
    return (
        l.join(maybe_broadcast(sup, sf, "supplier"), l.l_suppkey == sup.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(
            maybe_broadcast(cust, sf, "customer"),
            o.o_custkey == cust.c_custkey,
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            _cents(disc).alias("vol_cents"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("vol_cents").alias("revenue_cents"))
        # nation²×year rows — dim-bounded, gather-merge sort.
        .transform(gather_sort, "supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_5' THEN vol_cents ELSE 0 END)
                AS BIGINT) AS nation_cents,
           CAST(SUM(vol_cents) AS BIGINT) AS total_cents
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
               {sql_cents('l.l_extendedprice * (1.0 - l.l_discount)')} AS vol_cents,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("join", "agg"),
    doc="TPC-H Q8 (national market share within a region, by year): "
    "numerator and denominator returned as exact cents (the share "
    "ratio is derivable; comparing cents avoids a cross-engine double "
    "divide). Supplier-nation NATION_5 plays BRAZIL; customer region "
    "AMERICA; p_type PROMO plays the part-type filter. Seven-table "
    "join with every dimension broadcast.",
)
def q8_market_share(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    p = table(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    # nation⋈region is fixed-size (25×5) — hard broadcast safe.  The
    # derived cn/sn/p frames scale with customer/supplier/part, so
    # their hints are cost-based (broadcast at test scale, shuffle
    # fallback at cluster volume).
    cn = c.join(
        F.broadcast(
            n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
                "n_nationkey"
            )
        ),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    sn = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    vol = (
        l.join(
            maybe_broadcast(p.select("p_partkey"), sf, "part"),
            l.l_partkey == F.col("p_partkey"),
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(cn, sf, "customer"), o.o_custkey == cn.c_custkey)
        .join(maybe_broadcast(sn, sf, "supplier"), l.l_suppkey == sn.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            _cents(disc).alias("vol_cents"),
            "nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("nation") == "NATION_5", F.col("vol_cents")).otherwise(0)
            )
            .cast("long")
            .alias("nation_cents"),
            F.sum("vol_cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT nation, o_year, CAST(SUM(amount_cents) AS BIGINT) AS profit_cents
    FROM (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
               {sql_cents('(l.l_extendedprice * (1.0 - l.l_discount)'
                          ' - p.p_retailprice * l.l_quantity)')} AS amount_cents
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE 'red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("bench", "join", "agg"),
    doc="TPC-H Q9 (product-type profit by nation and year) adapted to "
    "the synthetic schema: no partsupp, so line cost is "
    "p_retailprice*quantity instead of ps_supplycost*quantity (same "
    "expression shape, one row-level FLOOR over the whole profit "
    "term). Part filter p_name LIKE 'red%' plays '%green%'. "
    "Part/supplier/nation broadcast; orders joins co-partitioned on "
    "the order key.",
)
def q9_product_type_profit(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    p = table(spark, sf, "part").filter(F.col("p_name").like("red%"))
    sn = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    # part/supplier scale with SF → cost-based broadcast from real file
    # sizes; the l⋈o strategy is the planner's.
    # A (l_orderkey, nation) pre-agg before the join measured WORSE at
    # 10× (1.13/1.19 merge, 1.45/1.51 bcast: the wide-key hashmap on
    # the probe stream costs more than it saves — same negative result
    # as q12's pre-agg variant); recorded, rejected.
    return (
        l.join(
            maybe_broadcast(p.select("p_partkey", "p_retailprice"), sf, "part"),
            l.l_partkey == F.col("p_partkey"),
        )
        .join(maybe_broadcast(sn, sf, "supplier"), l.l_suppkey == sn.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .select(
            "nation",
            F.year("o_orderdate").alias("o_year"),
            _cents(amount).alias("amount_cents"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount_cents").cast("long").alias("profit_cents"))
        # nation×year rows — dim-bounded, gather-merge sort.
        .transform(gather_sort, "nation", F.desc("o_year"))
    )


@register(
    "q11_important_stock",
    oracle=f"""
    WITH val AS (
        SELECT l.l_partkey,
               {sql_sum_cents('l.l_extendedprice')} AS value_cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, value_cents
    FROM val
    WHERE value_cents * 500 > (SELECT CAST(SUM(value_cents) AS BIGINT) FROM val)
    ORDER BY value_cents DESC, l_partkey
    """,
    tags=("join", "agg", "subquery"),
    doc="TPC-H Q11 (important stock identification) adapted: per-part "
    "line value from one nation's suppliers, HAVING value above a "
    "scalar-subquery fraction of the global total. The threshold "
    "compare is integer-only (value*500 > total) so both engines "
    "decide each part identically. Spark plans the scalar as a "
    "broadcast cross-join of a 1-row aggregate.",
)
def q11_important_stock(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    # sn scales with supplier → cost-based hint, not hard F.broadcast.
    val = (
        l.join(maybe_broadcast(sn, sf, "supplier"), l.l_suppkey == sn.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_cents("l_extendedprice")).alias("value_cents"))
    )
    total = val.agg(
        F.sum("value_cents").cast("long").alias("total_cents")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value_cents") * 500 > F.col("total_cents"))
        .select("l_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "l_partkey")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sql_sum_cents('l_extendedprice * (1.0 - l_discount)')}
                   AS total_revenue_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    tags=("join", "agg", "subquery"),
    doc="TPC-H Q15 (top supplier over a quarter): the CTE-twice shape "
    "— revenue view joined against its own MAX. Spark computes the "
    "revenue aggregate once and reuses the DataFrame for both the "
    "join side and the 1-row MAX (broadcast cross-join), instead of "
    "re-scanning lineitem.",
)
def q15_top_supplier(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_cents(disc)).alias("total_revenue_cents")
    )
    top = revenue.agg(F.max("total_revenue_cents").alias("max_rev"))
    s = table(spark, sf, "supplier")
    return (
        # revenue is a per-supplier aggregate (≤|supplier| rows, scales
        # with SF) → cost-based hint; top is a 1-row MAX — hard
        # broadcast safe.
        s.join(
            maybe_broadcast(revenue, sf, "supplier"),
            s.s_suppkey == F.col("supplier_no"),
        )
        .join(F.broadcast(top))
        .filter(F.col("total_revenue_cents") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    )


@register(
    "q16_parts_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    tags=("join", "agg", "subquery"),
    doc="TPC-H Q16 (parts/supplier relationship counts) adapted: the "
    "part↔supplier relation derives from lineitem; the complaint "
    "NOT-IN exclusion becomes negative-balance suppliers. NOT IN over "
    "a non-null key column → null-safe anti join in Spark.",
)
def q16_parts_supplier_counts(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    bad = (
        table(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    p = table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        # bad/p scale with supplier/part → cost-based hints.
        ps.join(
            maybe_broadcast(bad, sf, "supplier"),
            ps.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .join(maybe_broadcast(p, sf, "part"), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT {sql_sum_cents('l.l_extendedprice')} AS revenue_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
    tags=("join", "agg", "subquery"),
    doc="TPC-H Q17 (small-quantity-order revenue): correlated scalar "
    "AVG threshold per part. Quantities are integer-valued doubles, "
    "so the per-part mean is an order-free exact sum / count — the "
    "0.2×avg comparison is engine-deterministic without quantizing. "
    "Spark computes the per-part average as a broadcast aggregate "
    "join instead of a correlated re-scan (p_container absent: "
    "p_type plays the container filter).",
)
def q17_small_quantity_revenue(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    )
    # Per-part mean quantity over ALL lineitem (the correlation domain
    # is the full fact table, not the brand-filtered slice).
    avg_qty = l.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_quantity")
    )
    return (
        # p and the per-partkey avg_qty aggregate both scale with part
        # → cost-based hints keyed on the part table's real size.
        l.join(
            maybe_broadcast(p.select("p_partkey"), sf, "part"),
            l.l_partkey == F.col("p_partkey"),
        )
        .join(maybe_broadcast(avg_qty, sf, "part"), l.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_quantity"))
        .agg(F.sum(_cents("l_extendedprice")).alias("revenue_cents"))
    )


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {sql_sum_cents('l.l_extendedprice * (1.0 - l.l_discount)')}
               AS revenue_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11 AND l.l_returnflag = 'N')
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20 AND l.l_returnflag = 'N')
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("bench", "join"),
    doc="TPC-H Q19 (discounted revenue, disjunctive predicates): three "
    "OR'd brand/size/quantity bands spanning both join sides "
    "(l_shipmode/l_shipinstruct absent — l_returnflag plays the "
    "shipping filter). Catalyst splits the disjunction into "
    "single-side conjuncts (quantity/returnflag push to the lineitem "
    "scan, brand/size to the part scan) before evaluating the "
    "residual join predicate.",
)
def q19_discounted_revenue(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    band1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
        & (F.col("l_returnflag") == "N")
    )
    band2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
        & (F.col("l_returnflag") == "N")
    )
    band3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        # part scales with SF → cost-based hint.
        l.join(maybe_broadcast(p, sf, "part"), l.l_partkey == p.p_partkey)
        .filter(band1 | band2 | band3)
        .agg(F.sum(_cents(disc)).alias("revenue_cents"))
    )


@register(
    "q20_promotion_suppliers",
    oracle=f"""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_2'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING SUM({sql_cents('l.l_quantity')}) > 20000
      )
    ORDER BY s.s_name
    """,
    tags=("join", "subquery", "agg"),
    doc="TPC-H Q20 (suppliers with promotion-part stock) adapted: no "
    "partsupp/availqty, so the inner threshold is total shipped "
    "quantity of 'red%' parts in 1996 (nested IN → aggregate → "
    "HAVING, the Q20 shape). Spark: broadcast part filter into "
    "lineitem, aggregate per supplier, semi-join supplier.",
)
def q20_promotion_suppliers(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf, "part").filter(F.col("p_name").like("red%"))
    heavy = (
        # p scales with part → cost-based hint.
        l.join(
            maybe_broadcast(p.select("p_partkey"), sf, "part"),
            l.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_cents("l_quantity")).alias("qty_cents"))
        .filter(F.col("qty_cents") > 20000)
        .select("l_suppkey")
    )
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        # heavy is a per-supplier aggregate (scales with SF) → cost-based.
        .join(
            maybe_broadcast(heavy, sf, "supplier"),
            s.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n.n_name = 'NATION_1'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
    tags=("join", "subquery", "agg"),
    doc="TPC-H Q21 (suppliers who kept orders waiting) adapted: "
    "l_receiptdate/l_commitdate absent, so 'late' is l_returnflag = "
    "'R' — the supplier is the ONLY late supplier on a finished "
    "order with other suppliers present. The defining shape "
    "survives: EXISTS plus NOT EXISTS, both correlated to the same "
    "fact table with an equi key and a non-equi residual; Spark "
    "plans them as left-semi and left-anti hash joins on the order "
    "key (both sides co-partitioned on l_orderkey from the scan).",
)
def q21_waiting_suppliers(spark: SparkSession, sf: str):
    l = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation").filter(F.col("n_name") == "NATION_1")
    l1 = l.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = l.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        l.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    cand = (
        # sn scales with supplier → cost-based hint.
        l1.join(maybe_broadcast(sn, sf, "supplier"), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        cand.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
    SELECT c.c_nationkey AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(FLOOR(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS totacctbal_cents
    FROM customer c
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND CAST(FLOOR(c.c_acctbal * 100) AS BIGINT) > (
          SELECT AVG(CAST(FLOOR(c2.c_acctbal * 100) AS BIGINT))
          FROM customer c2
          WHERE c2.c_acctbal > 0.0
            AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    ORDER BY cntrycode
    """,
    tags=("subquery", "agg"),
    doc="TPC-H Q22 (global sales opportunity) adapted: no c_phone, so "
    "the country code is c_nationkey restricted to the odd-key set; "
    "'customers without orders' becomes 'without urgent orders' "
    "(every synthetic customer has orders). The shape survives: "
    "scalar-average threshold over a filtered self-aggregate plus an "
    "anti-join NOT EXISTS. The average is over integer cents (exact "
    "sum), so the threshold compare is engine-deterministic.",
)
def q22_global_sales_opportunity(spark: SparkSession, sf: str):
    codes = [1, 3, 5, 7, 9, 11, 13]
    c = table(spark, sf, "customer").filter(F.col("c_nationkey").isin(*codes))
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg(_cents("c_acctbal")).alias("avg_cents"))
    )
    urgent = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(_cents("c_acctbal") > F.col("avg_cents"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_cents("c_acctbal")).alias("totacctbal_cents"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# Spark 4 VARIANT (semi-structured) scalar family
# ---------------------------------------------------------------------------


@register(
    "variant_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           'OBJECT<k: BIGINT>' AS vschema,
           CAST(NULL AS VARCHAR) AS missing_val
    FROM events WHERE event_id < 300
    """,
    tags=("scalar", "variant"),
    doc="Spark 4 VARIANT over the events.props JSON: parse_json → "
    "binary variant, typed variant_get extraction, schema_of_variant "
    "(asserts every row parses to OBJECT<k: BIGINT>), and "
    "try_variant_get returning NULL on a missing path. The DuckDB "
    "oracle re-derives the same typed values via its JSON functions — "
    "VARIANT is the columnar-friendly upgrade of string-JSON "
    "extraction (json_funcs is the string twin).",
)
def variant_funcs(spark: SparkSession, sf: str):
    from .catalog import table as _table

    e = _table(spark, sf, "events").filter(F.col("event_id") < 300)
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_val"),
        F.schema_of_variant(v).alias("vschema"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_val"),
    )


@register(
    "try_arith_funcs",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0.0)
               AS safe_ratio,
           TRY_CAST(o_orderstatus AS INTEGER) AS bad_cast,
           TRY_CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER) AS good_cast
    FROM orders WHERE o_orderkey < 400
    """,
    tags=("scalar",),
    doc="ANSI error-safe arithmetic: try_divide (NULL on division by "
    "zero — DuckDB twin: NULLIF denominator) and try_cast (NULL on "
    "malformed input instead of an error), the semantics batch "
    "pipelines need to survive dirty rows without failing the job.",
)
def try_arith_funcs(spark: SparkSession, sf: str):
    o = table(spark, sf, "orders").filter(F.col("o_orderkey") < 400)
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 3).cast("double")
        ).alias("safe_ratio"),
        F.col("o_orderstatus").try_cast("int").alias("bad_cast"),
        F.col("o_orderkey").cast("string").try_cast("int").alias("good_cast"),
    )


@register(
    "window_ignore_nulls",
    oracle="""
    SELECT event_id,
           LAG(v IGNORE NULLS) OVER w AS prev_val,
           LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS last_seen
    FROM (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100) AS BIGINT) END AS v
        FROM events WHERE event_id < 2000
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    tags=("window",),
    doc="IGNORE NULLS window navigation: lag and a running last_value "
    "skip NULL observations (only purchases carry a value here) — the "
    "gap-filling shape for sparse measurements: each row sees the most "
    "recent non-null reading.",
)
def window_ignore_nulls(spark: SparkSession, sf: str):
    from pyspark.sql import Window as W

    e = table(spark, sf, "events").filter(F.col("event_id") < 2000)
    v = F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 100).cast("long"),
    )
    keyed = e.select("event_id", "user_id", v.alias("v"))
    w = W.partitionBy("user_id").orderBy("event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return keyed.select(
        "event_id",
        # DataFrame lag() has no ignorenulls parameter — the SQL form does.
        F.expr(
            "lag(v) IGNORE NULLS OVER "
            "(PARTITION BY user_id ORDER BY event_id)"
        ).alias("prev_val"),
        F.last("v", ignorenulls=True).over(run).alias("last_seen"),
    )


# ---------------------------------------------------------------------------
# event-sequence analytics (funnel, time-weighted average)
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    oracle="""
    WITH v AS (SELECT user_id, MIN(event_id) AS view_id
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.event_id) AS click_id
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.event_id > v.view_id
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.event_id) AS purchase_id
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.event_id > c.click_id
          GROUP BY e.user_id)
    SELECT v.user_id, v.view_id, c.click_id, p.purchase_id
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    ORDER BY v.user_id
    """,
    tags=("agg", "temporal", "funnel"),
    doc="Ordered conversion funnel per user: first view → first click "
    "AFTER it → first purchase AFTER that (event_id is the total "
    "order). Each stage is one partial-agg shuffle of ONLY its "
    "event-type slice, with the previous stage's per-user result — "
    "dim-sized by construction — broadcast back in as the gate, so no "
    "full-fact re-shuffle ever happens; identical stage subtrees "
    "dedupe at runtime via AQE exchange reuse. Outer joins keep users "
    "who fell out mid-funnel.",
)
def events_funnel(spark: SparkSession, sf: str):
    e = table(spark, sf, "events").select("user_id", "event_id", "event_type")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("view_id"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("event_id") > F.col("view_id"))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("click_id"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("event_id") > F.col("click_id"))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("purchase_id"))
    )
    return (
        v.join(c, "user_id", "left_outer")
        .join(p, "user_id", "left_outer")
        .select("user_id", "view_id", "click_id", "purchase_id")
        .orderBy("user_id")
    )


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               CAST(FLOOR(value * 100) AS BIGINT) AS v_cents,
               CAST(FLOOR(EXTRACT(EPOCH FROM ts) * 1000000) AS BIGINT) AS t_us,
               CAST(FLOOR(EXTRACT(EPOCH FROM LEAD(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id))
                   * 1000000) AS BIGINT) AS t_next_us
        FROM events
    )
    SELECT user_id,
           CAST(SUM(v_cents * (t_next_us - t_us)) AS BIGINT)
               AS weighted_area,
           CAST(SUM(t_next_us - t_us) AS BIGINT) AS total_span_us
    FROM seg WHERE t_next_us IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("window", "agg", "temporal"),
    doc="Time-weighted value integral per user (the hypertable "
    "time_weight shape): each observation holds until the next one "
    "(LOCF segments via lead-over-window), area = Σ value·Δt in exact "
    "integer cents·µs, span = Σ Δt — the ratio is the time-weighted "
    "average, returned as two exact integers to stay "
    "engine-deterministic. One window shuffle on user_id, then an "
    "exchange-free groupBy on the same key.",
)
def events_time_weighted_avg(spark: SparkSession, sf: str):
    from pyspark.sql import Window as W

    e = table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        F.unix_micros("ts").alias("t_us"),
        F.unix_micros(F.lead("ts", 1).over(w)).alias("t_next_us"),
    ).filter(F.col("t_next_us").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("v_cents") * (F.col("t_next_us") - F.col("t_us")))
            .cast("long")
            .alias("weighted_area"),
            F.sum(F.col("t_next_us") - F.col("t_us"))
            .cast("long")
            .alias("total_span_us"),
        )
        .orderBy("user_id")
    )


@register(
    "collation_funcs",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_parts
    FROM part
    WHERE lower(p_type) = 'economy'
      AND lower(p_name) LIKE lower('%Widget%')
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags=("scalar", "collation"),
    doc="Spark 4 collation-aware comparison: UTF8_LCASE-collated "
    "equality and ILIKE match rows regardless of case without "
    "materializing lowercased copies (the collation rides the "
    "comparison, so an index/statistics-aware engine can still use "
    "the original column). DuckDB twin: explicit lower() on both "
    "sides.",
)
def collation_funcs(spark: SparkSession, sf: str):
    p = table(spark, sf, "part")
    return (
        p.filter(
            (F.collate(F.col("p_type"), "UTF8_LCASE") == F.lit("economy"))
            & F.col("p_name").ilike("%Widget%")
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("p_brand")
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort, a.w) / 7 AS INT) AS week_offset,
           COUNT(*) AS n_users
    FROM activity a JOIN first_seen f ON f.user_id = a.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("agg", "temporal", "cohort"),
    doc="Cohort retention: users bucketed by first-activity week, "
    "counted per week offset — the standard retention triangle "
    "(weekly buckets: the synthetic events span one month). Two "
    "aggregations keyed on user_id (first-seen, distinct active "
    "weeks) joined user-to-user, then a tiny (cohort, offset) "
    "rollup: after the first user_id shuffle both aggregations and "
    "the join are co-partitioned, and the rollup output is bounded "
    "by weeks², not users.",
)
def events_retention_cohorts(spark: SparkSession, sf: str):
    e = table(spark, sf, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "agg_percentile_standard",
    oracle="""
    SELECT l_returnflag,
           CAST(PERCENTILE_DISC(0.25) WITHIN GROUP
                (ORDER BY CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS p25_cents,
           CAST(PERCENTILE_CONT(0.5) WITHIN GROUP
                (ORDER BY CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) AS median_cents,
           CAST(PERCENTILE_DISC(0.9) WITHIN GROUP
                (ORDER BY CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS p90_cents
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "percentile"),
    doc="SQL-standard ordered-set aggregates: PERCENTILE_DISC (an "
    "actual element, no interpolation) and PERCENTILE_CONT at the "
    "median. Inputs are integer cents and the CONT point is dyadic "
    "(0.5), so the interpolated value is exact in double on both "
    "engines regardless of the interpolation formula's association.",
)
def agg_percentile_standard(spark: SparkSession, sf: str):
    from .catalog import histogram_pays
    from .relational import exact_group_percentiles

    # r21: histogram + Arrow finisher instead of the ordered-set
    # aggregates — Spark's Percentile buffers every row into a boxed
    # map per partial (3.5 s at sf0.1); the codegen'd
    # (flag, cents)→count aggregate plus a numpy cumsum/searchsorted
    # finisher computes the identical values (exact integer rank for
    # DISC, the engines' shared two-product interpolation for CONT —
    # see exact_group_percentiles) in ~0.8 s. Result bit-identical at
    # sf0.001/0.01/0.1 (oracle parity + third-opinion numpy checks).
    # r22: below HISTOGRAM_OVER_RAW_BYTES the aggregation itself is
    # skipped (raw rows are a degenerate histogram — same finisher,
    # same values; see exact_group_percentiles).
    res = exact_group_percentiles(
        table(spark, sf, "lineitem"),
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long"),
        [
            ("p25_cents", "disc", 1, 4),
            ("median_cents", "cont", 1, 2),
            ("p90_cents", "disc", 9, 10),
        ],
        pre_aggregate=histogram_pays(sf, "lineitem"),
    )
    return gather_sort(res, "l_returnflag")
