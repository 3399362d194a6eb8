"""Composite analytical queries (scan → filter → join → agg → sort) over the
synthetic star schema — the flagship end-to-end exercises of SURVEY §7.1.

Shapes follow TPC-H Q1/Q3/Q5 adapted to the testdata columns. These are the
bench headliners: Catalyst gets full latitude (pushdown through joins,
broadcast dims, partial aggs, TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load
from ._util import davg, dsum, rebalance_narrow_scan, sql_davg, sql_dsum


def q1_pricing_summary(spark, sf_dir):
    """Q1 shape: full-scan groupBy with derived measures and a date
    predicate pushed to the parquet scan.

    r20 (guide §2.5/§6 — input splits bound the parallelism): the sf0.1
    fixture file arrives as 3 splits, so the seven guarded decimal
    aggregates — q1's entire cost — ran 3-wide on a 32-core box (the
    r19 driver's 8v32 ratio of 0.68 was this). The filtered, projected
    scan round-robins through rebalance_narrow_scan (a no-op whenever
    the scan already has >= core-count splits — always true at scale),
    shipping ~45 B/row so every core aggregates. Decimal sums are
    order-independent by construction (that is dsum's contract), so the
    result is bit-identical. Interleaved A/B: sf0.1 1.40/1.66 ->
    1.11/1.20, sf1 2.56/2.76 -> 1.87/2.09 s min/median."""
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    f = l.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    )
    return (
        rebalance_narrow_scan(f, spark)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    """Q3 shape: segment filter on a broadcast dim, fact-fact join, top-10
    revenue (TakeOrderedAndProject)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q5_region_revenue(spark, sf_dir):
    """Q5 shape: five-way join (two broadcast dims) + per-nation revenue.
    The c_nationkey = s_nationkey condition keeps the TPC-H local-supplier
    semantics."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("EUROPE", "ASIA"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue, "revenue"), F.count("*").alias("n_items"))
    )


def q6_forecast_revenue(spark, sf_dir):
    """Q6 shape: pure scan-side predicates + single aggregate — measures
    pushdown efficiency (no join, no shuffle beyond the final reduce)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def q4_priority_exists(spark, sf_dir):
    """Q4 shape: EXISTS correlated subquery — decorrelated to a left-semi
    join (Catalyst's own rewrite of EXISTS); order-priority distribution of
    orders having at least one returned lineitem."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q13_customer_distribution(spark, sf_dir):
    """Q13 shape: left outer join + two-level aggregation — distribution of
    customers by order count, zero-order customers included (the outer join
    is the point: an inner join would drop them)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


def q17_small_quantity_revenue(spark, sf_dir):
    """Q17 shape: correlated scalar-aggregate subquery (avg quantity per
    part), decorrelated to a pre-aggregation joined back on the correlation
    key — the scalable form of `l_quantity < (SELECT 0.2*avg(...) WHERE
    l2.l_partkey = l_partkey)`."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    thresh = l.groupBy("l_partkey").agg(
        (0.2 * davg(F.col("l_quantity"), "a")).alias("qty_threshold")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (dsum(F.col("l_extendedprice"), "s") / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


def q18_large_volume_customers(spark, sf_dir):
    """Q18 shape: HAVING on a grouped sum + join back to the fact tables —
    customers whose single orders exceed 300 total quantity."""
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
    )


def q22_dormant_rich_customers(spark, sf_dir):
    """Q22 shape: uncorrelated scalar subquery (global average balance,
    broadcast) + anti-join against recent orders — per-nation count and
    balance of above-average customers with no 1998-H2 orders."""
    c = load(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal"), "avg_bal")
    )
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-06-01").cast("timestamp")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_custs"),
            dsum(F.col("c_acctbal"), "total_bal"),
        )
    )


def q7_nation_volume(spark, sf_dir):
    """Q7 shape: bidirectional nation-pair trade volume by ship year —
    double dimension join with a symmetric pair predicate, year extraction
    in the grouping key."""
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"))
    )


def q10_returned_items(spark, sf_dir):
    """Q10 shape: returned-item revenue per customer, top 20 — join +
    groupBy + TakeOrderedAndProject with a deterministic tie-break."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q14_promo_revenue_share(spark, sf_dir):
    """Q14 shape: conditional-share aggregate — promo revenue as a
    percentage of total, one scan, two conditional sums."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-09-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            dsum(promo, "promo_revenue"),
            dsum(disc_price, "total_revenue"),
        )
        .select(
            (100.0 * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_pct"
            ),
            "promo_revenue",
            "total_revenue",
        )
    )


def q15_top_supplier(spark, sf_dir):
    """Q15 shape: aggregate-of-aggregate — suppliers whose period revenue
    equals the global maximum (max over a derived view, broadcast back).
    Revenue doubles come from identical decimal sums on both engines, so
    the equality join is exact."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


def q16_part_supplier_counts(spark, sf_dir):
    """Q16 shape: NOT IN exclusion subquery (anti-join) + countDistinct
    grouped by part attributes."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7)
    )
    l = load(spark, sf_dir, "lineitem")
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q19_disjunctive_revenue(spark, sf_dir):
    """Q19 shape: disjunction of conjunctive range predicates across the
    join — the optimizer must extract the common join key and push the
    per-branch ranges."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q8_market_share(spark, sf_dir):
    """Q8 shape (adapted: no p_mfgr in the testdata): NATION_3-supplier
    share of revenue to EUROPE customers, per order year. Conditional
    share inside a six-way join — both sums ride one aggregation; dims
    broadcast."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_rev = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == n2.n_nationkey)
        .join(F.broadcast(r), n2.n_regionkey == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            dsum(nation_rev, "nation_rev"),
            dsum(rev, "total_rev"),
        )
        .select(
            "o_year",
            "nation_rev",
            "total_rev",
            F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
        )
    )


def q9_product_profit(spark, sf_dir):
    """Q9 shape (adapted: profit uses a 0.6×p_retailprice supply-cost proxy
    — the testdata has no partsupp table): per supplier-nation per order
    year, profit over 'gear' parts."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit, "profit"), F.count("*").alias("n_items"))
    )


def q12_late_shipment_priority(spark, sf_dir):
    """Q12 shape (adapted: the testdata has no l_shipmode/commitdate, so
    the class key is shipping lateness vs the order date): per lateness
    class, how many lines belong to high- vs low-priority orders.
    Interval arithmetic (no datediff) keeps both engines' day semantics
    identical."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    late_class = (
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            "late_90",
        )
        .when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
            "late_30",
        )
        .otherwise("on_time")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # when/otherwise, not boolean casts: a NULL priority is "not high",
    # i.e. a low line (the bare cast would make it NULL — counted in
    # neither bucket and diverging from the oracle's CASE ... ELSE)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(late_class.alias("late_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
            F.count("*").alias("n_lines"),
        )
    )


def q21_waiting_suppliers(spark, sf_dir):
    """Q21 shape (adapted: 'late' is shipdate > orderdate + 60 days — the
    testdata has no commit/receipt dates): suppliers who were the ONLY
    late supplier on a multi-supplier order. The classic EXISTS/NOT-
    EXISTS pair is expressed as one per-(order, supplier) rollup + a
    per-order WINDOW over that rollup — the fact table is scanned and
    joined exactly ONCE (the correlated-self-join form, or a groupBy
    re-derivation, would execute the join subtree twice: no exchange
    reuse under a broadcast join). Both post-join exchanges carry only
    (orderkey, suppkey, flag) rows."""
    from pyspark.sql import Window as W

    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # when/otherwise: a NULL shipdate is "not late" (0), matching the
    # oracle's CASE ... ELSE 0 — the bare cast would leave a group whose
    # every line has NULL shipdate with has_late NULL instead of 0
    per_os = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("has_late"))
    )
    w = W.partitionBy("l_orderkey")
    culprit = per_os.select(
        "l_suppkey",
        "has_late",
        F.count("*").over(w).alias("n_supps"),
        F.sum("has_late").over(w).alias("n_late_supps"),
    ).filter(
        (F.col("has_late") == 1)
        & (F.col("n_supps") > 1)
        & (F.col("n_late_supps") == 1)
    )
    # s_suppkey as the final tiebreak makes the rank-20 cutoff a TOTAL
    # order (ADVICE r11: distinct suppliers can share a dirty-injected
    # s_name, leaving the cutoff engine-dependent); identity on clean
    # data where names are unique
    return (
        culprit.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .orderBy(F.desc("numwait"), "s_name", "s_suppkey")
        .limit(20)
        .select("s_name", "numwait")
    )


def q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape: correlated scalar subquery — for each part, the
    EUROPE-region supplier(s) offering its minimum unit cost. The
    part-supplier relation is derived from lineitem (no partsupp table in
    the testdata): unit cost = MIN(l_extendedprice / l_quantity) per
    (partkey, suppkey). The correlation `cost = (SELECT MIN(cost) ...
    WHERE partkey = p_partkey)` decorrelates to a window-min over the
    region-restricted set — no second scan, no per-row subquery, the
    shape that survives 100 TB.
    """
    from pyspark.sql import Window

    l = load(spark, sf_dir, "lineitem")
    ps = l.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size").between(1, 15))
    regional = (
        ps.join(s, ps.suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("partkey")
    best = regional.withColumn("min_cost", F.min("supply_cost").over(w)).filter(
        F.col("supply_cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(p), F.col("partkey") == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost"
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q11_part_value_threshold(spark, sf_dir):
    """Q11 shape: grouped aggregate filtered by an UNCORRELATED aggregate
    subquery — per-part shipped value from NATION_3 suppliers, keeping
    parts whose value exceeds a fraction of the nation-wide total. The
    scalar total broadcasts; the threshold compare happens on exact
    decimal sums so Spark and the oracle agree bitwise."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = l.join(s, l.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    # r19 (guide §2.4): the nation-wide total was a SECOND aggregate over
    # `national`, re-running the fact join (6 listed scans). The total is
    # exactly the sum of the per-part DECIMAL partials (decimal addition
    # is exact and associative; an all-NULL part sums to NULL and is
    # ignored by the outer SUM just as its rows were by the global one),
    # so both outputs derive from ONE checkpointed per-part decimal
    # table; the double casts happen after, as before.
    from ._util import DEC, dcast

    per_part_dec = (
        national.groupBy("l_partkey")
        .agg(F.sum(dcast(value, DEC)).alias("_pv"))
        .localCheckpoint(eager=False)
    )
    per_part = per_part_dec.select(
        "l_partkey", F.col("_pv").cast("double").alias("part_value")
    )
    total = per_part_dec.agg(
        F.sum("_pv").cast("double").alias("total_value")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > 0.002 * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def q20_clean_part_suppliers(spark, sf_dir):
    """Q20 shape: double-correlated NOT EXISTS — suppliers of 'gear'
    parts having NO return-flagged shipment OF THAT PART (the inner
    query correlates on BOTH suppkey and partkey). Decorrelates to a
    composite-key LEFT ANTI join of the distinct pair relation against
    the distinct returned-pair relation — never a per-row subquery."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    pairs = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select("l_suppkey", "l_partkey")
        .distinct()
    )
    returned = (
        l.filter(F.col("l_returnflag") == "R")
        .select("l_suppkey", "l_partkey")
        .distinct()
    )
    clean = pairs.join(returned, ["l_suppkey", "l_partkey"], "left_anti")
    s = load(spark, sf_dir, "supplier")
    return (
        clean.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_clean_parts"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "s_acctbal", "n_clean_parts")
        .orderBy(F.desc("n_clean_parts"), "s_name")
    )


def register(reg):
    reg.add(
        "q1_pricing_summary",
        q1_pricing_summary,
        "SELECT l_returnflag, l_linestatus, "
        f"{sql_dsum('l_quantity')} AS sum_qty, "
        f"{sql_dsum('l_extendedprice')} AS sum_base_price, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge, "
        f"{sql_davg('l_quantity')} AS avg_qty, "
        f"{sql_davg('l_extendedprice')} AS avg_price, "
        f"{sql_davg('l_discount')} AS avg_disc, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus",
    )
    reg.add(
        "q3_shipping_priority",
        q3_shipping_priority,
        "SELECT o_orderkey, o_orderdate, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "AND l_shipdate > TIMESTAMP '1997-01-01' "
        "GROUP BY o_orderkey, o_orderdate "
        "ORDER BY revenue DESC, o_orderkey LIMIT 10",
    )
    reg.add(
        "q5_region_revenue",
        q5_region_revenue,
        "SELECT r_name, n_name, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, "
        "COUNT(*) AS n_items "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE c_nationkey = s_nationkey "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1999-01-01' "
        "AND r_name IN ('EUROPE', 'ASIA') "
        "GROUP BY r_name, n_name",
    )
    reg.add(
        "q6_forecast_revenue",
        q6_forecast_revenue,
        "SELECT "
        f"{sql_dsum('l_extendedprice * l_discount')} AS revenue, "
        "COUNT(*) AS n_items FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24",
    )
    reg.add(
        "q4_priority_exists",
        q4_priority_exists,
        "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "AND EXISTS (SELECT 1 FROM lineitem "
        "WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') "
        "GROUP BY o_orderpriority",
    )
    reg.add(
        "q13_customer_distribution",
        q13_customer_distribution,
        "SELECT c_count, COUNT(*) AS custdist FROM ("
        "SELECT c_custkey, COUNT(o_orderkey) AS c_count "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "AND o_orderdate >= TIMESTAMP '1998-01-01' "
        "GROUP BY c_custkey) GROUP BY c_count",
    )
    reg.add(
        "q17_small_quantity_revenue",
        q17_small_quantity_revenue,
        "WITH thresh AS (SELECT l_partkey, "
        f"0.2 * {sql_davg('l_quantity')} AS qty_threshold "
        "FROM lineitem GROUP BY l_partkey) "
        f"SELECT {sql_dsum('l_extendedprice')} / 7.0 AS avg_yearly, "
        "COUNT(*) AS n_items "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN thresh USING (l_partkey) "
        "WHERE p_brand = 'Brand#23' AND l_quantity < qty_threshold",
    )
    reg.add(
        "q18_large_volume_customers",
        q18_large_volume_customers,
        "WITH big AS (SELECT l_orderkey, "
        f"{sql_dsum('l_quantity')} AS sum_qty "
        "FROM lineitem GROUP BY l_orderkey "
        f"HAVING {sql_dsum('l_quantity')} > 300) "
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty "
        "FROM big JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey",
    )
    reg.add(
        "q22_dormant_rich_customers",
        q22_dormant_rich_customers,
        "WITH avg_bal AS (SELECT "
        f"{sql_davg('c_acctbal')} AS avg_bal "
        "FROM customer WHERE c_acctbal > 0) "
        "SELECT c_nationkey, COUNT(*) AS n_custs, "
        f"{sql_dsum('c_acctbal')} AS total_bal "
        "FROM customer, avg_bal "
        "WHERE c_acctbal > avg_bal AND NOT EXISTS ("
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_orderdate >= TIMESTAMP '1998-06-01') "
        "GROUP BY c_nationkey",
    )
    reg.add(
        "q7_nation_volume",
        q7_nation_volume,
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS INT) AS l_year, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS volume "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1999-01-01' "
        "AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') "
        "OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) "
        "GROUP BY supp_nation, cust_nation, l_year",
    )
    reg.add(
        "q10_returned_items",
        q10_returned_items,
        "SELECT c_custkey, c_name, n_name, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, "
        "COUNT(*) AS n_items "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "AND o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY c_custkey, c_name, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20",
    )
    reg.add(
        "q14_promo_revenue_share",
        q14_promo_revenue_share,
        "SELECT 100.0 * promo_revenue / total_revenue AS promo_pct, "
        "promo_revenue, total_revenue FROM ("
        "SELECT "
        + sql_dsum(
            "CASE WHEN p_type = 'PROMO' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
        )
        + " AS promo_revenue, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-06-01' "
        "AND l_shipdate < TIMESTAMP '1997-09-01')",
    )
    reg.add(
        "q15_top_supplier",
        q15_top_supplier,
        "WITH rev AS (SELECT l_suppkey, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY l_suppkey) "
        "SELECT s_suppkey, s_name, total_rev "
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE total_rev = (SELECT MAX(total_rev) FROM rev)",
    )
    reg.add(
        "q16_part_supplier_counts",
        q16_part_supplier_counts,
        "SELECT p_brand, p_type, p_size, "
        "COUNT(DISTINCT l_suppkey) AS supplier_cnt "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        # NOT EXISTS, not NOT IN: the engine's left_anti join has
        # NOT-EXISTS semantics; a single NULL s_suppkey in the subquery
        # would make NOT IN empty the whole result (identical when the
        # subquery is NULL-free, as TPC-H data is)
        "WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7) "
        "AND NOT EXISTS (SELECT 1 FROM supplier "
        "WHERE s_acctbal < 0 AND s_suppkey = l_suppkey) "
        "GROUP BY p_brand, p_type, p_size",
    )
    reg.add(
        "q19_disjunctive_revenue",
        q19_disjunctive_revenue,
        "SELECT "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, "
        "COUNT(*) AS n_items "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 "
        "AND p_size BETWEEN 1 AND 5) "
        "OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 "
        "AND p_size BETWEEN 1 AND 10) "
        "OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 "
        "AND p_size BETWEEN 1 AND 15)",
    )
    reg.add(
        "q8_market_share",
        q8_market_share,
        "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
        + sql_dsum(
            "CASE WHEN n1.n_name = 'NATION_3' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
        )
        + " AS nation_rev, "
        f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev, "
        "ROUND("
        + sql_dsum(
            "CASE WHEN n1.n_name = 'NATION_3' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
        )
        + f" / {sql_dsum('l_extendedprice * (1 - l_discount)')}, 6) AS mkt_share "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "JOIN region ON n2.n_regionkey = r_regionkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "WHERE r_name = 'EUROPE' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1999-01-01' "
        "GROUP BY o_year",
    )
    reg.add(
        "q9_product_profit",
        q9_product_profit,
        "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
        + sql_dsum(
            "l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity"
        )
        + " AS profit, COUNT(*) AS n_items "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE p_name LIKE '%gear%' "
        "GROUP BY n_name, o_year",
    )
    reg.add(
        "q12_late_shipment_priority",
        q12_late_shipment_priority,
        "SELECT CASE "
        "WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 'late_90' "
        "WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY THEN 'late_30' "
        "ELSE 'on_time' END AS late_class, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count, "
        "COUNT(*) AS n_lines "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "GROUP BY late_class",
    )
    reg.add(
        "q21_waiting_suppliers",
        q21_waiting_suppliers,
        "WITH per_os AS ("
        "  SELECT l_orderkey, l_suppkey, "
        "  MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY "
        "      THEN 1 ELSE 0 END) AS has_late "
        "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "  WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "  AND o_orderdate < TIMESTAMP '1998-01-01' "
        "  GROUP BY l_orderkey, l_suppkey), "
        "per_o AS ("
        "  SELECT l_orderkey, COUNT(*) AS n_supps, SUM(has_late) AS n_late_supps "
        "  FROM per_os GROUP BY l_orderkey), "
        # null-safe reattach: the engine computes n_supps/n_late_supps
        # with a WINDOW over per_os, where NULL l_orderkey is a real
        # partition — a plain USING join would drop it. Count per
        # SUPPLIER KEY then label with the name (the engine's shape):
        # grouping by s_name would merge distinct suppliers that share a
        # (dirty) name. Identical while names are unique, as TPC-H's are.
        "culprit AS ("
        "  SELECT l_suppkey, COUNT(*) AS numwait "
        "  FROM per_os JOIN per_o "
        "  ON per_os.l_orderkey IS NOT DISTINCT FROM per_o.l_orderkey "
        "  WHERE per_os.has_late = 1 AND per_o.n_supps > 1 "
        "  AND per_o.n_late_supps = 1 GROUP BY l_suppkey) "
        # s_suppkey tiebreak = total order at the rank-20 cutoff even when
        # dirty data makes two suppliers share a name (identity on clean
        # data; matches the engine's orderBy)
        "SELECT s_name, numwait FROM culprit "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "ORDER BY numwait DESC, s_name, s_suppkey LIMIT 20",
    )
    # the three classic optimizer shapes: correlated scalar subquery (Q2),
    # aggregate-threshold subquery (Q11), double-correlated NOT EXISTS (Q20)
    reg.add(
        "q2_min_cost_supplier",
        q2_min_cost_supplier,
        "WITH ps AS ("
        "  SELECT l_partkey AS partkey, l_suppkey AS suppkey, "
        "  MIN(l_extendedprice / l_quantity) AS supply_cost "
        "  FROM lineitem GROUP BY 1, 2) "
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost "
        "FROM ps JOIN supplier ON suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "JOIN part ON partkey = p_partkey "
        "WHERE r_name = 'EUROPE' AND p_size BETWEEN 1 AND 15 "
        "AND supply_cost = ("
        "  SELECT MIN(ps2.supply_cost) FROM ps ps2 "
        "  JOIN supplier s2 ON ps2.suppkey = s2.s_suppkey "
        "  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey "
        "  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey "
        "  WHERE r2.r_name = 'EUROPE' AND ps2.partkey = p_partkey) "
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100",
    )
    reg.add(
        "q11_part_value_threshold",
        q11_part_value_threshold,
        "WITH national AS ("
        "  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS v "
        "  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "  JOIN nation ON s_nationkey = n_nationkey "
        "  WHERE n_name = 'NATION_3') "
        "SELECT l_partkey, "
        f"{sql_dsum('v')} AS part_value "
        "FROM national GROUP BY l_partkey "
        f"HAVING {sql_dsum('v')} > 0.002 * ("
        f"  SELECT {sql_dsum('v')} FROM national) "
        "ORDER BY part_value DESC, l_partkey",
    )
    reg.add(
        "q20_clean_part_suppliers",
        q20_clean_part_suppliers,
        "WITH pairs AS ("
        "  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem "
        "  JOIN part ON l_partkey = p_partkey WHERE p_name LIKE '%gear%'), "
        "clean AS ("
        "  SELECT l_suppkey, COUNT(*) AS n_clean_parts FROM pairs "
        "  WHERE NOT EXISTS ("
        "    SELECT 1 FROM lineitem l2 "
        "    WHERE l2.l_suppkey = pairs.l_suppkey "
        "    AND l2.l_partkey = pairs.l_partkey "
        "    AND l2.l_returnflag = 'R') "
        "  GROUP BY l_suppkey) "
        "SELECT s_name, s_acctbal, n_clean_parts "
        "FROM clean JOIN supplier ON l_suppkey = s_suppkey "
        "ORDER BY n_clean_parts DESC, s_name",
    )
