"""Adapted TPC-H query suite over the driver fixtures (SURVEY.md §2.3-2.6
parity-plus surface; q1/q3/q5 live in ``relational.py``).

The fixture schema is a reduced TPC-H (TESTDATA.md): no ``partsupp`` table and
no comment/phone/shipmode/commitdate columns.  Each query below keeps its
TPC-H number and *shape* (join topology, aggregation pattern, subquery class)
but adapts predicates to the columns that exist; adaptations are noted per
query.  Where TPC-H needs partsupp, the part↔supplier relation is derived as
``SELECT DISTINCT l_partkey, l_suppkey FROM lineitem``.

Scale discipline (100 TB stance):
- nation/region are always tiny → explicit ``broadcast()``.
- part/supplier/customer scale with SF → no hard-coded broadcast hint; AQE
  converts the join at runtime when the built side is actually small, and
  falls back to shuffle-hash/sort-merge when it is not.
- Fact-fact joins (orders⋈lineitem) shuffle on the natural key only.
- All aggregates are partial-aggregatable built-ins (map-side combine).

Numeric parity with the DuckDB oracle: money math in exact DECIMAL (cast at
the source, sums order-independent); ratios computed from exact sums, divided
in double, rounded, and cast to DECIMAL on both sides.  ``l_quantity`` values
are whole numbers (≤ 50), so double sums/avgs of quantity are exact and
order-independent too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ._artifacts import artifact
from .relational import _dec


def _one():
    # built lazily: F.lit at module import would require an active SparkContext
    return F.lit("1.00").cast("decimal(5,2)")


def _disc_price():
    return _dec("l_extendedprice") * (_one() - _dec("l_discount", 5, 2))


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per-group min + join-back (correlated min subquery).

    Adapted (no partsupp): part↔supplier pairs from lineitem; "min cost"
    becomes min s_acctbal among EUROPE suppliers that shipped the part.
    The pairs are deduped AFTER the part filter prunes (p_size/p_type pushed
    to the part scan), so the distinct shuffles only matching rows.
    """
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    pairs = (
        load(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select("l_partkey", "l_suppkey", "p_brand")
        .distinct()
        .join(eu_supp, F.col("l_suppkey") == eu_supp.s_suppkey)
    )
    best = pairs.groupBy(F.col("l_partkey").alias("bp")).agg(
        F.min(_dec("s_acctbal")).alias("min_bal")
    )
    return (
        pairs.join(
            best,
            (pairs.l_partkey == best.bp) & (_dec("s_acctbal") == best.min_bal),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            _dec("s_acctbal").alias("s_acctbal"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS (correlated semi-join) + grouped count.

    Adapted: commitdate<receiptdate → l_shipdate > o_orderdate (a lineitem
    shipped after the order date exists).  Left-semi join keeps orders
    exactly-once regardless of lineitem multiplicity.
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: pure scan-filter-sum; every predicate pushed to the parquet scan."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount", 5, 2)).alias("revenue")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two nation lineages (supplier side vs customer side) with a
    disjunctive pair predicate, grouped by year.

    nation is broadcast twice under different aliases; the only large
    shuffles are lineitem⋈orders and the final small agg.
    """
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_disc_price()).alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: conditional-sum ratio (market share of one supplier nation).

    Numerator/denominator kept as exact decimal sums; the share is divided in
    double and rounded to 6 on both engines.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    n_s = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    n_c = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = _disc_price()
    joined = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == F.col("r_regionkey"))
        .join(F.broadcast(n_s), s.s_nationkey == F.col("ns_key"))
    )
    zero = F.lit("0.00").cast("decimal(12,2)")
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(zero)).alias(
            "nation_volume"
        ),
        F.sum(vol).alias("total_volume"),
    )
    share = F.round(
        F.col("nation_volume").cast("double") / F.col("total_volume").cast("double"), 6
    ).cast("decimal(28,6)")
    return agg.select("o_year", "nation_volume", "total_volume", share.alias("mkt_share"))


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per (supplier nation, year) over a part-name filter.

    Adapted (no partsupp.ps_supplycost): cost = p_retailprice * quantity.
    All money math exact decimal; quantity is whole-valued so the decimal
    cast is lossless.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    amount = _disc_price() - _dec("p_retailprice") * _dec("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).alias("sum_profit"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by revenue lost to returns in one quarter.

    Grouped agg on the customer key then TakeOrderedAndProject for the
    top-k; deterministic tiebreak on c_custkey.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_disc_price()).alias("revenue"),
            F.max(_dec("c_acctbal")).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: grouped value sum + HAVING against a global-total scalar
    subquery.

    Adapted (no partsupp): "stock value" per part = sum of l_extendedprice
    shipped by one nation's suppliers (NATION_5 — fixture nations are
    synthetic names); keep parts whose value exceeds 0.05% of the national
    total.  The per-part aggregate feeds BOTH sides of the comparison (the
    rows and the global total), so it is a session artifact — one row per
    part, the same size discipline as q15's revenue view — and the 1-row
    total is broadcast.
    """
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    de = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    pv = artifact(
        spark,
        sf_dir,
        "q11_part_value",
        lambda: (
            l.join(de, l.l_suppkey == de.s_suppkey)
            .groupBy(F.col("l_partkey").alias("p_partkey"))
            .agg(F.sum(_dec("l_extendedprice")).alias("value"))
        ),
    )
    total = pv.agg(F.sum("value").alias("t"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value").cast("double") > F.col("t").cast("double") * 0.0005)
        .select("p_partkey", "value")
    )


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: priority-conditional counts over a late-shipment predicate.

    Adapted (no shipmode/commitdate): "late" = shipped >90 days after the
    order date, grouped by l_linestatus.
    """
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: orders-per-customer histogram via left outer join + double group."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: promo revenue share in one month; ratio from exact decimal sums."""
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    vol = _disc_price()
    zero = F.lit("0.00").cast("decimal(12,2)")
    agg = l.join(p, l.l_partkey == p.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).alias(
            "promo_volume"
        ),
        F.sum(vol).alias("total_volume"),
    )
    pct = F.round(
        F.lit(100.0)
        * F.col("promo_volume").cast("double")
        / F.col("total_volume").cast("double"),
        4,
    ).cast("decimal(28,4)")
    return agg.select("promo_volume", "total_volume", pct.alias("promo_revenue_pct"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: grouped revenue + scalar-max subquery join-back.

    The 1-row max is broadcast (cross join) — the Spark analog of the view +
    ``WHERE total_revenue = (SELECT max(...))`` pattern.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    # session artifact: the grouped revenue feeds BOTH the scalar max and
    # the join-back; without it the lineitem scan-agg runs twice
    rev = artifact(
        spark,
        sf_dir,
        "q15_revenue",
        lambda: l.groupBy("l_suppkey").agg(
            F.sum(_disc_price()).alias("total_revenue")
        ),
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.col("total_revenue"),
        )
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier count per part attribute group.

    Adapted (no partsupp): pairs from lineitem.  The distinct and the
    count-distinct shuffle on the grouping keys only after the part filter
    prunes.
    """
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
    )
    pairs = (
        load(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated per-part average threshold.

    avg(l_quantity) per part is computed once (map-side combinable) and
    joined back on partkey; quantities are whole numbers so the double avg is
    exact and order-independent.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#9")
    l = load(spark, sf_dir, "lineitem")
    lp = l.join(p, l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = lp.groupBy(F.col("l_partkey").alias("ap")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    small = lp.join(avg_q, lp.l_partkey == F.col("ap")).filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    total = small.agg(F.sum(_dec("l_extendedprice")).alias("t"))
    yearly = F.round(F.col("t").cast("double") / 7.0, 2).cast("decimal(28,2)")
    return total.select(yearly.alias("avg_yearly"))


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: large-quantity orders (grouped HAVING) joined back to customers."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        l.groupBy(F.col("l_orderkey").alias("bk"))
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > F.lit("300.00").cast("decimal(12,2)"))
    )
    return (
        big.join(o, F.col("bk") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            _dec("o_totalprice").alias("o_totalprice"),
            "sum_qty",
        )
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: disjunctive multi-attribute predicate across the part join.

    Adapted (no container/shipmode): brand × quantity-band × size-band arms.
    The OR-of-ANDs sits above a single equi-join on partkey, so the join
    itself stays hash-based (no nested-loop explosion).
    """
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem")
    j = l.join(p, l.l_partkey == p.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("l_quantity").between(1, 11)
        & F.col("p_size").between(1, 5)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("l_quantity").between(10, 20)
        & F.col("p_size").between(1, 10)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("l_quantity").between(20, 30)
        & F.col("p_size").between(1, 15)
    )
    return j.filter(arm1 | arm2 | arm3).agg(F.sum(_disc_price()).alias("revenue"))


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: semi-join chain — suppliers with significant 1997 volume of
    'small%' parts.

    Adapted (no partsupp availability threshold): total shipped quantity > 50.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    vol = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > F.lit("50.00").cast("decimal(12,2)"))
    )
    return vol.join(s, vol.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_qty"
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: blame the latest supplier on multi-supplier failed orders.

    Adapted (no commitdate/receiptdate): on each 'F' order with ≥2 distinct
    suppliers, the supplier(s) holding the max l_shipdate "kept it waiting".
    One grouped pass computes (max shipdate, supplier count) per order; the
    join-back is on the already-shuffled orderkey.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    lf = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_order = lf.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    blamed = lf.join(
        per_order,
        (lf.l_orderkey == F.col("ok"))
        & (lf.l_shipdate == F.col("max_ship"))
        & (F.col("n_supp") >= 2),
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar-average subquery + anti-join, grouped by country.

    Adapted (no c_phone): country code = c_nationkey, kept for a fixed code
    list; "positive balance average" is the global scalar subquery.  Every
    fixture customer has orders, so the anti-join target is narrowed to
    *urgent* orders to keep the NOT EXISTS branch non-trivial.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6))
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).alias("totacctbal"),
        )
    )


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_order_priority": q4_order_priority,
    "q6_revenue_forecast": q6_revenue_forecast,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_stock": q11_important_stock,
    "q12_late_shipments": q12_late_shipments,
    "q13_order_distribution": q13_order_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_part_count": q16_supplier_part_count,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q20_part_promotion": q20_part_promotion,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
}

_DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST('1.00' AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))"
)

ORACLE = {
    "q2_min_cost_supplier": """
        WITH pairs AS (
            SELECT DISTINCT l.l_partkey, l.l_suppkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
        ), eu AS (
            SELECT s.s_suppkey, s.s_name, CAST(s.s_acctbal AS DECIMAL(12,2)) AS bal
            FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
                            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        ), joined AS (
            SELECT pairs.l_partkey, pairs.p_brand, eu.s_name, eu.bal
            FROM pairs JOIN eu ON pairs.l_suppkey = eu.s_suppkey
        )
        SELECT l_partkey AS p_partkey, p_brand, s_name, bal AS s_acctbal
        FROM joined j
        WHERE bal = (SELECT min(bal) FROM joined j2 WHERE j2.l_partkey = j.l_partkey)
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """,
    "q6_revenue_forecast": """
        SELECT sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_discount AS DECIMAL(5,2))) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.04 AND l_discount <= 0.06
          AND l_quantity < 24
    """,
    "q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               sum({_DISC_PRICE_SQL}) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        GROUP BY 1, 2, 3
    """,
    "q8_market_share": f"""
        WITH vols AS (
            SELECT year(o_orderdate) AS o_year,
                   {_DISC_PRICE_SQL} AS volume,
                   ns.n_name AS supp_nation
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            JOIN region    ON nc.n_regionkey = r_regionkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
            WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        )
        SELECT CAST(o_year AS INTEGER) AS o_year,
               sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                        ELSE CAST('0.00' AS DECIMAL(12,2)) END) AS nation_volume,
               sum(volume) AS total_volume,
               CAST(round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                                        ELSE CAST('0.00' AS DECIMAL(12,2)) END) AS DOUBLE)
                          / CAST(sum(volume) AS DOUBLE), 6) AS DECIMAL(28,6)) AS mkt_share
        FROM vols GROUP BY o_year
    """,
    "q9_product_profit": f"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
               sum({_DISC_PRICE_SQL}
                   - CAST(p_retailprice AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(12,2))) AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY 1, 2
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name, n_name,
               sum({_DISC_PRICE_SQL}) AS revenue,
               max(CAST(c_acctbal AS DECIMAL(12,2))) AS c_acctbal
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q11_important_stock": """
        WITH pv AS (
            SELECT l_partkey AS p_partkey,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_5'
            GROUP BY l_partkey
        )
        SELECT p_partkey, value FROM pv
        WHERE value::DOUBLE > (SELECT sum(value)::DOUBLE * 0.0005 FROM pv)
    """,
    "q12_late_shipments": """
        SELECT l_linestatus,
               count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                          THEN 1 END) AS high_line_count,
               count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                          THEN 1 END) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND date_diff('day', o_orderdate, l_shipdate) > 90
        GROUP BY l_linestatus
    """,
    "q13_order_distribution": """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey
        ) t GROUP BY c_count
    """,
    "q14_promo_revenue": f"""
        WITH t AS (
            SELECT sum(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE_SQL}
                            ELSE CAST('0.00' AS DECIMAL(12,2)) END) AS promo_volume,
                   sum({_DISC_PRICE_SQL}) AS total_volume
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate <  TIMESTAMP '1996-10-01'
        )
        SELECT promo_volume, total_volume,
               CAST(round(100.0 * CAST(promo_volume AS DOUBLE)
                          / CAST(total_volume AS DOUBLE), 4) AS DECIMAL(28,4))
                   AS promo_revenue_pct
        FROM t
    """,
    "q15_top_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey, sum({_DISC_PRICE_SQL}) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "q16_supplier_part_count": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (
            SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 15, 25, 35, 45)
        ) t
        GROUP BY p_brand, p_type, p_size
    """,
    "q17_small_quantity_revenue": """
        WITH lp AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#9'
        )
        SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                          / 7.0, 2) AS DECIMAL(28,2)) AS avg_yearly
        FROM lp l
        WHERE l_quantity < 0.2 * (SELECT avg(l_quantity) FROM lp l2
                                  WHERE l2.l_partkey = l.l_partkey)
    """,
    "q18_large_volume_customer": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, sum_qty
        FROM (
            SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > CAST('300.00' AS DECIMAL(12,2))
        ) big
        JOIN orders   ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q19_discounted_revenue": f"""
        SELECT sum({_DISC_PRICE_SQL}) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
               AND p_size BETWEEN 1 AND 5)
           OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
               AND p_size BETWEEN 1 AND 10)
           OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
               AND p_size BETWEEN 1 AND 15)
    """,
    "q20_part_promotion": """
        SELECT s_suppkey, s_name, total_qty
        FROM (
            SELECT l_suppkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'small%'
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_suppkey
            HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > CAST('50.00' AS DECIMAL(12,2))
        ) v
        JOIN supplier ON v.l_suppkey = s_suppkey
    """,
    "q21_waiting_supplier": """
        WITH lf AS (
            SELECT l_orderkey, l_suppkey, l_shipdate
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ), per_order AS (
            SELECT l_orderkey AS ok, max(l_shipdate) AS max_ship,
                   count(DISTINCT l_suppkey) AS n_supp
            FROM lf GROUP BY l_orderkey
        )
        SELECT s_name, count(DISTINCT lf.l_orderkey) AS numwait
        FROM lf
        JOIN per_order ON lf.l_orderkey = ok AND lf.l_shipdate = max_ship
                       AND n_supp >= 2
        JOIN supplier ON lf.l_suppkey = s_suppkey
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "q22_global_sales_opportunity": """
        SELECT c_nationkey AS cntrycode, count(*) AS numcust,
               sum(CAST(c_acctbal AS DECIMAL(12,2))) AS totacctbal
        FROM customer c
        WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
          AND c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_acctbal > 0
                             AND c2.c_nationkey IN (0, 1, 2, 3, 4, 5, 6))
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
    """,
}
