"""Relational analytics core: the 22 TPC-H queries on the star schema.

Each query is a function ``(spark, sf_dir) -> DataFrame`` written with
the DataFrame API so Catalyst gets a declarative plan (pushdown, join
reordering, partial aggregation are free). Small dimensions are
broadcast explicitly; fact-fact joins shuffle on their keys and rely on
AQE for skew. ``ORACLE`` holds the DuckDB-ANSI twin of every query —
column names and rounding match exactly (driver hashes values after
sorting columns by name).

All monetary aggregates are rounded to 2 decimals *in both engines* so
floating-point summation order cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: filter + wide multi-aggregate groupBy.

    Scale: ~6 output groups -> map-side partial aggregation collapses
    virtually all rows before the single tiny shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped orders by revenue for one market segment.

    Scale: customer filter prunes ~4/5 of customers before the join;
    orders joins lineitem on l_orderkey (shuffle), then a 10-row
    deterministic top-k (rounded revenue, orderkey tiebreak).
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking: EXISTS expressed as a left-semi join.

    Scale: the semi join ships only l_orderkey (distinct-applied by the
    semi-join itself), never widening the build side.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey"), "inner"
    ).filter(F.col("l_shipdate") > F.col("o_orderdate"))
    return (
        orders.join(
            late.select("l_orderkey").distinct(),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: 6-way star join for one region/year.

    Scale: region+nation+supplier are broadcast (tiny at any SF); the
    only shuffles are fact joins orders⋈customer and lineitem⋈orders.
    """
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change: pure scan-filter-aggregate, no shuffle.

    Scale: all three predicates push down to the parquet scan; a single
    global sum is a two-stage partial/final agg over one value.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by lost revenue on returned items."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share: broadcast-joined conditional aggregate."""
    part = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0))
                / F.sum(disc_price),
                4,
            ).alias("promo_revenue")
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: HAVING on an aggregate, then joins.

    Scale: aggregate lineitem FIRST (shrinks the fact table to
    qualifying orderkeys), then join the small survivor set to orders
    and customer — never joins the full fact tables.
    """
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under OR-of-ANDs predicates (TPC-H Q19 shape).

    Scale: part is broadcast; the disjunction stays inside whole-stage
    codegen as one vectorized predicate after the join.
    """
    part = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 20))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(10, 30))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(20, 50))
            & (F.col("l_quantity").between(20, 40))
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between nation pairs by year (TPC-H Q7 shape).

    Scale: both nation lookups broadcast; the fact side shuffles twice
    (lineitem⋈supplier is map-side via broadcast, orders⋈customer and
    lineitem⋈orders on their keys) then a small groupBy.
    """
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supp = _t(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = _t(spark, sf_dir, "customer").join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pair_filter = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair_filter)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation and year (TPC-H Q9 shape; cost term
    adapted to this schema's part.p_retailprice).

    Scale: part+supplier+nation broadcast; lineitem never shuffles until
    the final small (nation, year) aggregation.
    """
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier").join(
            nation, F.col("s_nationkey") == F.col("n_nationkey")
        ).select("s_suppkey", F.col("n_name").alias("nation"))
    )
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_name").contains("a"))
    )
    li = _t(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.01
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count distribution over customers (TPC-H Q13): LEFT OUTER
    join + two-level aggregation, keeping zero-order customers.

    Scale: the outer join shuffles on custkey; the second groupBy is on
    the tiny order-count domain (map-side partial collapses it).
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17): correlated scalar
    subquery (per-part avg quantity) as an aggregate + self-join.

    Scale: the per-part avg is a partial-agg shuffle on l_partkey that
    AQE can reuse for the probe join; one brand prunes the probe side
    via a broadcast part filter.
    """
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    )
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = (
        li.groupBy("l_partkey")
        .agg((0.2 * F.avg("l_quantity")).alias("qty_threshold"))
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle wealthy customers (TPC-H Q22 shape): scalar global avg +
    NOT EXISTS as a left-anti join, grouped by nation.

    Scale: the global avg is a one-row broadcast; the anti join ships
    only distinct o_custkey. No row of customer widens before the agg.
    """
    cust = _t(spark, sf_dir, "customer")
    # every synthetic customer has orders, so the NOT EXISTS probes the
    # urgent subset — same anti-join shape, non-vacuous result
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            urgent.select("o_custkey").distinct(),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by period revenue (TPC-H Q15: revenue view +
    scalar max + equality join back).

    Scale: the revenue agg shuffles once on suppkey; the max is a
    1-row broadcast; supplier is a broadcast dim.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier count per part attribute (TPC-H Q16 shape): distinct
    count + NOT IN anti-join (suppliers in poor standing excluded).

    Scale: the anti join ships only the (tiny) excluded-supplier key
    set; the distinct count shuffles once on the group key.
    """
    part = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 2, 3, 4))
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    pairs = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(bad, "l_suppkey", "left_anti")
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-per-group correlated subquery (TPC-H Q2 shape, adapted to
    this schema): for each part, the supplier(s) with the lowest
    account balance among those who shipped it.

    Scale: the (part, supplier) pair set reduces to a per-part min
    (one shuffle), then equality-joins back — no correlated re-scan.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_size") <= 3)
    )
    pairs = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
    mins = pairs.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        pairs.join(
            mins,
            (F.col("p_partkey") == F.col("mk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): for one part type sold
    into one region, the yearly revenue fraction supplied by one
    nation.

    Scale: region/nation/supplier/part are broadcast dims; the only
    shuffles are the two fact joins (lineitem⋈orders, orders⋈customer)
    plus a tiny per-year aggregation. The share division happens after
    partial aggregation, on a handful of rows.
    """
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    cnation = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cn_nationkey"),
            F.col("n_regionkey").alias("cn_regionkey"),
        )
    )
    snation = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_nationkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(snation, F.col("s_nationkey") == F.col("sn_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(cnation, F.col("c_nationkey") == F.col("cn_nationkey"))
        .join(region, F.col("cn_regionkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape, adapted: no
    partsupp table, so "value" is shipped extended price per part for
    suppliers of one nation).

    Scale: one shuffle on l_partkey for the per-part value; the global
    threshold is a 1-row broadcast (no second pass over the fact).
    """
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey").isin(1, 3))
    )
    li = _t(spark, sf_dir, "lineitem")
    per_part = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("part_value"))
    )
    threshold = per_part.agg(
        (F.sum("part_value") * 0.001).alias("cutoff")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("cutoff"))
        .select(
            "l_partkey", F.round("part_value", 2).alias("part_value")
        )
    )


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority classes among late shipments (TPC-H Q12
    shape, adapted: no l_shipmode column — grouped by l_linestatus;
    "late" means shipped after the order date).

    Scale: one shuffle join lineitem⋈orders on orderkey; the
    conditional counts are map-side partial aggregates over a
    2-value group domain.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers shipping well above the per-part average (TPC-H Q20
    shape, adapted: no partsupp availqty — the threshold is 1.2x the
    per-part mean shipped quantity across suppliers in the window).

    Scale: nested aggregation — one shuffle on (suppkey, partkey),
    re-agg on partkey (smaller), broadcast-join the per-part averages
    back, then a left-semi join ships only distinct suppkeys.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    )
    shipped = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    avg_part = shipped.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("qty").alias("avg_qty")
    )
    qualifying = (
        shipped.join(avg_part, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("qty") > 1.2 * F.col("avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    return supp.join(
        qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape, adapted:
    "late" = shipped after the order date). A supplier's lineitem
    counts when it is late, the order has other suppliers (EXISTS),
    and no OTHER supplier was late on it (NOT EXISTS).

    Scale: the correlated EXISTS / NOT EXISTS pair collapses into ONE
    per-order aggregate (distinct suppliers, distinct late suppliers)
    — a single orderkey shuffle instead of two self-joins; the
    qualifying-order set then joins back on the same key (AQE reuses
    the exchange). Supplier names via broadcast.
    """
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    flagged = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).withColumn("is_late", F.col("l_shipdate") > F.col("o_orderdate"))
    order_stats = flagged.groupBy(F.col("l_orderkey").alias("k_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        flagged.filter(F.col("is_late"))
        .join(
            order_stats.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ),
            F.col("l_orderkey") == F.col("k_orderkey"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q8_market_share": q8_market_share,
    "q11_important_parts": q11_important_parts,
    "q12_late_shipments": q12_late_shipments,
    "q20_excess_shippers": q20_excess_shippers,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q15_top_supplier": q15_top_supplier,
    "q16_parts_suppliers": q16_parts_suppliers,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_revenue_forecast": q6_revenue_forecast,
    "q10_returned_items": q10_returned_items,
    "q14_promo_revenue": q14_promo_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive": q19_disjunctive,
    "q7_nation_volume": q7_nation_volume,
    "q9_product_profit": q9_product_profit,
    "q13_customer_distribution": q13_customer_distribution,
    "q17_small_quantity": q17_small_quantity,
    "q22_idle_customers": q22_idle_customers,
}

ORACLE = {
    "q8_market_share": """
        WITH flows AS (
          SELECT year(o_orderdate) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 sn.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        )
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_1'
                              THEN volume ELSE 0 END) / sum(volume),
                     6) AS mkt_share,
               round(sum(volume), 2) AS total_volume
        FROM flows
        GROUP BY o_year
    """,
    "q11_important_parts": """
        WITH per_part AS (
          SELECT l_partkey, sum(l_extendedprice) AS part_value
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          WHERE s_nationkey IN (1, 3)
          GROUP BY l_partkey
        )
        SELECT l_partkey, round(part_value, 2) AS part_value
        FROM per_part
        WHERE part_value > (SELECT sum(part_value) * 0.001 FROM per_part)
    """,
    "q12_late_shipments": """
        SELECT l_linestatus,
               -- DuckDB sum(int) yields HUGEINT; cast to BIGINT so the
               -- byte-level value hash matches Spark's bigint result.
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate
        GROUP BY l_linestatus
    """,
    "q20_excess_shippers": """
        WITH shipped AS (
          SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'small%'
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_suppkey, l_partkey
        ), avg_part AS (
          SELECT l_partkey AS a_partkey, avg(qty) AS avg_qty
          FROM shipped GROUP BY l_partkey
        )
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM shipped
          JOIN avg_part ON l_partkey = a_partkey
          WHERE qty > 1.2 * avg_qty
        )
    """,
    "q21_waiting_supplier": """
        SELECT s_suppkey, s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders ON l1.l_orderkey = o_orderkey
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate
          )
        GROUP BY s_suppkey, s_name
    """,
    "q2_min_cost_supplier": """
        WITH pairs AS (
          SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          WHERE p_size <= 3
        )
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
        FROM pairs p
        WHERE s_acctbal = (
          SELECT min(s_acctbal) FROM pairs m WHERE m.p_partkey = p.p_partkey
        )
    """,
    "q15_top_supplier": """
        WITH revenue AS (
          SELECT l_suppkey,
                 round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "q16_parts_suppliers": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_size IN (1, 2, 3, 4)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
          )
        GROUP BY p_brand, p_type, p_size
    """,
    "q7_nation_volume": """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
    """,
    "q9_product_profit": """
        SELECT n_name AS nation, year(l_shipdate) AS o_year,
               round(sum(l_extendedprice * (1 - l_discount)
                         - p_retailprice * l_quantity * 0.01), 2) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%a%'
        GROUP BY 1, 2
    """,
    "q13_customer_distribution": """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    "q17_small_quantity": """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_lineitems
        FROM lineitem li
        JOIN part ON li.l_partkey = p_partkey
        JOIN (
          SELECT l_partkey AS t_partkey,
                 0.2 * avg(l_quantity) AS qty_threshold
          FROM lineitem GROUP BY l_partkey
        ) t ON li.l_partkey = t.t_partkey
        WHERE p_brand = 'Brand#23'
          AND li.l_quantity < t.qty_threshold
    """,
    "q22_idle_customers": """
        SELECT c_nationkey, count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
          )
        GROUP BY c_nationkey
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 2) AS avg_qty,
               round(avg(l_extendedprice), 2) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    "q5_local_supplier": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """,
    "q6_revenue_forecast": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(max(c_acctbal), 2) AS c_acctbal
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q14_promo_revenue": """
        SELECT round(
                 100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
    """,
    "q18_large_orders": """
        WITH big AS (
          SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, sum_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q19_disjunctive": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    """,
}
