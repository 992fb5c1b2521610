"""Relational core: the join + aggregation surface of the reference
(SURVEY §2.4 J1-J5, §2.5 A1-A5) expressed on the driver testdata.

Each query function takes (spark, sf_dir) -> DataFrame; ORACLE holds the
DuckDB-equivalent SQL keyed by the same name. Column aliases match exactly
(the driver sorts columns by name before value-hashing).

Scale notes (100 TB posture):
  - fact-fact joins (orders x lineitem) are plain equi-joins -> shuffled
    hash/sort-merge on the join key; AQE picks and splits skew.
  - dim joins (region/nation/customer/part/supplier) are explicitly
    broadcast — at any scale the dims stay small relative to facts
    (mirrors the reference's HBase/Redis lookup joins J3/J7-J9, e.g.
    app/dws/DwsTradeSkuOrderWindow.java:167-254, re-expressed as one
    logical broadcast enrich).
  - aggregations are declarative groupBy.agg -> partial (map-side) +
    final hash aggregation; no driver-side collects.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_spark.functions.money import dec, dsum
from gmall_flink_spark.sources.tables import table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowless scan-aggregate (A1/A3 analog: per-key counter + decimal
    money sums, cf. app/dws/DwsTradeSkuOrderWindow.java:149-166)."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + dec("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fact join + dim filter + top-k (J1 streaming inner equi-join
    batch twin, cf. app/dwd/DwdTradeOrderDetail.java:122-167)."""
    cust = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1999-01-01"))
    li = table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1999-01-01"))
    revenue = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way snowflake join, dims broadcast (J7 dim-chain analog: the
    sku->spu->tm->c3->c2->c1 enrichment chain of
    app/dws/DwsTradeSkuOrderWindow.java:167-254 collapsed into declarative
    broadcast joins)."""
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    sup = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(sup.s_nationkey == cust.c_nationkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count(F.lit(1)).alias("line_ct"))
        .orderBy("region_name", "nation_name")
    )


def left_join_null_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a sparse right side (J2 batch twin: the
    order_detail LEFT JOIN activity/coupon null-padding of
    app/dwd/DwdTradeOrderDetail.java:168-169)."""
    orders = table(spark, sf_dir, "orders")
    big = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48)
    joined = orders.join(big, orders.o_orderkey == big.l_orderkey, "left")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("row_ct"),
            F.count("l_orderkey").alias("matched_ct"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("null_ct"),
        )
        .orderBy("o_orderstatus")
    )


def enrich_dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup-join enrichment (J3 `FOR SYSTEM_TIME AS OF` vs HBase dim,
    cf. app/dwd/DwdInterationCommentInfo.java:64-78): fact rows enriched
    from two broadcast dims, grouped on enriched attributes."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    sup = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("n_name").alias("supp_nation"))
        .agg(
            dsum("l_extendedprice", "ext_price"),
            F.count(F.lit(1)).alias("line_ct"),
        )
        .orderBy("brand", "supp_nation")
    )


def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (J5: `od.rt BETWEEN pi.rt - 15 MIN AND
    pi.rt + 5 SEC`, app/dwd/DwdTradePayDetailSuc.java:100-127): for every
    purchase, the same user's click/view events in the 15 minutes before
    (+5s slack after)."""
    ev = table(spark, sf_dir, "events")
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_event"),
        F.col("ts").alias("p_ts"),
    )
    clk = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_event"),
        F.col("ts").alias("c_ts"),
    )
    joined = pur.join(
        clk,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 15 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 5 SECONDS")),
        "inner",
    )
    return (
        joined.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("pair_ct"),
            F.countDistinct("p_event").alias("purchase_ct"),
            F.countDistinct("c_event").alias("click_ct"),
        )
        .orderBy("user_id")
    )


def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (free in Spark; SURVEY §2.4 notes semi/anti come for
    free): customers with no recent (>=2000) orders, counted per nation."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("idle_ct"))
        .orderBy("nationkey")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-filter-aggregate: every predicate reaches the parquet scan
    (PushedFilters) and only 4 columns are read (ReadSchema) — the
    pushdown/pruning showcase (SURVEY §4)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("line_ct"),
        )
    )


def stats_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per event_type — the
    reference has no quantile operator; Spark's exact `percentile` comes
    free and matches DuckDB's quantile_cont bit-for-bit after rounding."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def custom_agg_sumsq_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via Arrow GROUPED_AGG pandas_udf (U3: the reference's
    ReduceFunction/WindowFunction pairs generalized to user aggregates).
    Integer-exact: value -> rounded cents -> sum of squares, so the oracle
    compares int64s, not FP."""
    from pyspark.sql.functions import pandas_udf

    # GROUPED_AGG requires a float return hint; the sum stays < 2^53 so the
    # double round-trip is exact, and the long cast restores the int64 type
    @pandas_udf("double")
    def sumsq_cents(v: pd.Series) -> float:
        cents = (v * 100).round().astype("int64")
        return float((cents * cents).sum())

    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(sumsq_cents("value").cast("long").alias("sumsq_cents"))
        .orderBy("event_type")
    )


def events_value_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of value vs props.k per event_type, computed
    EXACTLY: the five moment sums accumulate as integers (value in cents),
    so no FP crosses a shuffle; the correlation is ONE double formula over
    exact sums — deterministic where built-in ``corr`` (FP running sums)
    is partition-order-dependent."""
    ev = table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("bigint")
    y = F.get_json_object("props", "$.k").cast("bigint")
    # no y-notnull FILTER: Catalyst pushes such a filter below the
    # projection, so the per-row JSON parse runs twice (once in the
    # pushed predicate, once in the project — the guide §4.4 duplication,
    # with a JVM expression instead of a UDF). Restricting every moment
    # to y-notnull rows inside the aggregate (count(y); sum skips nulls;
    # x-only moments when()-guarded) parses each props string ONCE and
    # is exactly the filtered semantics the oracle computes.
    both = ev.select("event_type", x.alias("x"), y.alias("y"))
    agg = both.groupBy("event_type").agg(
        F.count("y").alias("n"),
        F.sum(F.when(F.col("y").isNotNull(), F.col("x"))).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.when(F.col("y").isNotNull(), F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).where(F.col("n") > 0)  # a group with zero y rows did not exist pre-agg
    # combine moments in DECIMAL(38,0): n·sxx products overflow int64 once
    # row counts pass ~10^5 per group (the 100 TB cliff int64 moments hit)
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    n, sx, sy = d("n"), d("sx"), d("sy")
    cov = (n * d("sxy") - sx * sy).cast("double")
    vx = (n * d("sxx") - sx * sx).cast("double")
    vy = (n * d("syy") - sy * sy).cast("double")
    return agg.select(
        "event_type",
        F.col("n"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr_xy"),
    ).orderBy("event_type")


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS) — free in Spark beyond the reference's equi-joins
    (SURVEY §2.4 note): orders with at least one late lineitem, counted per
    priority."""
    orders = table(spark, sf_dir, "orders")
    late = table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey").distinct()
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_ct"))
        .orderBy("o_orderpriority")
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio: promo revenue share per month (the
    CASE-WHEN-inside-agg shape; exact decimal sums, double division)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    # null for non-promo rows — sum() skips nulls, so no typed zero literal
    promo = F.when(F.col("p_type").startswith("PROMO"), rev)
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (
        joined.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .withColumn("promo_share", F.round(F.col("promo_revenue") / F.col("total_revenue"), 6))
        .orderBy("ship_month")
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-HAVING + re-join: orders whose total quantity exceeds 150,
    with customer info (the TPC-H q18 shape)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("c_name").alias("customer_name"),
            F.col("total_qty").cast("double").alias("total_qty"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price"),
        )
        .orderBy("order_id")
    )


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction over the schemaless props column
    (get_json_object — the fastjson field-pluck pattern, §2.9): per
    event_type sum/max of props.k."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).alias("k_sum"), F.max(k).alias("k_max"),
             F.count(k).alias("k_ct"))
        .orderBy("event_type")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer, top 20 (TPC-H q10 shape: fact
    filter + two joins + top-k)."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("cust_id"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("line_ct"))
        .orderBy(F.desc("revenue"), F.asc("cust_id"))
        .limit(20)
    )


def q19_discount_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-ed multi-band predicate (TPC-H q19 shape): disjunctive
    quantity/price bands — Catalyst pushes the whole disjunction to the
    scan."""
    li = table(spark, sf_dir, "lineitem")
    band = (
        ((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11) & (F.col("l_discount") >= 0.05))
        | ((F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30) & (F.col("l_discount") <= 0.03))
        | ((F.col("l_quantity") >= 45) & (F.col("l_tax") >= 0.07))
    )
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return li.where(band).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("line_ct"),
    )


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (region -> nation -> grand total) — beyond the
    reference (no grouping sets exist there, SURVEY §2.5); free in Spark."""
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("order_ct"),
        )
        .orderBy(F.col("region_name").asc_nulls_first(), F.col("nation_name").asc_nulls_first())
    )


def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom temporal operator, operators/asof.py): attribute
    every purchase to the user's latest click at-or-before purchase time —
    the event-time generalization of the reference's `FOR SYSTEM_TIME AS OF`
    lookup join (J3, app/dwd/DwdInterationCommentInfo.java:64-78)."""
    from gmall_flink_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="purchase_ts",
        right_ts="click_ts", payload=["click_ts", "click_id"],
    )
    return out.select(
        "purchase_id", "user_id", "click_id",
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.unix_micros("click_ts").alias("click_us"),
    ).orderBy("purchase_id")


#: funnel step window (µs): each stage must follow within an hour
FUNNEL_STEP_US = 3_600_000_000


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-stage conversion funnel per day (view → click → purchase, each
    stage within an hour of the previous): sequenced conditional
    aggregation via keyed interval joins (J5 family) — the user key is the
    only shuffle; stage windows are integer-µs predicates."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "d")
        .agg(F.min("us").alias("v_us"))
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("c_us")
    )
    vc = (
        v.join(clicks, "user_id")
        .where(
            (F.col("c_us") > F.col("v_us"))
            & (F.col("c_us") <= F.col("v_us") + FUNNEL_STEP_US)
        )
        .groupBy("user_id", "d")
        .agg(F.min("c_us").alias("c1_us"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("us").alias("p_us")
    )
    vcp = (
        vc.join(purchases, "user_id")
        .where(
            (F.col("p_us") > F.col("c1_us"))
            & (F.col("p_us") <= F.col("c1_us") + FUNNEL_STEP_US)
        )
        .select("user_id", "d")
        .distinct()
    )
    stage1 = v.groupBy("d").agg(F.count(F.lit(1)).alias("viewer_ct"))
    stage2 = vc.groupBy("d").agg(F.count(F.lit(1)).alias("click_conv_ct"))
    stage3 = vcp.groupBy("d").agg(F.count(F.lit(1)).alias("purchase_conv_ct"))
    return (
        stage1.join(stage2, "d", "left")
        .join(stage3, "d", "left")
        .select(
            "d",
            "viewer_ct",
            F.coalesce("click_conv_ct", F.lit(0)).alias("click_conv_ct"),
            F.coalesce("purchase_conv_ct", F.lit(0)).alias("purchase_conv_ct"),
        )
        .orderBy("d")
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "events_funnel": events_funnel,
    "asof_click_attribution": asof_click_attribution,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q4_order_priority": q4_order_priority,
    "q14_promo_share": q14_promo_share,
    "q18_large_orders": q18_large_orders,
    "q10_returned_items": q10_returned_items,
    "q19_discount_bands": q19_discount_bands,
    "events_props_stats": events_props_stats,
    "events_value_corr": events_value_corr,
    "rollup_revenue": rollup_revenue,
    "stats_value_quantiles": stats_value_quantiles,
    "custom_agg_sumsq_cents": custom_agg_sumsq_cents,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "left_join_null_path": left_join_null_path,
    "enrich_dim_chain": enrich_dim_chain,
    "interval_join_events": interval_join_events,
    "anti_join_idle_customers": anti_join_idle_customers,
}

_DISC = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

ORACLE = {
    "events_funnel": f"""
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS us,
                   strftime(ts, '%Y-%m-%d') AS d
            FROM events
        ),
        v AS (SELECT user_id, d, MIN(us) AS v_us FROM ev
              WHERE event_type = 'view' GROUP BY 1, 2),
        vc AS (
            SELECT v.user_id, v.d, MIN(c.us) AS c1_us
            FROM v JOIN ev c ON c.user_id = v.user_id AND c.event_type = 'click'
                            AND c.us > v.v_us AND c.us <= v.v_us + {FUNNEL_STEP_US}
            GROUP BY 1, 2
        ),
        vcp AS (
            SELECT DISTINCT vc.user_id, vc.d
            FROM vc JOIN ev p ON p.user_id = vc.user_id
                             AND p.event_type = 'purchase'
                             AND p.us > vc.c1_us
                             AND p.us <= vc.c1_us + {FUNNEL_STEP_US}
        )
        SELECT v.d,
               COUNT(*) AS viewer_ct,
               CAST(COALESCE(MAX(s2.ct), 0) AS BIGINT) AS click_conv_ct,
               CAST(COALESCE(MAX(s3.ct), 0) AS BIGINT) AS purchase_conv_ct
        FROM v
        LEFT JOIN (SELECT d, COUNT(*) AS ct FROM vc GROUP BY 1) s2 USING (d)
        LEFT JOIN (SELECT d, COUNT(*) AS ct FROM vcp GROUP BY 1) s3 USING (d)
        GROUP BY 1 ORDER BY 1
    """,
    "q10_returned_items": """
        SELECT c_custkey AS cust_id, c_name AS cust_name, n_name AS nation_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS line_ct
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, cust_id LIMIT 20
    """,
    "q19_discount_bands": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS line_ct
        FROM lineitem
        WHERE (l_quantity BETWEEN 1 AND 11 AND l_discount >= 0.05)
           OR (l_quantity BETWEEN 20 AND 30 AND l_discount <= 0.03)
           OR (l_quantity >= 45 AND l_tax >= 0.07)
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_ct
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY 1 ORDER BY 1
    """,
    "q14_promo_share": """
        WITH j AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                   CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                       AS rev,
                   p_type LIKE 'PROMO%' AS is_promo
            FROM lineitem JOIN part ON l_partkey = p_partkey
        )
        SELECT ship_month,
               CAST(SUM(CASE WHEN is_promo THEN rev END) AS DOUBLE)
                   AS promo_revenue,
               CAST(SUM(rev) AS DOUBLE) AS total_revenue,
               round(CAST(SUM(CASE WHEN is_promo THEN rev END) AS DOUBLE)
                     / CAST(SUM(rev) AS DOUBLE), 6) AS promo_share
        FROM j GROUP BY 1 ORDER BY 1
    """,
    "q18_large_orders": """
        WITH big AS (
            SELECT l_orderkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
            FROM lineitem GROUP BY 1
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
        )
        SELECT l_orderkey AS order_id, c_name AS customer_name,
               CAST(total_qty AS DOUBLE) AS total_qty,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY order_id
    """,
    "events_value_corr": """
        WITH b AS (
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS x,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
        ),
        agg AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM b GROUP BY 1
        )
        SELECT event_type, n,
               round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                            * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)),
                     6) AS corr_xy
        FROM agg ORDER BY 1
    """,
    "events_props_stats": """
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
               COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_ct
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "custom_agg_sumsq_cents": """
        SELECT event_type,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sumsq_cents
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "stats_value_quantiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "rollup_revenue": """
        SELECT r_name AS region_name, n_name AS nation_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS order_ct
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY region_name NULLS FIRST, nation_name NULLS FIRST
    """,
    "q6_forecast_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS line_ct
        FROM lineitem
        WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
    "asof_click_attribution": """
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
                   FROM events WHERE event_type = 'click')
        SELECT purchase_id, p.user_id, click_id,
               epoch_us(purchase_ts) AS purchase_us,
               epoch_us(click_ts) AS click_us
        FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
        QUALIFY row_number() OVER (
            PARTITION BY purchase_id
            ORDER BY c.click_ts DESC NULLS LAST, c.click_id DESC NULLS LAST) = 1
        ORDER BY purchase_id
    """,
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM({_DISC}) AS DOUBLE) AS sum_disc_price,
               CAST(SUM({_DISC} * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": f"""
        SELECT l_orderkey,
               CAST(SUM({_DISC}) AS DOUBLE) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderpriority
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q5_region_revenue": f"""
        SELECT r_name AS region_name, n_name AS nation_name,
               CAST(SUM({_DISC}) AS DOUBLE) AS revenue,
               COUNT(*) AS line_ct
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE s_nationkey = c_nationkey
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY r_name, n_name
        ORDER BY region_name, nation_name
    """,
    "left_join_null_path": """
        SELECT o_orderstatus,
               COUNT(*) AS row_ct,
               COUNT(l_orderkey) AS matched_ct,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ct
        FROM orders
        LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 48) big
          ON o_orderkey = big.l_orderkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "enrich_dim_chain": """
        SELECT p_brand AS brand, n_name AS supp_nation,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext_price,
               COUNT(*) AS line_ct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY p_brand, n_name
        ORDER BY brand, supp_nation
    """,
    "interval_join_events": """
        SELECT p.user_id AS user_id,
               COUNT(*) AS pair_ct,
               COUNT(DISTINCT p.event_id) AS purchase_ct,
               COUNT(DISTINCT c.event_id) AS click_ct
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type IN ('click','view')) c
          ON p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL '15 minutes'
         AND c.ts <= p.ts + INTERVAL '5 seconds'
        GROUP BY p.user_id
        ORDER BY user_id
    """,
    "anti_join_idle_customers": """
        SELECT c_nationkey AS nationkey, COUNT(*) AS idle_ct
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c_nationkey
        ORDER BY nationkey
    """,
}

