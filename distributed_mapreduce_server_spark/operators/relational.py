"""Relational / analytical operators (SURVEY.md §2.2).

TPC-H-style queries over the test tables, written DataFrame-first so
Catalyst handles pushdown, join reordering, and partial aggregation.
Every aggregate/computed column is aliased identically to its oracle
SQL (driver hash-compares by sorted column name). Doubles are rounded
to 2 decimals in both engines to absorb summation-order noise.

Scale notes (100 TB):
- dim tables (region, nation, supplier at dim-scale) are broadcast
  explicitly; fact-fact joins shuffle on their keys with AQE skew
  splitting enabled (session.py).
- every query filters/projects on the base scan so parquet pushdown
  and column pruning apply (asserted in tests/test_plans.py).
- top-N queries use orderBy+limit which Spark executes as a
  TakeOrderedAndProject (per-partition heap + driver merge, no global
  sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.functions import fround


def _r2(c):
    return fround(c, 2)


def _with_grand_total(grouped: DataFrame, **empty) -> DataFrame:
    """``grouped`` (a ROLLUP, CUBE or GROUPING SETS aggregation with a
    ``()`` set) plus the grand-total row SQL gives an empty input and
    Spark does not: one global aggregate (always a row) packs the rows,
    explode_outer turns none into a NULL row, ``empty`` fills its
    columns. The input is read once; the extra shuffle is result-sized."""
    rows = grouped.agg(F.collect_list(F.struct(*grouped.columns)).alias("r"))
    rows = rows.select(F.explode_outer("r").alias("r")).select("r.*")
    return rows.select(
        *(F.coalesce(c, F.lit(empty[c])).alias(c) if c in empty else c for c in rows.columns)
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-heavy filter + wide group-agg (flagship).

    Partial (map-side) aggregation makes this shuffle only 4 grouped
    rows per partition regardless of input size.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"]
    disc_price = l.l_extendedprice * (1 - l.l_discount)
    charge = disc_price * (1 + l.l_tax)
    return (
        l.filter(l.l_shipdate <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(F.sum(disc_price)).alias("sum_disc_price"),
            _r2(F.sum(charge)).alias("sum_charge"),
            _r2(F.avg("l_quantity")).alias("avg_qty"),
            _r2(F.avg("l_extendedprice")).alias("avg_price"),
            _r2(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter + 3-way join + top-10.

    customer(filtered) is small -> broadcast into orders; the
    orders⋈lineitem join shuffles on orderkey. Deterministic top-10 via
    unique tiebreak (o_orderkey).
    """
    t = load_tables(spark, sf_dir, register_views=False)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_r2(F.sum(li.l_extendedprice * (1 - li.l_discount))).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join with co-located supplier/customer nation.

    region+nation broadcast (tiny dims); the customer⋈orders⋈lineitem
    ⋈supplier chain shuffles on its keys and AQE picks broadcast for
    the supplier side when the runtime size allows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    region = t["region"].filter(F.col("r_name") == "ASIA")
    nation = t["nation"]
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t["lineitem"]
    cust = t["customer"]
    supp = t["supplier"]
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_r2(F.sum(li.l_extendedprice * (1 - li.l_discount))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: tight filter + single sum; filters push to parquet."""
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"]
    return (
        l.filter(
            (l.l_shipdate >= F.lit("1996-01-01").cast("timestamp"))
            & (l.l_shipdate < F.lit("1997-01-01").cast("timestamp"))
            & (l.l_discount >= 0.05)
            & (l.l_discount <= 0.07)
            & (l.l_quantity < 24)
        )
        .agg(_r2(F.sum(l.l_extendedprice * l.l_discount)).alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue by customer, top 20."""
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = t["customer"]
    nation = t["nation"]
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_r2(F.sum(li.l_extendedprice * (1 - li.l_discount))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: EXISTS -> left-semi join, count by priority."""
    t = load_tables(spark, sf_dir, register_views=False)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = t["lineitem"]
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(li.l_shipdate > orders.o_orderdate)
    semi = orders.join(late.select("l_orderkey").distinct(), orders.o_orderkey == F.col("l_orderkey"), "left_semi")
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join (customers who never ordered)."""
    t = load_tables(spark, sf_dir, register_views=False)
    cust = t["customer"]
    orders = t["orders"]
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


def q_market_segment_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join + segment rollforward: revenue and order counts."""
    t = load_tables(spark, sf_dir, register_views=False)
    cust = t["customer"]
    orders = t["orders"]
    li = t["lineitem"]
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            _r2(F.sum(li.l_extendedprice * (1 - li.l_discount))).alias("revenue"),
            F.countDistinct(orders.o_orderkey).alias("order_count"),
            F.count("*").alias("lineitem_count"),
        )
        .orderBy("c_mktsegment")
    )


def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax: highest-spend customer per nation.

    Spend aggregates first (shuffle on custkey). The per-nation
    winner is a struct-max aggregation — (spend, -custkey) orders
    lexicographically so ties break to the smallest custkey — NOT a
    ``row_number over (partition by nation)`` window: 25 nations
    would sort the whole customer frame in 25 tasks, while the
    struct-max partial-aggregates map-side and shuffles one row per
    nation per task."""
    t = load_tables(spark, sf_dir, register_views=False)

    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(_r2(F.sum("o_totalprice")).alias("total_spend"))
    )
    cust = t["customer"].join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    joined = spend.join(cust, spend.o_custkey == cust.c_custkey)
    best = F.max(
        F.struct(
            F.col("total_spend").alias("total_spend"),
            (-F.col("c_custkey")).alias("neg_ck"),
            F.col("c_name").alias("c_name"),
        )
    ).alias("b")
    return (
        joined.groupBy("n_name")
        .agg(best)
        .select(
            "n_name",
            (-F.col("b.neg_ck")).alias("c_custkey"),
            F.col("b.c_name").alias("c_name"),
            F.col("b.total_spend").alias("total_spend"),
        )
        .orderBy("n_name")
    )


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) daily revenue — unbounded-preceding window.

    Daily pre-aggregation shrinks the window input to one row per day,
    so the single-partition cumulative window is over days, not orders.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    from pyspark.sql.window import Window

    daily = (
        t["orders"]
        .groupBy(F.date_trunc("day", "o_orderdate").alias("order_day"))
        .agg(_r2(F.sum("o_totalprice")).alias("day_revenue"))
    )
    w = Window.orderBy("order_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.withColumn("running_revenue", _r2(F.sum("day_revenue").over(w)))
        .orderBy("order_day")
    )


def q_moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame moving average + lag/lead per event type.

    Scale shape: ``Window.partitionBy(event_type)`` would sort the
    whole fact stream in ~5 tasks. The two-phase sliding kernel
    (operators/scale.py: rank + bounded-offset contribution fold)
    computes exact frames at cluster parallelism, independent of
    where range-partition boundaries land."""
    from distributed_mapreduce_server_spark.operators.scale import (
        two_phase_sliding,
    )

    t = load_tables(spark, sf_dir, register_views=False)
    ev = t["events"].select("event_id", "event_type", "ts", "value")
    slid = two_phase_sliding(
        spark,
        ev,
        ["ts", "event_id"],
        ["event_type"],
        "value",
        frame_before=3,
        frame_after=0,
        lags=(1,),
        leads=(1,),
    )
    return (
        slid.select(
            "event_id",
            "event_type",
            "ts",
            _r2(F.col("value")).alias("value_r"),
            # 4dp, not 2: a 4-row avg of 2-decimal values terminates at
            # 4 decimals, so no engine-dependent .xx5 rounding boundary.
            fround(F.col("frame_avg"), 4).alias("moving_avg"),
            _r2(F.col("lag_1")).alias("prev_value"),
            _r2(F.col("lead_1")).alias("next_value"),
        )
        .orderBy("event_type", "ts", "event_id")
    )


def q_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation): subtotal + grand-total grouping sets."""
    t = load_tables(spark, sf_dir, register_views=False)
    cust = (
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return _with_grand_total(
        cust.rollup("r_name", "n_name").agg(
            F.count("*").alias("customer_count"), _r2(F.sum("c_acctbal")).alias("total_balance")
        ),
        customer_count=0,
    ).orderBy("r_name", "n_name")


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) per return flag."""
    t = load_tables(spark, sf_dir, register_views=False)
    l = t["lineitem"]
    return (
        l.groupBy("l_returnflag")
        .agg(
            _r2(F.expr("percentile(l_extendedprice, 0.5)")).alias("p50_price"),
            _r2(F.expr("percentile(l_extendedprice, 0.9)")).alias("p90_price"),
            _r2(F.expr("percentile(l_extendedprice, 0.99)")).alias("p99_price"),
            _r2(F.avg("l_extendedprice")).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


def q_full_outer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier balances."""
    t = load_tables(spark, sf_dir, register_views=False)
    cb = t["customer"].groupBy("c_nationkey").agg(_r2(F.sum("c_acctbal")).alias("customer_balance"))
    sb = t["supplier"].groupBy("s_nationkey").agg(_r2(F.sum("s_acctbal")).alias("supplier_balance"))
    j = cb.join(sb, cb.c_nationkey == sb.s_nationkey, "full_outer")
    return (
        j.select(
            F.coalesce(cb.c_nationkey, sb.s_nationkey).alias("nationkey"),
            "customer_balance",
            "supplier_balance",
        )
        .orderBy("nationkey")
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct users per event type (rows-only check:
    approximate results are engine-specific by design)."""
    t = load_tables(spark, sf_dir, register_views=False)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.count("*").alias("events"),
        )
        .orderBy("event_type")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.

    Both nation dims broadcast; the orders⋈lineitem⋈supplier chain
    shuffles once per key. The (n1, n2) pair filter lands on the
    broadcast sides so the fact shuffle carries only matching rows.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    n1, n2 = "NATION_3", "NATION_7"
    supp_n = t["supplier"].join(
        broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cust_n = t["customer"].join(
        broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = (
        li.join(t["orders"], li.l_orderkey == F.col("o_orderkey"))
        .join(cust_n, F.col("o_custkey") == cust_n.c_custkey)
        .join(supp_n, li.l_suppkey == supp_n.s_suppkey)
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_r2(F.sum(li.l_extendedprice * (1 - li.l_discount))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of regional revenue for a part
    type, by year. The share is a conditional-sum / total-sum ratio in
    one aggregation — no second pass over the facts.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    part = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    cust_region = (
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_n = t["supplier"].join(
        broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t["lineitem"]
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_region, orders.o_custkey == F.col("c_custkey"))
        .join(supp_n, li.l_suppkey == supp_n.s_suppkey)
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _r2(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
                / F.sum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp table in the test schema): profit
    by supplier nation x year for parts whose name contains 'red',
    with p_retailprice standing in for ps_supplycost."""
    t = load_tables(spark, sf_dir, register_views=False)
    part = t["part"].filter(F.col("p_name").contains("red")).select("p_partkey", "p_retailprice")
    supp_n = t["supplier"].join(
        broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    li = t["lineitem"]
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        li.join(broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(t["orders"], li.l_orderkey == F.col("o_orderkey"))
        .join(supp_n, li.l_suppkey == supp_n.s_suppkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(_r2(F.sum(amount)).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of orders-per-customer (incl. zero).

    Two aggregations: orders per customer (left join keeps the
    zero-order customers), then customers per order-count.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    orders = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .join(orders, F.col("c_custkey") == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month — conditional sum
    over a broadcast part join."""
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = t["part"].select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(broadcast(part), li.l_partkey == F.col("p_partkey")).agg(
        _r2(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
            / F.sum(vol)
        ).alias("promo_revenue")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    The max folds to ONE broadcast row (map-side partial max) that
    equi-joins back onto the per-supplier revenue frame — not an
    unpartitioned window: suppliers scale with SF, so a global
    ``max() over ()`` would eventually funnel the supplier frame
    through a single task; not a second scan of lineitem as the SQL
    view formulation implies either."""
    t = load_tables(spark, sf_dir, register_views=False)

    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_rev"))
    top = rev.join(
        broadcast(max_rev), F.col("total_revenue") == F.col("max_rev")
    )
    return (
        top.join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (supplier variety via lineitem, no partsupp):
    distinct suppliers shipping each (brand, type, size) bucket."""
    t = load_tables(spark, sf_dir, register_views=False)
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 14, 19, 24)
    )
    li = t["lineitem"].select("l_partkey", "l_suppkey").dropDuplicates()
    return (
        li.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue locked in small-quantity orders of one brand.

    The correlated `< 0.2 * avg(qty) per part` subquery becomes a
    per-part window average — one shuffle on partkey, no self-join.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    from pyspark.sql.window import Window

    part = t["part"].filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = t["lineitem"].join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(_r2(F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders above a total-quantity threshold, with
    customer context. HAVING on the orderkey aggregation, then joins."""
    t = load_tables(spark, sf_dir, register_views=False)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(_r2(F.sum("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 120)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs predicate across a part join — exercises
    Catalyst's disjunction handling (common filter extraction)."""
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"]
    part = t["part"].select("p_partkey", "p_brand", "p_size")
    j = li.join(broadcast(part), li.l_partkey == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 15)) & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#9") & (F.col("p_size").between(1, 25)) & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#15") & (F.col("p_size").between(1, 35)) & (F.col("l_quantity").between(20, 30)))
    )
    return j.filter(cond).agg(
        _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue")
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (nation instead of phone prefix): wealthy
    customers with no recent orders, counted per nation.

    The scalar avg is a 1-row broadcast cross join; the NOT EXISTS is
    a left-anti join against recent orders.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    cust = t["customer"].filter(F.col("c_nationkey") < 10)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), _r2(F.sum("c_acctbal")).alias("totacctbal"))
        .orderBy("c_nationkey")
    )


def q_region_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (r_name, c_mktsegment): all four grouping-set combinations
    of customer counts/balances — the full grouping-sets surface next
    to q_nation_rollup's ROLLUP."""
    t = load_tables(spark, sf_dir, register_views=False)
    cust = (
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return _with_grand_total(
        cust.cube("r_name", "c_mktsegment").agg(
            F.count("*").alias("n_customers"), _r2(F.avg("c_acctbal")).alias("avg_balance")
        ),
        n_customers=0,
    ).orderBy("r_name", "c_mktsegment")


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join via key salting: orders x customer where a
    handful of customers own most orders.

    The fact side gets a random-free deterministic salt (orderkey mod
    SALT); the dim side is exploded SALT ways so every salted key
    still matches. Result is identical to the plain join (the oracle
    is the plain join) — the point is the plan: the hot customer's
    rows spread over SALT reducers instead of one. At 100 TB this is
    the manual fallback when AQE skew splitting can't help (e.g.
    skewed aggregation keys, not just joins).
    """
    n_salt = 8
    t = load_tables(spark, sf_dir, register_views=False)
    orders = t["orders"].withColumn(
        "salt", (F.col("o_orderkey") % n_salt).cast("int")
    )
    cust = t["customer"].select("c_custkey", "c_mktsegment")
    salted_cust = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    j = orders.join(salted_cust, (orders.o_custkey == salted_cust.c_custkey) & (orders.salt == salted_cust.salt))
    return (
        j.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), _r2(F.sum("o_totalprice")).alias("revenue"))
        .orderBy("c_mktsegment")
    )


def q_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: correlation, sample
    covariance, stddev/variance, and OLS slope/intercept of price on
    quantity — one partial-aggregable pass (all six are distributive
    moment sketches, so the shuffle carries one row per flag)."""
    li = load_tables(spark, sf_dir, register_views=False)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            fround(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_price_qty"),
            fround(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_price_qty"),
            fround(F.stddev_samp("l_extendedprice"), 2).alias("std_price"),
            fround(F.var_samp("l_quantity"), 4).alias("var_qty"),
            fround(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope_price_on_qty"),
            fround(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias("intercept_price"),
        )
        .orderBy("l_returnflag")
    )


HIST_BUCKET_WIDTH = 25000


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: bucket = floor(price/w).
    The classic distributed histogram — a single map-side-combined
    groupBy on a computed key, no windowing, no sort until the tiny
    final result."""
    orders = load_tables(spark, sf_dir, register_views=False)["orders"]
    bucket = F.floor(F.col("o_totalprice") / HIST_BUCKET_WIDTH).cast("bigint")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            _r2(F.min("o_totalprice")).alias("lo"),
            _r2(F.max("o_totalprice")).alias("hi"),
        )
        .orderBy("bucket")
    )


def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap analysis: days since each customer's previous
    order (lag window over the customer's order history), rolled up to
    gap stats per market segment. One shuffle for the window (by
    custkey), then a broadcast dim join — the window partitioning is
    reused as the aggregation's distribution."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t["orders"]
        .withColumn("gap", F.datediff("o_orderdate", F.lag("o_orderdate").over(w)))
        .filter(F.col("gap").isNotNull())
    )
    return (
        gaps.join(
            broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            _r2(F.avg("gap")).alias("avg_gap"),
            F.max("gap").alias("max_gap"),
        )
        .orderBy("c_mktsegment")
    )


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: one groupBy collapses orders to a
    (recency, frequency, monetary) row per customer, fixed band edges
    score each dimension 1-4, and a second (tiny) aggregation rolls up
    segments. Fixed bands rather than ntile: a global ntile is a
    single-partition sort at 100 TB, while banding keeps both
    aggregations fully parallel and partial."""
    orders = load_tables(spark, sf_dir, register_views=False)["orders"]
    # decimal(18,2) sums: exact cents arithmetic in BOTH engines, so
    # small segments can't land on a float rounding half-point.
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    rec = F.datediff(F.col("anchor"), F.col("last_order"))
    r_band = (
        F.when(rec <= 180, 4).when(rec <= 730, 3).when(rec <= 1460, 2).otherwise(1)
    )
    f_band = (
        F.when(F.col("n_orders") >= 15, 4)
        .when(F.col("n_orders") >= 10, 3)
        .when(F.col("n_orders") >= 5, 2)
        .otherwise(1)
    )
    m_band = (
        F.when(F.col("spend") >= 4e6, 4)
        .when(F.col("spend") >= 2.5e6, 3)
        .when(F.col("spend") >= 1e6, 2)
        .otherwise(1)
    )
    scored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        "spend",
        r_band.alias("r"),
        f_band.alias("f"),
        m_band.alias("m"),
    )
    segment = (
        F.when(F.col("r") + F.col("f") + F.col("m") >= 10, "champion")
        .when(F.col("r") + F.col("f") + F.col("m") >= 7, "loyal")
        .when(F.col("r") + F.col("f") + F.col("m") >= 5, "at_risk")
        .otherwise("hibernating")
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count("*").alias("n_customers"),
            fround(F.sum("spend").cast("double"), 2).alias("total_spend"),
        )
        .withColumn("segment", segment)
        .select("r", "f", "m", "segment", "n_customers", "total_spend")
        .orderBy("r", "f", "m")
    )


PART_PAIRS_TOP_K = 20


def q_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs bought together
    in one order. ONE shuffle (groupBy order -> basket array), then the
    pair fan-out — (items-per-order choose 2), bounded by basket size,
    not n² — happens in codegen via a double explode; the self-join
    formulation shuffles the fact twice and measured 2.5x slower. Pair
    counts partial-aggregate; TakeOrdered top-K (no global sort
    materializes; each partition ships only its own top K)."""
    li = load_tables(spark, sf_dir, register_views=False)["lineitem"].select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("parts"))
    pairs = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(PART_PAIRS_TOP_K)
    )


def q_orders_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per market segment: aggregate to
    (segment, year) — the only full shuffle — then a lag window over
    the tiny aggregated frame. Revenue summed in decimal cents so the
    growth ratio is reproducible across engines."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    yearly = (
        t["orders"]
        .join(
            broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
            F.count("*").alias("n_orders"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("yr")
    prev = F.lag("rev").over(w)
    return (
        yearly.withColumn("prev_rev", prev)
        .select(
            "c_mktsegment",
            "yr",
            F.col("rev").cast("double").alias("revenue"),
            "n_orders",
            fround(
                (F.col("rev") - F.col("prev_rev")).cast("double")
                / F.col("prev_rev").cast("double") * 100,
                4,
            ).alias("yoy_pct"),
        )
        .orderBy("c_mktsegment", "yr")
    )


def q_balance_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer balance percentile (percent_rank) and
    cumulative distribution (cume_dist), tie-broken by custkey so the
    rank is total and engine-reproducible.

    Scale shape: a ``percent_rank() over (partition by nation)``
    window gives 25 partitions — the whole customer table sorts in 25
    tasks, a per-task volume that grows linearly with SF. Instead the
    grouped two-phase ranking kernel (operators/scale.py) range-
    partitions on (nation, acctbal, custkey) so every sort runs at
    cluster parallelism, and percent_rank / cume_dist are arithmetic
    on (rank, group size)."""
    from distributed_mapreduce_server_spark.operators.scale import two_phase_rank

    cust = load_tables(spark, sf_dir, register_views=False)["customer"]
    ranked, _, tagged = two_phase_rank(
        spark,
        cust.select("c_custkey", "c_nationkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"],
        group_cols=["c_nationkey"],
        rn_col="rn",
        n_col="n_nat",
        materialize=False,
    )
    # the (acctbal, custkey) ordering is total, so rank == row_number:
    # percent_rank = (rn-1)/(n-1), cume_dist = rn/n, computed
    # arithmetically from the two-phase rank (ANSI-safe n==1 guard)
    rn, n = F.col("rn"), F.col("n_nat")
    out = (
        ranked.select(
            "c_custkey",
            "c_nationkey",
            _r2(F.col("c_acctbal")).alias("acctbal"),
            fround(
                F.when(n > 1, (rn - 1) / (n - 1)).otherwise(F.lit(0.0)), 4
            ).alias("pct_rank"),
            fround(rn / n, 4).alias("cume"),
        )
        .orderBy("c_nationkey", "c_custkey")
    )
    # one pass through the tagged cache into the checkpoint, then
    # release (two_phase_rank materialize=False contract: a lazy frame
    # over a retired cache would re-sample __pid boundaries)
    out = out.localCheckpoint(eager=True)
    tagged.unpersist()
    return out


LATE_DAYS = 90


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted to this schema (no l_shipmode/l_receiptdate
    columns — reference parity is the priority-split conditional
    counts): lineitems shipped more than LATE_DAYS after their order
    date, counted per return flag as high- vs low-priority orders.

    One shuffle join on orderkey (both sides pre-projected so the scan
    reads 3 columns), then conditional sums that fold map-side into a
    3-row result.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].select("l_orderkey", "l_returnflag", "l_shipdate")
    o = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q21_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (late = shipped > LATE_DAYS after order date):
    suppliers who were the SOLE late supplier on a multi-supplier
    order, ranked by how often.

    The classic formulation is two correlated EXISTS/NOT EXISTS
    self-joins on lineitem; here both collapse into ONE per-order
    aggregation — collect the (supplier, late) pairs per order, then
    distinct/filter them with array expressions — so the 100 TB fact
    is shuffled once on orderkey and never self-joined. A cascaded
    (order, supplier)-then-order double aggregation was measured 20%
    slower at sf0.1: (orderkey, suppkey) is nearly unique in lineitem,
    so its first aggregation reduced nothing and just paid a second
    shuffle. The per-order array is bounded by lines-per-order (7 in
    TPC-H), so the interpreted array lambdas touch ~7 elements —
    noise next to a shuffle — and state stays bounded at any scale.
    The supplier dim broadcasts onto the tiny per-supplier rollup.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    o = t["orders"].select("o_orderkey", "o_orderdate")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
    ).cast("int")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.collect_list(
                F.struct(F.col("l_suppkey").alias("s"), late.alias("lt"))
            ).alias("arr")
        )
        .select(
            F.size(F.array_distinct(F.transform("arr", lambda x: x["s"]))).alias(
                "n_supp"
            ),
            F.array_distinct(
                F.transform(F.filter("arr", lambda x: x["lt"] == 1), lambda x: x["s"])
            ).alias("late_supps"),
        )
    )
    sole_late = per_order.filter(
        (F.col("n_supp") >= 2) & (F.size("late_supps") == 1)
    )
    s = t["supplier"].select("s_suppkey", "s_name")
    return (
        sole_late.groupBy(F.col("late_supps")[0].alias("late_supp"))
        .agg(F.count("*").alias("numwait"))
        .join(broadcast(s), F.col("late_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per return flag (approx_percentile
    sketch, accuracy 10000) next to the exact q_percentiles operator —
    at 100 TB the sketch is the only single-pass option: fixed-size
    mergeable state per partition instead of the exact percentile's
    per-group value buffer. Rows-only at the gate (sketch results are
    engine-specific); tests bound its error against the exact values."""
    li = load_tables(spark, sf_dir, register_views=False)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            fround(F.expr("approx_percentile(l_extendedprice, 0.5, 10000)"), 2).alias(
                "approx_p50"
            ),
            fround(F.expr("approx_percentile(l_extendedprice, 0.9, 10000)"), 2).alias(
                "approx_p90"
            ),
            fround(F.expr("approx_percentile(l_extendedprice, 0.99, 10000)"), 2).alias(
                "approx_p99"
            ),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted to this schema (no partsupp table — supply
    cost is derived from lineitem): for ECONOMY parts under size 15,
    the ASIA supplier(s) offering the minimum unit price, ranked by
    account balance.

    Unit price = MIN(l_extendedprice / l_quantity) per (part, supp):
    MIN is order-insensitive, so the regional-minimum equality
    comparison is reproducible across engines (an AVG here would
    depend on summation order). Both dims broadcast below the fact
    scan, so the part/region selectivity prunes the aggregation
    input; the only fact shuffle is the (partkey, suppkey) groupBy,
    and the correlated min-cost subquery of the classic Q2 is a
    window over that already-aggregated frame.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    part_f = (
        t["part"]
        .filter((F.col("p_type") == "ECONOMY") & (F.col("p_size") < 15))
        .select("p_partkey", "p_name")
    )
    supp = (
        t["supplier"]
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        costs.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            _r2(F.col("s_acctbal")).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            _r2(F.col("unit_cost")).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


IMPORTANT_PART_SHARE = 0.0005


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (no partsupp — "stock value" is lineitem
    revenue through EUROPE suppliers): parts whose revenue share
    exceeds IMPORTANT_PART_SHARE of the regional total.

    Revenue is summed in DECIMAL so both the per-part values and the
    group total are exact (order-insensitive) — the share threshold
    is then a safe comparison on doubles derived from identical
    decimals. One fact shuffle (groupBy partkey after the broadcast
    supplier filter); the grand total aggregates the per-part frame
    (part-dim cardinality) and broadcasts back as a literal join.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    supp_eu = (
        t["supplier"]
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    per_part = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(supp_eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(rev).alias("value_dec"))
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.join(broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.lit(IMPORTANT_PART_SHARE) * F.col("total_dec").cast("double")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            _r2(F.col("value_dec").cast("double")).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp availqty — "excess share" is
    shipped quantity concentration): suppliers who shipped more than
    half of a PROMO part's total 1996 quantity on parts with at least
    two suppliers, counted per supplier.

    Quantity sums are integer-valued doubles (exact, order-free), so
    the dominance comparison is reproducible. The part filter
    broadcasts below the fact scan; one groupBy(part, supp) shuffle,
    then the per-part totals are a window over the aggregated frame
    and the supplier dim broadcasts onto the final per-supplier
    rollup.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    part_promo = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    qty = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(part_promo), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        qty.withColumn("part_q", F.sum("q").over(w))
        .withColumn("n_supp", F.count("*").over(w))
        .filter((F.col("n_supp") >= 2) & (F.col("q") > 0.5 * F.col("part_q")))
    )
    s = t["supplier"].select("s_suppkey", "s_name", "s_nationkey")
    n = t["nation"].select("n_nationkey", "n_name")
    return (
        dominant.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_parts_dominated"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "n_parts_dominated")
        .orderBy(F.desc("n_parts_dominated"), "s_name")
    )


def q_rolling_revenue_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer 30-day rolling revenue — a RANGE window frame over
    event time (every order sees the sum of the same customer's orders
    in the trailing 30 days, ties-by-timestamp included), the frame
    shape the ROWS-based windows elsewhere can't express when rows per
    time unit vary.

    Spark has no RANGE-over-interval frame, so the order date is cast
    to epoch seconds and the frame is rangeBetween(-30 days, 0) on
    that monotone key — value-identical to DuckDB's native
    ``RANGE BETWEEN INTERVAL 30 DAYS PRECEDING``. Revenue sums in
    DECIMAL(18,2) (exact, engine-order-independent — the q_orders_yoy
    pattern), cast to double only for the verified output. One keyed
    shuffle (the per-customer window); each customer's orders stay a
    single sorted run at any skew."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    orders = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_orderdate").cast("long").alias("ts_sec"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("ts_sec")
        .rangeBetween(-30 * 86400, 0)
    )
    return (
        orders.withColumn(
            "rolling_30d_revenue",
            F.sum("price").over(w).cast("double"),
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "rolling_30d_revenue")
        .orderBy("o_orderkey")
    )


def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality audit over the star schema — the
    validation gate a pipeline runs before publishing a snapshot,
    emitted as a long-form (check, value) table so the check set
    extends without schema changes:

    - completeness: row counts; null fractions of the join keys;
    - uniqueness: duplicate primary keys (orders, customer);
    - referential integrity: orphan lineitems (orderkey not in
      orders), orphan orders (custkey not in customer);
    - validity: l_discount outside [0, 1], non-positive l_quantity,
      negative o_totalprice.

    Scale shape: ONE partial-agg scan per table computes all its
    checks (conditional sums fused into a single aggregate), and the
    1-row result explodes into its check rows — so adding a check
    adds a column to the fused aggregate, never a scan. The orphan
    checks are key-partitioned LEFT ANTI joins (never a broadcast of
    the fact side). Output is one row per check at any corpus size.
    """
    t = load_tables(spark, sf_dir, register_views=False)
    li, orders, cust = t["lineitem"], t["orders"], t["customer"]

    def check_rows(scan_df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
        """Explode a 1-row fused aggregate into long-form check rows —
        the scan is referenced exactly once, no re-computation per
        check."""
        arr = F.array(
            *[
                F.struct(
                    F.lit(name).alias("check"),
                    F.col(col).cast("double").alias("value"),
                )
                for name, col in pairs
            ]
        )
        return scan_df.select(F.explode(arr).alias("e")).select(
            "e.check", "e.value"
        )

    li_checks = check_rows(
        li.agg(
            F.count("*").alias("n"),
            F.avg(F.col("l_orderkey").isNull().cast("int")).alias("null_ok"),
            F.sum(
                ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
            ).alias("bad_disc"),
            F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bad_qty"),
        ),
        [
            ("lineitem.row_count", "n"),
            ("lineitem.null_frac.l_orderkey", "null_ok"),
            ("lineitem.range_violations.l_discount", "bad_disc"),
            ("lineitem.range_violations.l_quantity", "bad_qty"),
        ],
    )
    o_checks = check_rows(
        orders.agg(
            F.count("*").alias("n"),
            F.avg(F.col("o_custkey").isNull().cast("int")).alias("null_ck"),
            F.sum((F.col("o_totalprice") < 0).cast("long")).alias("bad_price"),
            (F.count("*") - F.count_distinct("o_orderkey")).alias("dup_pk"),
        ),
        [
            ("orders.row_count", "n"),
            ("orders.null_frac.o_custkey", "null_ck"),
            ("orders.range_violations.o_totalprice", "bad_price"),
            ("orders.duplicate_pk", "dup_pk"),
        ],
    )
    c_checks = check_rows(
        cust.agg(
            F.count("*").alias("n"),
            (F.count("*") - F.count_distinct("c_custkey")).alias("dup_pk"),
        ),
        [("customer.row_count", "n"), ("customer.duplicate_pk", "dup_pk")],
    )
    orphan_li = (
        li.select("l_orderkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count("*").cast("double").alias("value"))
        .select(F.lit("lineitem.orphans_vs_orders").alias("check"), "value")
    )
    orphan_o = (
        orders.select("o_custkey")
        .join(
            cust.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count("*").cast("double").alias("value"))
        .select(F.lit("orders.orphans_vs_customer").alias("check"), "value")
    )
    out = li_checks
    for part in (o_checks, c_checks, orphan_li, orphan_o):
        out = out.unionByName(part)
    return out.orderBy("check")


EWMA_ALPHA = 0.3
EWMA_BETA = 0.7  # exactly 1.0 - 0.3 in doubles; literal in both engines


def q_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of monthly revenue per
    nation: ewma_t = 0.3·x_t + 0.7·ewma_{t-1}, seeded at x_0.

    The aggregation to (nation, month) is ordinary distributed
    groupBy; only the recursion runs in Python — one applyInPandas
    per nation over its ~80-row monthly series, which is
    BOUNDED-per-key at any corpus scale (months grow with time, not
    data volume). Monthly revenue is rounded to 2 dp BEFORE the
    recursion in both engines, so the recursion inputs are identical
    and the float64 loop reproduces DuckDB's recursive CTE
    bit-for-bit (same multiply-add order, same literals)."""
    import pandas as pd

    t = load_tables(spark, sf_dir, register_views=False)
    rev = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(fround(F.sum("o_totalprice"), 2).alias("revenue"))
    )

    from distributed_mapreduce_server_spark.functions import fround_scalar

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        out = []
        e = None
        for x in pdf["revenue"]:
            e = x if e is None else EWMA_ALPHA * x + EWMA_BETA * e
            out.append(e)
        pdf["ewma"] = [fround_scalar(v, 6) for v in out]
        return pdf

    return (
        rev.groupBy("n_name")
        .applyInPandas(ewma, "n_name string, month timestamp, revenue double, ewma double")
        .orderBy("n_name", "month")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — ((nation, priority), (nation),
    (priority), ()) — with grouping_id() disambiguating which level a
    row belongs to. Completes the grouping-sets family next to
    q_nation_rollup (ROLLUP) and q_region_cube (CUBE); unlike those,
    the set list here is NOT a lattice prefix, which is what GROUPING
    SETS exists for. Spark expands the sets over one partial-agg
    shuffle (Expand node), same plan family as rollup/cube."""
    t = load_tables(spark, sf_dir, register_views=False)
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return _with_grand_total(
        joined.groupingSets(
            [["n_name", "o_orderpriority"], ["n_name"], ["o_orderpriority"], []],
            "n_name",
            "o_orderpriority",
        ).agg(
            F.grouping_id().cast("integer").alias("gid"),
            F.count("*").alias("n_orders"),
            fround(F.sum("o_totalprice"), 2).alias("total_revenue"),
        ),
        gid=3,  # the () set: both columns rolled up
        n_orders=0,
    ).orderBy("gid", "n_name", "o_orderpriority")


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/navigation window-function surface in one
    query — row_number, lag, lead, first, last, nth_value,
    percent_rank, cume_dist, ntile — over each customer's order
    history. One keyed shuffle serves every function (identical
    partition + order spec); the unique (date, orderkey) ordering
    makes RANGE-framed functions (percent_rank/cume_dist and the
    DuckDB default frames) engine-identical."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("integer").alias("rn"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(wfull).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
            fround(F.percent_rank().over(w), 6).alias("pct_rank"),
            fround(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).cast("integer").alias("quartile"),
        )
        .orderBy("o_custkey", "rn")
    )


def q_unpivot_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MELT/UNPIVOT: a wide per-nation metrics table (customer
    balance, supplier balance, customer count, supplier count) turned
    into long (nation, metric, value) form — the inverse of
    q_events_pivot, via Spark's native unpivot operator (an Expand
    node: rows multiply, nothing shuffles beyond the input aggs)."""
    t = load_tables(spark, sf_dir, register_views=False)
    cust = (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(
            fround(F.sum("c_acctbal"), 2).alias("cust_balance"),
            F.count("*").cast("double").alias("n_customers"),
        )
    )
    supp = (
        t["supplier"]
        .groupBy("s_nationkey")
        .agg(
            fround(F.sum("s_acctbal"), 2).alias("supp_balance"),
            F.count("*").cast("double").alias("n_suppliers"),
        )
    )
    wide = (
        broadcast(t["nation"])
        .join(cust, F.col("n_nationkey") == F.col("c_nationkey"), "left")
        .join(supp, F.col("n_nationkey") == F.col("s_nationkey"), "left")
        .select("n_name", "cust_balance", "n_customers", "supp_balance", "n_suppliers")
    )
    return (
        wide.unpivot(
            ["n_name"],
            ["cust_balance", "n_customers", "supp_balance", "n_suppliers"],
            "metric",
            "value",
        )
        .orderBy("n_name", "metric")
    )


def _sql_round(expr: str, nd: int) -> str:
    """Engine-neutral half-away-from-zero rounding as plain SQL —
    the textual twin of functions.fround, used where the SAME query
    string must run on both Spark SQL and DuckDB."""
    s = 10**nd
    return f"SIGN({expr}) * FLOOR(ABS({expr}) * {s} + 0.5) / {s}"


_REV = "revenue / SUM(revenue) OVER (PARTITION BY yr)"
SQL_INTERFACE_QUERY = f"""
    WITH rev AS (
        SELECT r_name, date_trunc('year', o_orderdate) AS yr,
               SUM(o_totalprice) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    )
    SELECT r_name, yr,
           {_sql_round("revenue", 2)} AS revenue,
           {_sql_round(_REV, 4)} AS rev_share
    FROM rev
    ORDER BY yr, r_name
"""


def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: ONE dialect-neutral SQL string
    (CTE + 4-way join + window share-of-total) executed verbatim by
    ``spark.sql`` over the catalog's registered views — and verbatim
    by DuckDB as its own oracle. Rounding is spelled as the
    SIGN/FLOOR half-away form (the textual fround) so the identical
    text is deterministic on both engines. Proves a SQL-only user
    needs no DataFrame code to run against this engine."""
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(SQL_INTERFACE_QUERY)


# SQL front door, widened (VERDICT r10 task 8): the dialect-neutral
# texts of four TPC-H adaptations, each run VERBATIM by spark.sql
# over the catalog views AND by DuckDB as its own oracle — the
# catalog's view layer supports a SQL-only user across scan-agg (Q1),
# selective-join top-k (Q3), 6-way dim join (Q5) and tight-filter
# aggregate (Q6) shapes, not just the one showcase query. Plans stay
# Catalyst-chosen: with no DataFrame hints, AQE broadcasts the dims
# at runtime (the q5 DataFrame twin's explicit broadcast() is the
# same physical choice, made declaratively here).
SQL_FRONT_DOOR = {
    "q_sql_q1_pricing": f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_round("SUM(l_quantity)", 2)} AS sum_qty,
           {_sql_round("SUM(l_extendedprice)", 2)} AS sum_base_price,
           {_sql_round("SUM(l_extendedprice * (1 - l_discount))", 2)} AS sum_disc_price,
           {_sql_round("SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))", 2)} AS sum_charge,
           {_sql_round("AVG(l_quantity)", 2)} AS avg_qty,
           {_sql_round("AVG(l_extendedprice)", 2)} AS avg_price,
           {_sql_round("AVG(l_discount)", 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
""",
    "q_sql_q3_shipping": f"""
    SELECT l_orderkey, o_orderdate,
           {_sql_round("SUM(l_extendedprice * (1 - l_discount))", 2)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, o_orderdate, l_orderkey
    LIMIT 10
""",
    "q_sql_q5_local_supplier": f"""
    SELECT n_name,
           {_sql_round("SUM(l_extendedprice * (1 - l_discount))", 2)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
""",
    "q_sql_q6_revenue": f"""
    SELECT {_sql_round("SUM(l_extendedprice * l_discount)", 2)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
""",
    # Round-12 (VERDICT r11 task 8): the event surface through the
    # same front door — gap sessionization + per-user session KPIs,
    # and the ordered view->click->purchase funnel. Dialect notes:
    # INTERVAL 30 MINUTE, named WINDOW clauses, and CASE-conditional
    # MIN/SUM parse identically on both engines; the integer KPI
    # sums are CAST to BIGINT because DuckDB's SUM(int) is HUGEINT
    # (which the driver's pandas hash would string-mismatch against
    # Spark's BIGINT even at equal values).
    "q_sql_sessionize_kpi": f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_seq, COUNT(*) AS n_events,
               SUM(value) AS session_value
        FROM sessions GROUP BY user_id, session_seq
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           {_sql_round("AVG(n_events)", 2)} AS avg_events_per_session,
           {_sql_round("SUM(session_value)", 2)} AS total_value
    FROM per_session GROUP BY user_id ORDER BY user_id
""",
    "q_sql_funnel": """
    WITH staged AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
           CAST(SUM(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                         AND first_purchase > first_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after_click
    FROM staged
""",
    # Round-13 (VERDICT r12 task 7): the curation pipeline's first
    # stage — exact dedup + keep-canonical — through the same front
    # door. Fingerprint = md5 of the LOWERCASED text: byte-level
    # after case-folding, which on this corpus (single-space-joined
    # alphanumeric words) equals the engine-native dedup_exact's
    # token-normalized fingerprint grouping; a corpus with irregular
    # whitespace would need the engine key (regexp normalization has
    # no dialect-neutral spelling — Spark's regexp_replace 4th arg is
    # position, DuckDB's is an options string). Keep-canonical rule
    # identical to dedup_keep_canonical: min doc_id per cluster, all
    # singletons kept.
    "q_sql_dedup_keep": """
    WITH fp AS (
        SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents
    ),
    canon AS (
        SELECT fingerprint, MIN(doc_id) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM fp GROUP BY fingerprint
    )
    SELECT f.doc_id, c.cluster_size, TRUE AS kept
    FROM fp f
    JOIN canon c ON f.fingerprint = c.fingerprint
                AND f.doc_id = c.keep_doc_id
    ORDER BY f.doc_id
""",
}


def _sql_front_door(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(SQL_FRONT_DOOR[key])


# (check name, relative error bound) for q_sketch_error_bounds. The
# bounds are deliberately loose vs the sketches' parameters (HLL at
# rsd=0.01/0.05 is far inside 0.15 on these corpora; percentile_approx
# at accuracy 10000 shifts the median by <= n/10000 ranks) — the row
# fails only on a genuinely broken sketch, never on sketch noise.
SKETCH_BOUNDS = (
    ("distinct_custkey_orders", 0.15),
    ("distinct_users_events", 0.15),
    ("median_extendedprice", 0.01),
)


def q_sketch_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated trust row for the approximate sketches (the
    emb_pca_invariants pattern applied to the three inherently
    rows-only sketch keys): each check computes BOTH the engine
    sketch (HLL approx-distinct, percentile_approx) and the exact
    answer from live data, emits within_bound = |approx - exact| /
    exact <= rel_bound, and the DuckDB oracle independently recomputes
    the EXACT value while pinning the boolean TRUE — so a broken
    sketch (or a broken exact aggregate) fails the driver's hash
    gate, not just a local invariant test. The sketch VALUES stay
    rows-only in their own keys (engine-specific by design); this row
    verifies the property a user actually relies on: the sketch lands
    within its advertised error of the truth.

    Scale shape: three single-pass aggregations (HLL and
    percentile_approx are map-side-combining sketches; the exact
    distincts are key-partitioned count-distincts), each reduced to
    one row before the driver sees it — UNIONED into one 3-row job so
    the three independent subtrees schedule concurrently instead of
    as three sequential collect jobs (r13, guide §1/§5: wall-clock =
    slowest subtree, not the sum). The EXACT median no longer uses
    ``percentile()`` (its final merge deserializes every partition's
    value buffer into one task — measured 1.7-2.0 s alone at sf0.1,
    the whole row's wall): the sketch's own rank guarantee brackets
    the two order statistics within ±n/accuracy ranks of the approx
    value, so two TakeOrderedAndProject jobs (~60 rows each) fetch
    them exactly — selection by counting, zero float summation, the
    same interpolation arithmetic Spark's percentile() applies."""
    from distributed_mapreduce_server_spark.functions import fround_scalar

    t = load_tables(spark, sf_dir, register_views=False)
    bounds = dict(SKETCH_BOUNDS)
    one = (
        t["orders"]
        .agg(
            F.approx_count_distinct("o_custkey", 0.05).cast("double").alias("a"),
            F.count_distinct("o_custkey").cast("double").alias("e"),
        )
        .unionByName(
            t["events"].agg(
                F.approx_count_distinct("user_id", 0.01).cast("double").alias("a"),
                F.count_distinct("user_id").cast("double").alias("e"),
            )
        )
        .unionByName(
            t["lineitem"].agg(
                F.percentile_approx("l_extendedprice", 0.5, 10000)
                .cast("double")
                .alias("a"),
                # placeholder: the exact median is selected below.
                # count(col), not count(*) (ADVICE r13): NULL prices
                # are excluded from every other term of the selection
                # arithmetic (cnt_lt/below/above filter on v), so k
                # must be ranked against the non-NULL population.
                F.count("l_extendedprice").cast("double").alias("e"),
            )
        )
        .collect()
    )
    r1, r2, r3 = one
    # exact median by selection: ranks k and k+1 (0-indexed ascending,
    # position = 0.5·(n−1)) bracket the interpolated median exactly as
    # Spark's percentile() computes it. cnt_lt locates the approx
    # value m0 in the global order; the GK sketch guarantees
    # |rank(m0) − k| <= n/10000, so both fetches are ~60-row
    # TakeOrderedAndProject jobs (+2 safety rows; the formulas stay
    # correct for ANY m0 rank, a broken sketch only makes them
    # bigger).
    li_price = t["lineitem"].select(F.col("l_extendedprice").alias("v"))
    n_li = int(r3["e"])
    # empty / all-NULL short-circuit (ADVICE r13): percentile() used
    # to degrade to NULL here; the selection path would instead crash
    # (float(None), then an empty rank window). Emit the same NULL
    # exact value, within_bound vacuously true (approx NULL == exact
    # NULL). Never taken at any test SF (no NULL prices there).
    if n_li == 0 or r3["a"] is None:
        bound = bounds["median_extendedprice"]
        rows = [
            (
                "distinct_custkey_orders",
                float(r1["e"]),
                abs(r1["a"] - r1["e"]) / max(r1["e"], 1)
                <= bounds["distinct_custkey_orders"],
                bounds["distinct_custkey_orders"],
            ),
            (
                "distinct_users_events",
                float(r2["e"]),
                abs(r2["a"] - r2["e"]) / max(r2["e"], 1)
                <= bounds["distinct_users_events"],
                bounds["distinct_users_events"],
            ),
            ("median_extendedprice", None, True, bound),
        ]
        return spark.createDataFrame(
            rows,
            "check_name string, exact_value double, within_bound boolean,"
            " rel_bound double",
        ).orderBy("check_name")
    m0 = float(r3["a"])
    pos = 0.5 * (n_li - 1)
    k = int(pos)
    cnt_lt = li_price.filter(F.col("v") < m0).count()
    below_take = min(max(cnt_lt - k, 0) + 2, cnt_lt)
    above_take = max(k + 2 - cnt_lt, 0) + 2
    below = (
        [
            r["v"]
            for r in li_price.filter(F.col("v") < m0)
            .orderBy(F.desc("v"))
            .limit(below_take)
            .collect()
        ][::-1]
        if below_take > 0
        else []
    )
    above = [
        r["v"]
        for r in li_price.filter(F.col("v") >= m0)
        .orderBy(F.asc("v"))
        .limit(above_take)
        .collect()
    ]
    # global ranks: below covers cnt_lt−len(below) .. cnt_lt−1,
    # above covers cnt_lt .. cnt_lt+len(above)−1
    offset = cnt_lt - len(below)
    window_vals = below + above
    vk = window_vals[k - offset]
    vk1 = window_vals[k + 1 - offset] if pos > k else vk
    exact_median = vk + (vk1 - vk) * (pos - k)
    r3 = {"a": m0, "e": exact_median}
    rows = [
        (
            "distinct_custkey_orders",
            float(r1["e"]),
            abs(r1["a"] - r1["e"]) / max(r1["e"], 1)
            <= bounds["distinct_custkey_orders"],
            bounds["distinct_custkey_orders"],
        ),
        (
            "distinct_users_events",
            float(r2["e"]),
            abs(r2["a"] - r2["e"]) / max(r2["e"], 1)
            <= bounds["distinct_users_events"],
            bounds["distinct_users_events"],
        ),
        (
            "median_extendedprice",
            fround_scalar(float(r3["e"]), 2),
            abs(r3["a"] - r3["e"]) / abs(r3["e"])
            <= bounds["median_extendedprice"],
            bounds["median_extendedprice"],
        ),
    ]
    return spark.createDataFrame(
        rows,
        "check_name string, exact_value double, within_bound boolean,"
        " rel_bound double",
    ).orderBy("check_name")


def q_sql_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 through the SQL front door — see the SQL_FRONT_DOOR banner;
    semantics match q1_pricing_summary, text shared with the oracle."""
    return _sql_front_door(spark, sf_dir, "q_sql_q1_pricing")


def q_sql_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 through the SQL front door (deterministic LIMIT 10 via the
    unique orderkey tiebreak) — see the SQL_FRONT_DOOR banner. The
    ORDER BY ranks on the UNROUNDED aggregate: ranking on the rounded
    value would let cross-engine summation-order noise at a .005
    rounding boundary flip top-10 membership; the SELECT still
    exposes the 2dp-rounded revenue."""
    return _sql_front_door(spark, sf_dir, "q_sql_q3_shipping")


def q_sql_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 through the SQL front door: 6-way join written hint-free —
    AQE picks the dim broadcasts at runtime."""
    return _sql_front_door(spark, sf_dir, "q_sql_q5_local_supplier")


def q_sql_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 through the SQL front door: the filters reach the parquet
    scan from plain SQL exactly as from the DataFrame twin."""
    return _sql_front_door(spark, sf_dir, "q_sql_q6_revenue")


def q_sql_sessionize_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization + per-user session KPIs through the SQL
    front door — the event surface's most user-hit shape as ONE
    dialect-neutral text (VERDICT r11 task 8), run verbatim on both
    engines. Semantics match q_events_sessionize's gap rule (strict
    30-min inactivity, (ts, event_id) intra-user order); both window
    functions share the (user_id, ts, event_id) partitioning, so
    Catalyst plans ONE shuffle exactly like the DataFrame twin."""
    return _sql_front_door(spark, sf_dir, "q_sql_sessionize_kpi")


def q_sql_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel through the SQL front
    door — conditional-MIN staging (one groupBy, no per-stage joins),
    the q_events_funnel recipe as one dialect-neutral text."""
    return _sql_front_door(spark, sf_dir, "q_sql_funnel")


def q_sql_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup + keep-canonical through the SQL front door
    (VERDICT r12 task 7): a SQL-only user runs the curation
    pipeline's first stage — fingerprint, cluster, keep the min
    doc_id per cluster — with no DataFrame code. One shuffle to
    fingerprint groups plus a keyed join back; Catalyst plans it
    identically to the dedup_keep_canonical shape. See the
    SQL_FRONT_DOOR entry for the fingerprint dialect note."""
    return _sql_front_door(spark, sf_dir, "q_sql_dedup_keep")


MIN_PAIR_SUPPORT = 3
RULES_TOP_K = 20


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (the step after
    q_part_pairs' co-occurrence counts): directed rules A -> B with
    support, confidence = supp(AB)/supp(A) and lift =
    supp(AB)·N/(supp(A)·supp(B)), min pair support 3, top-20 by lift.

    Plan: distinct (order, part) -> ONE basket shuffle; pair fan-out
    in codegen (bounded by basket size); item supports ride the same
    distinct frame; N is a 1-row broadcast. Rules are pair-count
    sized — everything after the basket agg is tiny."""
    li = (
        load_tables(spark, sf_dir, register_views=False)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n_total"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    pairs = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_PAIR_SUPPORT)
    )
    directed = pairs.select(
        F.col("part_a").alias("antecedent"), F.col("part_b").alias("consequent"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("antecedent"), F.col("part_a").alias("consequent"), "n_ab"
        )
    )
    ia = item.select(F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_a"))
    ic = item.select(F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_c"))
    return (
        directed.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            fround(F.col("n_ab") / F.col("n_a"), 4).alias("confidence"),
            fround((F.col("n_ab") * F.col("n_total")) / (F.col("n_a") * F.col("n_c")), 4).alias(
                "lift"
            ),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(RULES_TOP_K)
    )


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) query: parts not dominated on
    (minimize retail price, maximize size) — the multi-criteria
    shortlist operator (Börzsönyi et al.'s SKYLINE OF clause).

    Instead of the O(n²) dominance self-join, the 2-D skyline
    reduces to one ordered pass: a part is on the frontier iff it
    has the max size AT its price AND every strictly cheaper price's
    running max size is smaller. Realized as a per-price partial agg
    (corpus-sized shuffle) + a running-max window over the DISTINCT
    PRICE frame (price-cardinality sized, not row sized) + a
    broadcast-sized join back. The oracle is the brute-force NOT
    EXISTS dominance predicate — an independent formulation, so
    parity validates the algorithm, not just the arithmetic."""
    from pyspark.sql.window import Window

    parts = load_tables(spark, sf_dir, register_views=False)["part"]
    per_price = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    frontier_prices = per_price.withColumn(
        "strict_cummax", F.max("gmax").over(w)
    ).filter(F.col("strict_cummax").isNull() | (F.col("strict_cummax") < F.col("gmax")))
    return (
        parts.join(
            broadcast(frontier_prices.select("p_retailprice", "gmax")), "p_retailprice"
        )
        .filter(F.col("p_size") == F.col("gmax"))
        .select("p_partkey", fround(F.col("p_retailprice"), 2).alias("price"), "p_size")
        .orderBy("p_partkey")
    )


def q_argmax_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARG_MAX/ARG_MIN surface (max_by/min_by): per nation, WHICH
    customer holds the max balance, which the min, and the
    highest-value order's key — the "give me the row that wins"
    aggregation that otherwise costs a rank-window pass. One
    partial-agg shuffle; ties broken inside the struct ordering
    (value, then id) so the winner is deterministic in both engines."""
    t = load_tables(spark, sf_dir, register_views=False)
    cust = (
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            t["orders"].groupBy("o_custkey").agg(
                F.max_by(
                    F.col("o_orderkey"),
                    F.struct(F.col("o_totalprice"), F.col("o_orderkey")),
                ).alias("best_order"),
                fround(F.max("o_totalprice"), 2).alias("best_order_price"),
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
    )
    return (
        cust.groupBy("n_name")
        .agg(
            F.max_by(
                F.col("c_custkey"), F.struct(F.col("c_acctbal"), F.col("c_custkey"))
            ).alias("richest_customer"),
            fround(F.max("c_acctbal"), 2).alias("max_balance"),
            F.min_by(
                F.col("c_custkey"), F.struct(F.col("c_acctbal"), F.col("c_custkey"))
            ).alias("poorest_customer"),
            fround(F.min("c_acctbal"), 2).alias("min_balance"),
            # orderless customers coalesce to (-1,-1) so they lose to
            # any real order in BOTH engines (NULL-ordering semantics
            # of max_by/arg_max would otherwise be the divergence);
            # the RETURNED value coalesces too — a fully orderless
            # nation reports -1, matching the oracle, never NULL
            F.max_by(
                F.coalesce(F.col("best_order"), F.lit(-1)),
                F.struct(
                    F.coalesce(F.col("best_order_price"), F.lit(-1.0)),
                    F.coalesce(F.col("best_order"), F.lit(-1)),
                ),
            ).alias("top_order_key"),
        )
        .orderBy("n_name")
    )


ABC_A_CUT = 0.5
ABC_B_CUT = 0.8


def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, bucketed
    by cumulative revenue share (A: first 50%, B: to 80%, C: rest) —
    the inventory-analysis classic. Revenue ranking aggregates once
    (corpus shuffle); the cumulative share comes from the two-phase
    running-sum kernel (parts scale with SF, so a single-partition
    window over the part frame would eventually sort ~2e10 rows in
    one task at sf100k). Emits per-class counts + revenue share so
    the 80/20 shape is the output, not 200k classified rows."""
    from distributed_mapreduce_server_spark.operators.scale import two_phase_rank

    li = load_tables(spark, sf_dir, register_views=False)["lineitem"]
    rev = li.groupBy("l_partkey").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev")
    )
    # persist the part-sized revenue frame: the range partitioner's
    # sample pass and the range shuffle itself would otherwise each
    # re-run the lineitem scan + aggregation (no explicit count — the
    # kernel's first action populates the cache)
    rev = rev.persist()
    # cumulative revenue via the two-phase kernel (operators/scale.py):
    # an unpartitioned running-sum window sorts the whole part frame
    # in ONE task, and TPC-H parts scale with SF — range-partition on
    # (-rev, partkey) instead and add broadcast per-partition offsets
    ranked, totals, tagged = two_phase_rank(
        spark,
        rev,
        [F.desc("rev"), F.asc("l_partkey")],
        sum_cols=["rev"],
        rn_col="rev_rank",
        materialize=False,
    )
    # grand total: free data from the kernel's stats pass (sum of the
    # same per-partition partial sums) — a second full agg + crossJoin
    # here cost q_abc_analysis a measured 6-10x in round 5
    total_rev = F.lit(totals.sums["rev"])
    classed = (
        ranked
        # rounded before the cut comparison: total_rev's partial-sum
        # fold order can differ from DuckDB's by an ulp, and an exact
        # boundary hit must not classify differently across engines
        .withColumn("cum_share", fround(F.col("cum_rev") / total_rev, 10))
        .withColumn(
            "abc_class",
            F.when(F.col("cum_share") <= ABC_A_CUT, "A")
            .when(F.col("cum_share") <= ABC_B_CUT, "B")
            .otherwise("C"),
        )
    )
    out = (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            fround(F.sum("rev"), 2).alias("class_revenue"),
            fround(F.sum("rev") / total_rev, 4).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )
    out = out.localCheckpoint(eager=True)
    tagged.unpersist()
    rev.unpersist()
    return out


def q_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's average
    order value vs the overall average (index > 1 = hot month) — the
    demand-planning primitive. One partial-agg shuffle to the 12-row
    month frame; the overall average is a window over that SAME tiny
    frame (sum-of-sums / sum-of-counts — NOT avg-of-avgs, which would
    weight months equally regardless of volume)."""
    from pyspark.sql.window import Window

    orders = load_tables(spark, sf_dir, register_views=False)["orders"]
    monthly = orders.groupBy(F.month("o_orderdate").alias("mon")).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("rev"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    overall_avg = F.sum("rev").over(wall) / F.sum("n_orders").over(wall)
    return (
        monthly.select(
            F.col("mon").cast("integer").alias("mon"),
            "n_orders",
            fround(F.col("rev") / F.col("n_orders"), 2).alias("avg_order_value"),
            fround((F.col("rev") / F.col("n_orders")) / overall_avg, 4).alias(
                "seasonality_index"
            ),
        )
        .orderBy("mon")
    )


def q_open_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-lineitem backlog over time: for each month boundary, how
    many lineitems were ordered at-or-before it but ship strictly
    after — the interval-stabbing/time-in-state query behind every
    "WIP over time" chart.

    Sweep-line realization: open(m) = #(start<=m) − #(end<=m), so two
    monthly delta aggregations (ONE corpus shuffle each) + running
    sums over the MONTH GRID (built from a 1-row bounds agg +
    sequence explode, the q_time_bucket_gapfill pattern) — never the
    O(months × n) interval join. The oracle IS that brute
    stabbing join, an independent formulation, so parity validates
    the sweep algebra."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    # the synthetic shipdates are independent of their order's date, so
    # ~half the rows "ship" before they were ordered — not an interval
    # at all. Only genuinely in-flight rows (ship strictly after
    # order) carry backlog; the oracle applies the same predicate.
    li = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(
            F.date_trunc("month", "o_orderdate").alias("start_m"),
            F.date_trunc("month", "l_shipdate").alias("end_m"),
            "o_orderdate",
            "l_shipdate",
        )
    )
    bounds = li.agg(
        F.min("start_m").alias("lo"), F.max("end_m").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))).alias("month")
    )
    # open(m) counts start <= m at the BOUNDARY instant, so the start
    # delta for month m is lineitems with o_orderdate in (m-1mo, m] —
    # i.e. binned to the first boundary they count at:
    starts = li.groupBy(
        F.when(
            F.col("o_orderdate") == F.col("start_m"), F.col("start_m")
        ).otherwise(F.col("start_m") + F.expr("INTERVAL 1 MONTH")).alias("month")
    ).agg(F.count("*").alias("n_start"))
    ends = li.groupBy(
        F.when(
            F.col("l_shipdate") == F.col("end_m"), F.col("end_m")
        ).otherwise(F.col("end_m") + F.expr("INTERVAL 1 MONTH")).alias("month")
    ).agg(F.count("*").alias("n_end"))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        grid.join(starts, "month", "left")
        .join(ends, "month", "left")
        .select(
            "month",
            F.coalesce("n_start", F.lit(0)).alias("n_start"),
            F.coalesce("n_end", F.lit(0)).alias("n_end"),
        )
        .withColumn(
            "open_lineitems",
            (F.sum("n_start").over(w) - F.sum("n_end").over(w)).cast("bigint"),
        )
        .orderBy("month")
    )


def q_join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size and skew audit WITHOUT executing the joins:
    |A ⋈_k B| = Σ_k c_A(k)·c_B(k), computed exactly from the two
    per-key count frames — the cardinality check a planner (or an
    engineer deciding between broadcast/shuffle/salting) runs before
    committing to a join strategy, for the three fact joins of the
    star schema. max_key_fanout / avg exposes the skew that
    q_salted_skew_join then mitigates.

    Scale shape: each side reduces to its key-count frame with one
    partial-agg shuffle (tiny vs the fact), the count frames join on
    the key, and everything folds to one row per audited join — the
    join whose size is being estimated never runs."""
    t = load_tables(spark, sf_dir, register_views=False)
    audits = [
        ("orders_x_lineitem", t["orders"], "o_orderkey", t["lineitem"], "l_orderkey"),
        ("customer_x_orders", t["customer"], "c_custkey", t["orders"], "o_custkey"),
        ("part_x_lineitem", t["part"], "p_partkey", t["lineitem"], "l_partkey"),
    ]
    out = None
    for name, left, lk, right, rk in audits:
        ca = left.groupBy(F.col(lk).alias("k")).agg(F.count("*").alias("ca"))
        cb = right.groupBy(F.col(rk).alias("k")).agg(F.count("*").alias("cb"))
        j = ca.join(cb, "k")
        row = j.agg(
            F.lit(name).alias("join_name"),
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("n_join_rows"),
            F.count("*").cast("bigint").alias("n_matched_keys"),
            F.max(F.col("ca") * F.col("cb")).cast("bigint").alias("max_key_fanout"),
            fround(
                F.max(F.col("ca") * F.col("cb"))
                / (F.sum(F.col("ca") * F.col("cb")) / F.count("*")),
                4,
            ).alias("skew_ratio"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("join_name")


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-digit
    distribution vs the Benford expectation log10(1 + 1/d), with the
    per-digit chi-square contribution — the classic forensic /
    data-quality screen for fabricated or truncated monetary data
    (synthetic uniform-ish generators fail it loudly, which is itself
    the point of auditing).

    First digit extracted arithmetically — floor(x / 10^floor(log10 x))
    — identical expression in both engines (no string formatting,
    whose scientific-notation edge cases differ). One partial-agg
    shuffle to 9 rows; the n-total joins back as a 1-row broadcast."""
    orders = load_tables(spark, sf_dir, register_views=False)["orders"]
    x = F.col("o_totalprice").cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    counts = (
        orders.filter(x > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs = F.col("n") / F.col("tot")
    chi = (
        (obs - expected) * (obs - expected) / expected * F.col("tot")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            fround(obs, 6).alias("observed_share"),
            fround(expected, 6).alias("benford_share"),
            fround(chi, 4).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# Repeat-purchase survival grid (days). Inter-order gaps on the
# frozen corpora span 0..~2300 days with median ~150, so the grid
# has populated buckets at every step and strictly-decreasing
# survival at both SFs.
SURVIVAL_GRID_DAYS = (7, 30, 60, 90, 180, 365, 730)


def q_repeat_purchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase survival curve: over every consecutive-order
    gap (days between a customer's order N and N+1), the fraction
    that reaches at least each SURVIVAL_GRID_DAYS horizon — the
    "how long until the customer comes back, if ever" curve a
    retention team reads before setting re-engagement windows.

    Scale shape: the lag window partitions by o_custkey (fact-scale
    key — parallel sort, the q_order_gaps precedent), then ONE
    aggregation folds every grid threshold as a conditional partial
    sum (no per-threshold pass, no explode of the gap frame), and the
    1-row moment frame explodes to |grid| output rows driver-free.
    Survival is a ratio of exact integer counts, rounded at 6 dp."""
    from pyspark.sql.window import Window

    orders = load_tables(spark, sf_dir, register_views=False)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    agg = gaps.agg(
        F.count("*").alias("n_gaps"),
        *[
            F.sum((F.col("gap_days") >= g).cast("long")).alias(f"ge_{g}")
            for g in SURVIVAL_GRID_DAYS
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(g).alias("horizon_days"),
                F.col(f"ge_{g}").alias("n_surviving"),
            )
            for g in SURVIVAL_GRID_DAYS
        ]
    )
    return (
        agg.select("n_gaps", F.explode(pairs).alias("p"))
        .select(
            F.col("p.horizon_days").alias("horizon_days"),
            "n_gaps",
            F.col("p.n_surviving").alias("n_surviving"),
            fround(F.col("p.n_surviving") / F.col("n_gaps"), 6).alias(
                "survival"
            ),
        )
        .orderBy("horizon_days")
    )


def q_chi2_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of market segment × order
    priority: the full contingency table with expected counts and
    per-cell chi² contributions, plus the table-wide statistic on
    every row — the "is priority mix actually different across
    segments" readout (large cells of the answer, not just one
    number).

    Scale shape: the fact join reduces to a |segments|×|priorities|
    cell frame in one partial-agg shuffle (25 cells here; bounded by
    dim-attribute cardinalities at any SF); marginals and the total
    are windows over that TINY frame — the q_seasonality_index
    bounded-frame precedent, never a fact-scale window. chi² terms
    derive from exact integer counts; each output double is rounded
    once."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, register_views=False)
    cells = (
        t["orders"]
        .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("observed"))
    )
    w_seg = Window.partitionBy("c_mktsegment")
    w_pri = Window.partitionBy("o_orderpriority")
    w_all = Window.partitionBy()
    expected = (
        F.sum("observed").over(w_seg)
        * F.sum("observed").over(w_pri)
        / F.sum("observed").over(w_all)
    )
    term = F.pow(F.col("observed") - expected, 2) / expected
    return (
        cells.select(
            "c_mktsegment",
            "o_orderpriority",
            "observed",
            fround(expected, 4).alias("expected"),
            fround(term, 6).alias("chi2_term"),
            fround(F.sum(term).over(w_all), 4).alias("chi2_total"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (customers
    with ≥1 order): G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n over revenues
    ranked ascending — the one-number inequality audit next to
    q_abc_analysis' banded view.

    Scale shape: revenue aggregates per customer (one fact shuffle);
    the ascending global rank comes from the two-phase range-partition
    kernel (operators/scale.py) because customers scale with SF — an
    unpartitioned row_number window would sort the whole customer
    frame in ONE task at sf100k. Σx and n are free from the kernel's
    stats pass (the q_abc_analysis discipline); Σ(rank·x) is one agg
    over the ranked frame. Ties in revenue are rank-order-safe: equal
    x contribute the same Σ rank·x under any permutation of their
    consecutive ranks, so the (rev, custkey) total order is only for
    determinism of the intermediate frame. Revenue is rounded at 2 dp
    BEFORE ranking so both engines rank identical values."""
    from distributed_mapreduce_server_spark.operators.scale import two_phase_rank

    orders = load_tables(spark, sf_dir, register_views=False)["orders"]
    # rev_c = revenue in integer CENTS rides along so the grand total
    # comes out of the kernel's stats pass EXACTLY: long partials fold
    # into an arbitrary-precision Python int on the driver (exact at
    # any sf — the r8 all-float fold lapsed past 2^53 cents ≈ sf300),
    # where a double sum of the 2-dp revs is only ~1e-4-accurate at
    # sf0.1 — close enough to a 0.01 grid edge to flip the rounded
    # total per engine.
    rev = orders.groupBy("o_custkey").agg(
        fround(F.sum("o_totalprice"), 2).alias("rev")
    ).select(
        "o_custkey", "rev", F.round(F.col("rev") * 100).cast("long").alias("rev_c")
    )
    ranked, totals, tagged = two_phase_rank(
        spark,
        rev,
        [F.asc("rev"), F.asc("o_custkey")],
        rn_col="rk",
        sum_cols=["rev_c"],
        materialize=False,
    )
    n = totals.rows
    # Σx comes FREE from the kernel's stats pass (totals.sums) — no
    # second aggregation over the revenue frame. With no orders (n = 0)
    # the sum of no rows is NULL and x / 0 is NULL, as in DuckDB.
    total = F.lit(totals.sums["rev_c"] / 100.0 if n else None).cast("double")
    srx = ranked.agg(F.sum(F.col("rk") * F.col("rev")).alias("srx"))
    out = (
        srx.select(
            F.lit(n).cast("bigint").alias("n_customers"),
            total.alias("total_revenue"),
            fround(
                F.try_divide(F.lit(2.0) * F.col("srx"), F.lit(float(n)) * total)
                - F.try_divide(F.lit(float(n + 1)), F.lit(float(n))),
                6,
            ).alias("gini"),
        )
        .localCheckpoint(eager=True)
    )
    tagged.unpersist()
    return out


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per nation:
    each supplier's share of its nation's lineitem revenue, squared
    and summed — the antitrust-style "is this market dominated by a
    few suppliers" number, with supplier count and nation revenue
    alongside.

    Scale shape: one fact shuffle to the (supplier) revenue frame
    (suppliers scale with SF but the per-supplier reduction is a
    partial agg); supplier→nation is a broadcast dim join; the HHI
    fold is a nation-keyed reduction over the supplier frame —
    bounded fan-in per nation, no window over fact rows. Supplier
    revenue rounds at 2 dp first so shares are ratios of identical
    numbers in both engines."""
    t = load_tables(spark, sf_dir, register_views=False)
    sup_rev = (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("srev")
        )
        .join(
            broadcast(
                t["supplier"].select("s_suppkey", "s_nationkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "l_suppkey", "srev")
    )
    per_nation = sup_rev.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("srev").alias("nrev"),
        F.sum(F.col("srev") * F.col("srev")).alias("s2"),
    )
    return (
        per_nation.select(
            "n_name",
            "n_suppliers",
            fround(F.col("nrev"), 2).alias("nation_revenue"),
            fround(F.col("s2") / (F.col("nrev") * F.col("nrev")), 6).alias(
                "hhi"
            ),
        )
        .orderBy("n_name")
    )


# lineitem measure columns for the correlation matrix — every
# unordered pair is reported once (col_a < col_b lexicographically).
CORR_COLS = ("l_discount", "l_extendedprice", "l_quantity", "l_tax")


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the lineitem measures —
    the EDA primitive that tells a modeler which raw features are
    redundant before training. All C(4,2) pairs from ONE full-scan
    aggregation: n, Σx, Σx² per column and Σxy per pair fold in a
    single partial-agg pass (14 scalar moments), then the 1-row
    moment frame explodes to the 6 output rows — no per-pair scan,
    no driver-side loop over data.

    corr = (n·Σxy − Σx·Σy) / √((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)), exact
    moments, rounded once at 6 dp."""
    li = load_tables(spark, sf_dir, register_views=False)["lineitem"]
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1 :]
    ]
    aggs = [F.count("*").cast("double").alias("n")]
    for c in CORR_COLS:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    m = li.agg(*aggs)

    def corr(a, b):
        num = F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den = F.sqrt(
            (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        # try_divide: a constant column (one row) gives NULL, as in DuckDB
        return F.try_divide(num, den)

    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                fround(corr(a, b), 6).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return (
        m.select(F.col("n").cast("bigint").alias("n_rows"), F.explode(rows).alias("p"))
        .select("p.col_a", "p.col_b", "n_rows", "p.corr")
        .orderBy("col_a", "col_b")
    )
