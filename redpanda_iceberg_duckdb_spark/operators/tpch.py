"""TPC-H-style relational operators over the driver's star schema: multi-way
joins (broadcast + shuffle), semi/anti joins, filtered scans, and wide
aggregates. These extend the reference surface (which has no joins at all —
SURVEY.md section 2.3) to the full relational algebra a lakehouse engine needs.

Scale notes (100 TB stance):
- Dimension tables (region/nation/supplier/customer/part) are broadcast —
  `F.broadcast` makes the join a map-side hash join with zero shuffle of the
  fact table. Catalyst would often pick this anyway below the auto-broadcast
  threshold; the hint makes it deterministic at any threshold config.
- Fact-fact joins (orders x lineitem) shuffle on the join key; that is the
  correct plan at scale (sort-merge or shuffled-hash, AQE decides, with skew
  splitting enabled in session.py).
- Filters are plain column predicates -> pushed to the parquet/Iceberg scan
  (verify with .explain: PushedFilters). Aggregates are partial before the
  shuffle (map-side combine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..bounded import small_result
from ..functions import davg, davg_sql, dmul_sum, dmul_sum_sql, dsum, dsum_sql
from ..registry import register
from ..tables import load_tables

_DISC = ["l_extendedprice", "1 - l_discount"]


def _disc_price() -> list:
    return [F.col("l_extendedprice"), F.lit(1) - F.col("l_discount")]


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql("l_quantity", "sum_qty")},
       {dsum_sql("l_extendedprice", "sum_base_price")},
       {dmul_sum_sql(_DISC, "sum_disc_price")},
       {dmul_sum_sql(_DISC + ["1 + l_tax"], "sum_charge")},
       {davg_sql("l_quantity", "avg_qty")},
       {davg_sql("l_extendedprice", "avg_price")},
       round(cast(sum(cast(l_discount as decimal(18,2))) as double) / count(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
    bench=True,
    tags=("tpch", "aggregate"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan -> 2-key hash aggregate, 8 aggregates.
    The shipdate predicate reaches the parquet scan (PushedFilters). TPC-H
    bounds the groups to the return-flag x line-status domain (at most 6),
    so the result is sorted in one partition (``small_result``)."""
    t = load_tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
    agg = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dmul_sum(_disc_price(), "sum_disc_price"),
            dmul_sum(_disc_price() + [F.lit(1) + F.col("l_tax")], "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
                / F.count("l_discount"), 4,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return small_result(agg, "l_returnflag", "l_linestatus")


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {dmul_sum_sql(_DISC, "revenue")},
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp '1998-03-15 00:00:00'
  AND l_shipdate > timestamp '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10""",
    bench=True,
    tags=("tpch", "join"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast dim filter + fact-fact shuffle join + top-k.
    customer (filtered) is broadcast; orders x lineitem shuffles on orderkey."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dmul_sum(_disc_price(), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
SELECT n_name, {dmul_sum_sql(_DISC, "revenue")}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
  AND o_orderdate < timestamp '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name""",
    bench=True,
    tags=("tpch", "join"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. All dims broadcast; the only shuffles are
    fact-fact (orders x lineitem) and the final 1-key aggregate."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem",
                    "supplier", "nation", "region")
    region = t["region"].filter(F.col("r_name") == "ASIA")
    nation = t["nation"].join(F.broadcast(region),
                              F.col("n_regionkey") == F.col("r_regionkey"))
    supplier = t["supplier"].join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["customer"]),
              (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(dmul_sum(_disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
SELECT cast(sum(cast(l_extendedprice as decimal(12,2))
             * cast(l_discount as decimal(12,2))) as double) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
  AND l_shipdate < timestamp '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24""",
    tags=("tpch", "filter"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: multi-predicate scan + global agg, no shuffle beyond
    the single-row final combine. All predicates push to parquet."""
    t = load_tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
              * F.col("l_discount").cast("decimal(12,2)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "order_priority_semijoin",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority""",
    tags=("tpch", "join"),
)
def order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left-semi join (no row multiplication, the
    build side is deduplicated by the semi-join itself)."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o, li = t["orders"], t["lineitem"]
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (semi.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


@register(
    "customers_without_orders",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment""",
    tags=("tpch", "join"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join, grouped by segment."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    anti = t["customer"].join(
        t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (anti.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"))
            .orderBy("c_mktsegment"))


@register(
    "top_customers_by_spend",
    oracle="""
SELECT c_custkey, any_value(c_name) AS c_name,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_spend,
       count(*) AS n_orders
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
ORDER BY total_spend DESC, c_custkey
LIMIT 20""",
    tags=("tpch", "join"),
)
def top_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + top-k. At scale: aggregate orders FIRST (smaller
    shuffle), then broadcast-join the 20-row result to customer names would be
    even leaner; here the grouped join keeps one shuffle on custkey either way
    because AQE coalesces the tiny side."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    spend = (t["orders"].groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("total_spend"),
                  F.count(F.lit(1)).alias("n_orders")))
    return (
        spend.join(F.broadcast(t["customer"]),
                   F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_custkey"), F.col("c_name"), "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "nation_order_rollup",
    oracle="""
SELECT n_name, o_orderstatus, count(*) AS n_orders,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
FROM nation
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
GROUP BY ROLLUP (n_name, o_orderstatus)
ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST""",
    tags=("tpch", "aggregate"),
)
def nation_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (hierarchical subtotals) over a 3-table join: grand total,
    per-nation, per-(nation, status). Spark expands grouping sets before the
    shuffle, so it is still one aggregation pass."""
    t = load_tables(spark, sf_dir, "nation", "customer", "orders")
    joined = (t["orders"]
              .join(F.broadcast(t["customer"]),
                    F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(t["nation"]),
                    F.col("c_nationkey") == F.col("n_nationkey")))
    return (
        joined.rollup("n_name", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("total_price"))
        .orderBy(F.asc_nulls_first("n_name"), F.asc_nulls_first("o_orderstatus"))
    )
