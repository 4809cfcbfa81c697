"""The reference's six declared queries (SURVEY.md section 2.11), normalized onto
the driver's ``events`` fixture per FIXTURES.md section C:

    symbol -> event_type, price -> value, qty -> user_id,
    side -> event_id parity (BUY when even), ts_event -> ts.

Parity sources: Q1 /root/reference/duckdb/query_and_publish.py:107-122,
Q2/Q3 /root/reference/duckdb/verify_iceberg.sql:4-16,
Q4-Q6 /root/reference/validation/e2e.sh:158-206.

Scale notes: all six are hash aggregates over one fact table; Catalyst plans
partial (map-side) aggregation before the shuffle, so the shuffle carries one
row per (partition x group), not per input row. Every result is bounded by
the event-type domain, so each finishes in one partition through
``bounded.small_result`` (``coalesce(1)``, no shuffle): Q1/Q3 sort that
partition instead of planning a range exchange, Q4 and Q6 run their global
aggregate over it with no second exchange, and Q6 derives all four of its
values from one per-type pass over ``events``. Each query runs one map-stage
job and one result job. The final task reads at most (map partitions x
event types) partial-aggregate rows at any input size. Q5's order-by-limit
plans as TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..bounded import small_result
from ..functions import davg, davg_sql, iso_ts, iso_ts_sql
from ..registry import register
from ..tables import load_table

# side flag per FIXTURES.md section C: BUY when event_id is even.
def _is_buy():
    return F.col("event_id") % 2 == 0

_Q1_BODY_SQL = f"""
SELECT event_type AS symbol,
       count(*) AS trade_count,
       {davg_sql("value", "avg_price")},
       round(min(value), 2) AS min_price,
       round(max(value), 2) AS max_price,
       cast(sum(user_id) AS bigint) AS total_volume,
       count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS buy_count,
       count(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS sell_count,
       {iso_ts_sql("min(ts)", "first_trade_time")},
       {iso_ts_sql("max(ts)", "last_trade_time")}
FROM events
GROUP BY event_type
"""


def _q1_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("event_type").alias("symbol"))
        .agg(
            F.count(F.lit(1)).alias("trade_count"),
            davg("value", "avg_price"),
            F.round(F.min("value"), 2).alias("min_price"),
            F.round(F.max("value"), 2).alias("max_price"),
            F.sum("user_id").alias("total_volume"),
            F.count(F.when(_is_buy(), 1)).alias("buy_count"),
            F.count(F.when(~_is_buy(), 1)).alias("sell_count"),
            iso_ts(F.min("ts"), "first_trade_time"),
            iso_ts(F.max("ts"), "last_trade_time"),
        )
    )


@register(
    "q1_trade_analytics",
    oracle=_Q1_BODY_SQL + "ORDER BY total_volume DESC",
    bench=True,
    tags=("reference",),
)
def q1_trade_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group trade analytics (query_and_publish.py:107-122)."""
    return small_result(_q1_df(spark, sf_dir), F.desc("total_volume"))


@register(
    "q2_cardinality",
    oracle="SELECT 'Events Table' AS table_name, count(*) AS row_count FROM events",
    tags=("reference",),
)
def q2_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant label + global COUNT(*) (verify_iceberg.sql:4-7)."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(F.count(F.lit(1)).alias("row_count")).select(
        F.lit("Events Table").alias("table_name"), "row_count"
    )


@register(
    "q3_verification_agg",
    oracle=f"""
SELECT event_type AS symbol,
       count(*) AS trade_count,
       {davg_sql("value", "avg_price")},
       cast(sum(user_id) AS bigint) AS total_volume
FROM events GROUP BY event_type ORDER BY total_volume DESC""",
    tags=("reference",),
)
def q3_verification_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by verification aggregate (verify_iceberg.sql:9-16)."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count(F.lit(1)).alias("trade_count"),
        davg("value", "avg_price"),
        F.sum("user_id").alias("total_volume"),
    )
    return small_result(agg, F.desc("total_volume"))


@register(
    "q4_reaggregation",
    oracle=f"""
WITH analytics AS ({_Q1_BODY_SQL})
SELECT count(*) AS analytics_rows,
       cast(sum(trade_count) AS bigint) AS total_trades
FROM analytics""",
    tags=("reference",),
)
def q4_reaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregation of the analytics table (e2e.sh:158-164)."""
    return small_result(_q1_df(spark, sf_dir)).agg(
        F.count(F.lit(1)).alias("analytics_rows"),
        F.sum("trade_count").alias("total_trades"),
    )


@register(
    "q5_topk",
    oracle=f"""
WITH analytics AS ({_Q1_BODY_SQL})
SELECT symbol, trade_count, avg_price, total_volume
FROM analytics ORDER BY total_volume DESC, symbol LIMIT 5""",
    tags=("reference",),
)
def q5_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by volume (e2e.sh:168-177); symbol tiebreak keeps the row *set*
    deterministic under LIMIT. Plans as TakeOrderedAndProject."""
    return (
        _q1_df(spark, sf_dir)
        .select("symbol", "trade_count", "avg_price", "total_volume")
        .orderBy(F.desc("total_volume"), F.asc("symbol"))
        .limit(5)
    )


@register(
    "q6_summary_union",
    oracle=f"""
SELECT 'Total Trades' AS metric, cast(count(*) AS varchar) AS value FROM events
UNION ALL
SELECT 'Unique Symbols' AS metric, cast(count(DISTINCT event_type) AS varchar) AS value FROM events
UNION ALL
SELECT 'Total Volume' AS metric, cast(cast(sum(user_id) AS bigint) AS varchar) AS value FROM events
UNION ALL
SELECT 'Analytics Rows' AS metric, cast(count(*) AS varchar) AS value
FROM ({_Q1_BODY_SQL}) analytics""",
    tags=("reference",),
)
def q6_summary_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way UNION ALL summary (e2e.sh:182-206) from one per-type pass over
    ``events``. Over the per-type rows, COUNT(DISTINCT event_type) is
    count(event_type) (the NULL group is not counted), the re-aggregated Q1
    row count is count(*), and the trade and volume totals are sums of the
    per-type partials. The trade total is coalesced to 0 because an empty
    table has no groups to sum. Rows come out in branch order."""
    e = load_table(spark, sf_dir, "events")
    per_type = small_result(e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("v")))
    totals = per_type.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("Total Trades"),
        F.count("event_type").alias("Unique Symbols"),
        F.sum("v").alias("Total Volume"),
        F.count(F.lit(1)).alias("Analytics Rows"),
    )
    return totals.select(F.inline(F.array(*(
        F.struct(F.lit(c).alias("metric"), F.col(f"`{c}`").cast("string").alias("value"))
        for c in totals.columns))))
