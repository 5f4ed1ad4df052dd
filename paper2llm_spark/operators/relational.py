"""Relational operator coverage over the TPC-H-ish driver tables.

Exercises the classical operator checklist (SURVEY.md §2.10) on real
multi-table data: aggregation with map-side combine (Q1 shape), the
3-table join + top-k (Q3 shape), window ranking, rollup grouping sets,
and time-windowed event aggregation (the batch twin of the streaming
path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- Q1-shape pricing summary ------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-shape 3-table join + top-k -------------------------------------------

def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return joined.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)


Q3_SQL = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- window ranking -----------------------------------------------------------

def customer_spend_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("spend").desc(), F.col("o_custkey")
    )
    return (
        spend.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("o_orderpriority", F.col("rnk").cast("bigint").alias("rnk"), "o_custkey", "spend")
    )


SPEND_RANK_SQL = """
WITH spend AS (
  SELECT o_custkey, o_orderpriority, round(sum(o_totalprice), 2) AS spend
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT o_orderpriority, o_custkey, spend,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY spend DESC, o_custkey) AS rnk
  FROM spend
)
SELECT o_orderpriority, rnk, o_custkey, spend FROM ranked WHERE rnk <= 5
"""


# --- rollup grouping sets -------------------------------------------------------

def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# --- time-windowed event aggregation (batch twin of streaming) -----------------

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


QUERIES: dict[str, tuple] = {
    "rel_q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "rel_q3_top_orders": (q3_top_orders, Q3_SQL),
    "rel_customer_spend_rank": (customer_spend_rank, SPEND_RANK_SQL),
    "rel_orders_rollup": (orders_rollup, ROLLUP_SQL),
    "rel_events_hourly": (events_hourly, EVENTS_HOURLY_SQL),
}
