"""Flagship relational queries (TPC-H-shaped) over the driver fixtures.

These exercise the full MR dataflow algebra end-to-end: scan → filter →
project → join (broadcast + shuffle) → partial/final aggregate → sort →
limit (SURVEY.md §3.1's lifecycle, realized as single Catalyst plans).

Plan checks (validated in tests/test_plans.py):
- q1: filter pushed to parquet scan, partial+final HashAggregate.
- q3/q5: dimension joins broadcast; fact-fact joins shuffle on key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.registry import register


@register(
    "q1_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                       AS avg_qty,
           round(avg(l_extendedprice), 4)                                  AS avg_price,
           round(avg(l_discount), 4)                                       AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: wide aggregate with filter pushdown."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                   F.round(F.sum(disc), 2).alias("sum_disc_price"),
                   F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                   F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                   F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
                   F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                   F.count("*").alias("count_order"))
              .orderBy("l_returnflag", "l_linestatus"))


@register(
    "q3_shipping_priority",
    sql="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "flagship"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: fact-fact join + broadcast dim + top-k."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .groupBy("l_orderkey", "o_orderdate")
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"))
              .select("l_orderkey", "revenue", "o_orderdate")
              .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
              .limit(10))


@register(
    "q5_local_supplier_volume",
    sql="""
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(15,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(15,2)))), 2)
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "flagship"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-way join chain; dims broadcast, facts shuffle.
    Revenue sums in DECIMAL(15,2), the TPC-H column type: a double sum
    sitting at a half cent rounds by summation order (file layout,
    partitioning), an exact decimal sum does not."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (l.join(o, l.l_orderkey == o.o_orderkey)
             .join(c, o.o_custkey == c.c_custkey)
             .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey)
                   & (c.c_nationkey == s.s_nationkey))
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .groupBy("n_name")
             .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(15,2)")
                                * (1 - F.col("l_discount").cast("decimal(15,2)"))),
                          2)
                   .cast("double").alias("revenue"))
             .orderBy(F.col("revenue").desc(), F.col("n_name")))


@register(
    "q6_forecast_revenue",
    sql="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — the pushdown showcase."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
                      & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
                      & (F.col("l_discount").between(0.05, 0.07))
                      & (F.col("l_quantity") < 24))
              .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                    .alias("revenue")))


@register(
    "revenue_by_nation",
    sql="""
    SELECT n.n_name, r.r_name,
           round(sum(o.o_totalprice), 2) AS total_revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    ORDER BY n.n_name
    """,
    tags=("join", "agg"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact → dim → dim → dim broadcast chain."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .groupBy("n_name", "r_name")
             .agg(F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
                  F.count("*").alias("n_orders"))
             .orderBy("n_name"))


@register(
    "top_customers",
    sql="""
    SELECT c.c_custkey, c.c_name,
           round(sum(o.o_totalprice), 2) AS total_spent,
           count(*) AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spent DESC, c_custkey
    LIMIT 25
    """,
    tags=("join", "agg", "topk"),
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, no total sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .groupBy("c_custkey", "c_name")
             .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
                  F.count("*").alias("n_orders"))
             .orderBy(F.col("total_spent").desc(), F.col("c_custkey"))
             .limit(25))
