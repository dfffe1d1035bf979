"""Catalog: additional TPC-H-shape queries (Q3 top-k join-agg, Q4
exists-semi-join) — the composite relational shapes a reference user
runs daily."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.catalog.core import _SQL_REV, _revenue
from azuredataengineering_deeplearning_spark.operators import joins as J
from azuredataengineering_deeplearning_spark.sources.readers import load_tables


@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {_SQL_REV} AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → two fact joins → grouped
    exact revenue → top-10 (TakeOrderedAndProject; both date filters
    pushed to their scans)."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < "1998-03-15")
    li = t["lineitem"].filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_revenue("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q4_order_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_check(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS over a correlated condition → left-semi
    join with a cross-table predicate, then grouped count."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    orders = t["orders"].filter(F.col("o_orderdate") >= "1997-01-01")
    semi = J.semi_join(
        orders,
        t["lineitem"],
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )
