"""Catalog: the remaining TPC-H query shapes expressible over the driver
testdata star schema — conditional aggregation, correlated subqueries,
disjunctive predicate pushdown, HAVING-subquery joins, and anti-join
report shapes.

These widen the composite-query surface beyond Q1/Q3/Q4/Q5/Q13: a user
of the reference runs ad-hoc shapes like these daily against the Gold
tier (SURVEY §3.1 step 5 pushes exactly such star-join views to Synapse,
``databricks_synapse_sql_writer.py:87-99``). Each shape is declared via
engine operators so Catalyst picks the physical strategy — dim sides are
broadcast, selective filters sit at scans, and scalar subqueries become
tiny broadcast-joined aggregates instead of per-row probes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.catalog.core import _SQL_REV, _revenue, _sql_revenue
from azuredataengineering_deeplearning_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
    sql_sum,
    sql_sum_product,
)
from azuredataengineering_deeplearning_spark.sources.readers import load_tables

@query(
    "q6_forecast_revenue",
    f"""
    SELECT {sql_sum_product("l_extendedprice", "l_discount", "revenue")},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan+filter+global-agg — every predicate is
    pushed to the parquet scan (min/max row-group skipping at scale), no
    shuffle beyond the final single-row partial-agg merge."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum_product("l_extendedprice", "l_discount", "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           {_SQL_REV} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two aliases of the same dim (nation as supplier-
    and customer-side), disjunctive cross-dim pair predicate, year
    rollup. Both nation sides broadcast; the pair filter runs after the
    broadcast joins so only the two fact-fact shuffles move data."""
    t = load_tables(
        spark, sf_dir, ["lineitem", "supplier", "orders", "customer", "nation"]
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].filter(
        F.col("l_shipdate").between("1996-01-01", "1998-12-31")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nk") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nk") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_revenue("revenue"))
    )


_NATION_3_PRICE = "CASE WHEN nation = 'NATION_3' THEN l_extendedprice ELSE 0 END"
_PROMO_PRICE = "CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0 END"


@query(
    "q8_market_share",
    f"""
    WITH all_nations AS (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice, l_discount,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON l_partkey = p_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON n1.n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s_nationkey
        WHERE r_name = 'AMERICA'
          AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
          AND p_type = 'PROMO'
    )
    SELECT o_year,
           {_sql_revenue(_NATION_3_PRICE)} / {_SQL_REV} AS mkt_share
    FROM all_nations GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: 8-table star join + conditional-aggregation ratio
    (national market share). region/nation/part/supplier broadcast; the
    two conditional sums come out of ONE grouped pass, not two joins."""
    t = load_tables(
        spark,
        sf_dir,
        ["part", "lineitem", "supplier", "orders", "customer", "nation", "region"],
    )
    n_cust = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n_supp = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    region = t["region"].filter(F.col("r_name") == "AMERICA")
    part = t["part"].filter(F.col("p_type") == "PROMO")
    orders = t["orders"].filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    joined = (
        t["lineitem"]
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nk") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("c_rk"))
        .join(F.broadcast(n_supp), F.col("s_nk") == F.col("s_nationkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(_revenue("num", _NATION_3_PRICE), _revenue("den"))
        .select("o_year", (F.col("num") / F.col("den")).alias("mkt_share"))
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {_SQL_REV} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue report — selective fact
    filters, dim broadcast, wide GROUP BY (carrying dim attributes
    through the agg), top-20 (TakeOrderedAndProject)."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    f"""
    SELECT CAST(100.0 AS DOUBLE)
           * {_sql_revenue(_PROMO_PRICE)}
           / {_SQL_REV} AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-06-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue percentage — broadcast part join,
    single-pass conditional/total sum pair, scalar ratio."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-06-01")
    )
    return (
        li.join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .agg(_revenue("num", _PROMO_PRICE), _revenue("den"))
        .select(
            (F.lit(100.0).cast("double") * F.col("num") / F.col("den")).alias(
                "promo_revenue"
            )
        )
    )


@query(
    "q16_supplier_count",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type <> 'ECONOMY'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape: negated + IN-list dim predicates, then DISTINCT
    count of the degenerate fact key per dim combination (expands to a
    two-level agg under AQE: partial distinct then merge)."""
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "ECONOMY")
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    f"""
    SELECT {sql_sum("l_extendedprice")} / CAST(7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) — decorrelated into a grouped agg joined back on partkey,
    so the 'subquery' is one shuffle-free broadcast of per-part means
    instead of a per-row probe."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    part = t["part"].filter(F.col("p_brand") == "Brand#5").select("p_partkey")
    per_part = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("avg_pk"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("avg_pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.expr(sql_sum("l_extendedprice")) / F.lit(7.0).cast("double"))
            .alias("avg_yearly")
        )
    )


@query(
    "q18_large_volume_customers",
    f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_sum("l_quantity", "total_qty")}
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING {sql_sum("l_quantity")} > 150)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
)
def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape with one lineitem scan: aggregate lineitem once by
    order key, keeping the HAVING filter and the exact ``total_qty`` in the
    same aggregation, then join orders and customer. ``o_orderkey``
    determines every other group column, so the per-order total is the
    query's total (the Synapse exchange-sharing rewrite of the IN
    subquery and the main join-aggregate)."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "q19_disjunctive_predicates",
    f"""
    SELECT {_SQL_REV} AS revenue, COUNT(*) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. Catalyst
    derives the common sub-predicates it can push to each scan
    (InferFiltersFromConstraints) and evaluates the residual disjunction
    post-join — declared as one filter, not three unioned queries."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 30)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 35)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            _revenue("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q22_inactive_customers",
    f"""
    SELECT SUBSTRING(c_name, 10, 4) AS cust_group,
           COUNT(*) AS numcust,
           {sql_sum("c_acctbal", "totacctbal")}
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cust_group
    """,
)
def q22_inactive_customers(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery (global positive-
    balance average, a 1-row broadcast) + NOT EXISTS anti-join + grouped
    report. The scalar lands via crossJoin(broadcast(1-row)) — no
    collect() on the driver. 'Inactive' = no order since 2000 (every
    testdata customer has some order, so plain NOT EXISTS is vacuous)."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    recent = t["orders"].filter(F.col("o_orderdate") >= "2000-01-01")
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        t["customer"]
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.substring("c_name", 10, 4).alias("cust_group"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", "totacctbal"),
        )
    )
