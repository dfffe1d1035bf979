"""Core catalog queries: scans, relational ops, first joins and aggs.

The flagship query (``q5_revenue_by_nation``) is the end-to-end slice of
SURVEY §7 step 3: 5-table star join with explicit dim broadcasts, exact
decimal revenue aggregation, order + limit — the plan Catalyst produces
is two broadcast hash joins on the dim side and shuffle joins on the
fact-fact edges, with the shipdate filter pushed into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import (
    exact_avg,
    exact_sum,
    exact_sum_product,
    sql_avg,
    sql_sum,
    sql_sum_product,
)
from azuredataengineering_deeplearning_spark.operators import aggregates as A
from azuredataengineering_deeplearning_spark.operators import joins as J
from azuredataengineering_deeplearning_spark.operators import relational as R
from azuredataengineering_deeplearning_spark.sources.readers import (
    load_tables,
    read_parquet,
)

# ---------------------------------------------------------------------------
# S1/P1/P2 — scan with column prune + pushed filter
# ---------------------------------------------------------------------------


@query(
    "s1_scan_prune_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45
    """,
)
def s1_scan_prune_filter(spark, sf_dir):
    """S1+S11+P1+P2: the filter and 3-column projection reach the parquet
    scan (PushedFilters/ReadSchema) — nothing else is read."""
    return read_parquet(
        spark,
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_quantity"],
        predicate=F.col("l_quantity") > 45,
    )


@query(
    "p3_regex_filter",
    """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE regexp_matches(p_type, 'ECONOMY|PROMO') AND NOT regexp_matches(p_name, 'red|blue')
    """,
)
def p3_regex_filter(spark, sf_dir):
    """P3: rlike + negated alternation filter."""
    part = read_parquet(spark, f"{sf_dir}/part.parquet")
    out = R.rlike_filter(part, "p_type", "ECONOMY|PROMO")
    out = R.rlike_filter(out, "p_name", "red|blue", negate=True)
    return R.select_columns(out, ["p_partkey", "p_name", "p_type"])


@query(
    "p5_conditional_tiering",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier
    FROM customer
    """,
)
def p5_conditional_tiering(spark, sf_dir):
    """P5: when/otherwise chain."""
    c = read_parquet(spark, f"{sf_dir}/customer.parquet")
    out = R.conditional_column(
        c,
        "tier",
        [
            (F.col("c_acctbal") < 0, F.lit("debt")),
            (F.col("c_acctbal") < 5000, F.lit("standard")),
        ],
        otherwise=F.lit("premium"),
    )
    return out.select("c_custkey", "tier")


@query(
    "p9_clip_clamp",
    """
    SELECT c_custkey,
           CAST(LEAST(GREATEST(c_acctbal, 0.0), 5000.0) AS DOUBLE) AS acctbal_clipped
    FROM customer
    """,
)
def p9_clip_clamp(spark, sf_dir):
    """P9: clip to [0, 5000]."""
    c = read_parquet(spark, f"{sf_dir}/customer.parquet")
    out = R.clip(c, "c_acctbal", lower=0.0, upper=5000.0, out="acctbal_clipped")
    return out.select("c_custkey", "acctbal_clipped")


# ---------------------------------------------------------------------------
# Q1 — pricing summary (A1/A2 + exact fixed-point arithmetic)
# ---------------------------------------------------------------------------


# Exact TPC-H revenue sum(price * (1 - l_discount)), shared by every
# TPC-H shape, and its DuckDB twin; ``price`` defaults to l_extendedprice
# (a conditional revenue passes a CASE over it). A function: Column
# construction needs an active SparkSession.
def _revenue(alias: str, price: str = "l_extendedprice"):
    return exact_sum_product(price, "1 - l_discount", alias)


def _sql_revenue(price: str = "l_extendedprice") -> str:
    return sql_sum_product(price, "1 - l_discount")


_SQL_REV = _sql_revenue()


@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum('l_quantity', 'sum_qty')},
           {sql_sum('l_extendedprice', 'sum_base_price')},
           {_SQL_REV} AS sum_disc_price,
           {sql_avg('l_quantity', 'avg_qty')},
           {sql_avg('l_extendedprice', 'avg_price')},
           {sql_avg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: pushed filter + grouped exact fixed-point aggregates."""
    li = read_parquet(
        spark,
        f"{sf_dir}/lineitem.parquet",
        predicate=F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"),
    )
    return A.grouped_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            _revenue("sum_disc_price"),
            exact_avg("l_quantity", "avg_qty"),
            exact_avg("l_extendedprice", "avg_price"),
            exact_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


# ---------------------------------------------------------------------------
# Q5 — flagship: revenue by nation (J1/J2/J7 + A1 + O1/O2)
# ---------------------------------------------------------------------------

_Q5_SQL = f"""
    SELECT n_name,
           {_SQL_REV} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name
"""


@query("q5_revenue_by_nation", _Q5_SQL)
def q5_revenue_by_nation(spark, sf_dir):
    """Flagship: 5-table star join → revenue per nation.

    Scale shape: lineitem⋈orders and ⋈customer shuffle on their keys
    (AQE handles skew); nation and region are explicit broadcasts so the
    200-row dims never move the fact table. Exact fixed-point revenue.
    """
    t = load_tables(
        spark, sf_dir, ["lineitem", "orders", "customer", "nation", "region"]
    )
    joined = J.multi_join(
        t["lineitem"],
        [
            (t["orders"], F.col("l_orderkey") == F.col("o_orderkey"), "inner"),
            (t["customer"], F.col("o_custkey") == F.col("c_custkey"), "inner"),
            (F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"), "inner"),
            (F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"), "inner"),
        ],
    )
    return A.grouped_agg(
        joined,
        ["n_name"],
        [
            _revenue("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        ],
    )


@query(
    "j1_broadcast_dim_join",
    f"""
    SELECT n_name, COUNT(*) AS n_customers, {sql_avg('c_acctbal', 'avg_acctbal')}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def j1_broadcast_dim_join(spark, sf_dir):
    """J1: explicit broadcast dim join + grouped agg."""
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    joined = J.broadcast_join(
        t["customer"], t["nation"], F.col("c_nationkey") == F.col("n_nationkey"), "inner"
    )
    return A.grouped_agg(
        joined,
        ["n_name"],
        [F.count(F.lit(1)).alias("n_customers"), exact_avg("c_acctbal", "avg_acctbal")],
    )


@query(
    "j3_semi_join_observed",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 49)
    """,
)
def j3_semi_join_observed(spark, sf_dir):
    """J3: reduce a dim to keys observed in the fact table (left_semi —
    no duplication, no shuffle of unused columns)."""
    t = load_tables(spark, sf_dir, ["supplier", "lineitem"])
    keys = t["lineitem"].filter(F.col("l_quantity") >= 49).select("l_suppkey")
    return J.semi_join(
        t["supplier"], keys, F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name")


@query(
    "a9_argmax_latest_order",
    """
    SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice AS latest_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def a9_argmax_latest_order(spark, sf_dir):
    """A9: arg_max(latest revision) per key via row_number window."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    latest = A.argmax_rows(
        o, ["o_custkey"], "o_orderdate", descending=True, tiebreak=["o_orderkey"]
    )
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_totalprice").alias("latest_totalprice"),
    )


@query(
    "a3_count_distinct_all",
    """
    SELECT COUNT(DISTINCT o_orderstatus) AS o_orderstatus,
           COUNT(DISTINCT o_orderpriority) AS o_orderpriority,
           COUNT(DISTINCT o_custkey) AS o_custkey
    FROM orders
    """,
)
def a3_count_distinct_all(spark, sf_dir):
    """A3: distinct cardinality of several columns in one aggregate."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.count_distinct_all(o, ["o_orderstatus", "o_orderpriority", "o_custkey"])


@query(
    "o5_percentiles_doc_length",
    """
    SELECT quantile_cont(n_chars, 0.5) AS p5,
           quantile_cont(n_chars, 0.99) AS p99,
           quantile_cont(n_chars, 0.999) AS p999
    FROM documents
    """,
)
def o5_percentiles_doc_length(spark, sf_dir):
    """O5: exact interpolated percentiles of document lengths."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return A.percentiles(d, "n_chars", (0.5, 0.99, 0.999))


@query(
    "o4_topk_by_value",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part
    ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10
    """,
)
def o4_topk_by_value(spark, sf_dir):
    """O1/O2/O3/O4: multi-key sort desc + limit → TakeOrderedAndProject
    (top-k without a full sort at scale)."""
    p = read_parquet(spark, f"{sf_dir}/part.parquet")
    return (
        p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
        .limit(10)
        .select("p_partkey", "p_name", "p_retailprice")
    )
