"""Catalog: rollup/cube/pivot/set-difference + rolling time windows +
hot-key skew variants."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import exact_sum, sql_sum
from azuredataengineering_deeplearning_spark.operators import grouping as G
from azuredataengineering_deeplearning_spark.operators import windows as W
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, read_parquet


@query(
    "g_rollup",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_sum('l_quantity', 'qty')}
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def g_rollup(spark, sf_dir):
    """Hierarchical subtotals — free from Catalyst, absent in the
    reference (SURVEY §2.4 note)."""
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return G.rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [F.count(F.lit(1)).alias("n"), exact_sum("l_quantity", "qty")],
    )


@query(
    "g_cube",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def g_cube(spark, sf_dir):
    """All grouping sets in one pass."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return G.cube_agg(
        o, ["o_orderstatus", "o_orderpriority"], [F.count(F.lit(1)).alias("n")]
    )


@query(
    "g_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def g_pivot(spark, sf_dir):
    """Long → wide pivot with pinned values (fixed schema, no extra
    distinct scan)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    out = G.pivot_agg(
        o, ["o_orderpriority"], "o_orderstatus", ["F", "O", "P"], F.count(F.lit(1))
    )
    # absent combinations: Spark pivot yields NULL, COUNT FILTER yields 0
    return out.na.fill(0, subset=["F", "O", "P"])


@query(
    "g_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    WHERE o_totalprice > 300000
    """,
)
def g_except(spark, sf_dir):
    """Set difference: customers with no BIG orders (> 300k). The
    right side is sliced so the result is NON-EMPTY at every test SF
    (3 / 30 / 308 rows at sf0.001/0.01/0.1) — the unsliced variant
    returned 0 rows at sf0.01, making the oracle row vacuous (a 0-row
    hash match can't catch regressions on the EXCEPT path)."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    return G.except_rows(
        t["customer"].select("c_custkey"),
        t["orders"]
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey")),
    )


@query(
    "g_intersect",
    """
    SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 40
    INTERSECT
    SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.08
    """,
)
def g_intersect(spark, sf_dir):
    """Set intersection."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return G.intersect_rows(
        li.filter(F.col("l_quantity") > 40).select(F.col("l_suppkey").alias("k")),
        li.filter(F.col("l_discount") > 0.08).select(F.col("l_suppkey").alias("k")),
    )


@query(
    "w_rolling_7d",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP))) / 86400 AS BIGINT) AS day,
             {sql_sum("value", "y")}
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, day,
           {sql_sum("y", "rolling", over="PARTITION BY user_id ORDER BY day"
                    " RANGE BETWEEN 6 PRECEDING AND CURRENT ROW")}
    FROM daily
    """,
)
def w_rolling_7d(spark, sf_dir):
    """Rolling 7-day sum per user (RANGE frame over a day key — gaps
    shrink the window)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    daily = ev.groupBy(
        "user_id",
        (F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400)
        .cast("bigint")
        .alias("day"),
    ).agg(exact_sum("value", "y"))
    return W.rolling_time_agg(daily, ["user_id"], "day", "y", preceding=6).select(
        "user_id", "day", "rolling"
    )


_HOTKEY_CUMSUM_SQL = f"""
    SELECT event_id,
           {sql_sum("value", "cumsum", over="ORDER BY epoch_ns(ts), event_id"
                    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")}
    FROM events
"""


@query("w2_hotkey_cumsum_plain", _HOTKEY_CUMSUM_SQL)
def w2_hotkey_cumsum_plain(spark, sf_dir):
    """Worst-case skew: ALL rows share one key → the ordered window
    serializes onto a single task."""
    ev = load_tables(spark, sf_dir, ["events"])["events"].withColumn(
        "__one", F.lit(1)
    ).withColumn("__ord", F.struct("ts_ns", "event_id"))
    return W.cumsum(ev, ["__one"], "__ord", "value").select("event_id", "cumsum")


@query("w2_hotkey_cumsum_salted", _HOTKEY_CUMSUM_SQL)
def w2_hotkey_cumsum_salted(spark, sf_dir):
    """Same hot key, salted: within-bucket windows parallelize; identical
    results (same oracle as the plain variant — that IS the check)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"].withColumn(
        "__one", F.lit(1)
    )
    return W.salted_cumsum(
        ev, ["__one"], "ts_ns", "value", salt_size=43_200_000_000_000  # 12h buckets
    ).select("event_id", "cumsum")


@query(
    "g_unpivot",
    """
    SELECT c_custkey, variable, value FROM (
      UNPIVOT (SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
                      CAST(c_nationkey AS DOUBLE) AS nationkey
               FROM customer)
      ON acctbal, nationkey INTO NAME variable VALUE value
    )
    """,
)
def g_unpivot(spark, sf_dir):
    """Wide -> long unpivot (melt): map-side stack, no shuffle."""
    t = load_tables(spark, sf_dir, ["customer"])
    wide = t["customer"].select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return G.unpivot_long(wide, ["c_custkey"], ["acctbal", "nationkey"])


@query(
    "g_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def g_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS — exactly the requested grains in ONE
    Expand + shuffle (no per-grain jobs)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return G.grouping_sets_agg(
        o,
        [["o_orderstatus"], ["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]],
        [F.count(F.lit(1)).alias("n")],
    )
