"""Catalog: remaining join shapes J2/J8/J9 (J1/J3/J7 are in core)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.operators import joins as J
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, read_parquet


@query(
    "j2_multikey_join",
    """
    WITH pc AS (
      SELECT l_orderkey AS k1, l_suppkey AS k2, COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    )
    SELECT l_orderkey, l_linenumber, n_lines
    FROM lineitem JOIN pc ON l_orderkey = pc.k1 AND l_suppkey = pc.k2
    """,
)
def j2_multikey_join(spark, sf_dir):
    """J2: multi-key equi join (agg joined back on its grouping keys —
    both sides share the shuffle partitioning, no second exchange)."""
    li = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_suppkey", "l_linenumber"],
    )
    counts = li.groupBy(
        F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("k2")
    ).agg(F.count(F.lit(1)).alias("n_lines"))
    return J.equi_join(
        li,
        counts,
        (F.col("l_orderkey") == F.col("k1")) & (F.col("l_suppkey") == F.col("k2")),
    ).select("l_orderkey", "l_linenumber", "n_lines")


@query(
    "j8_asof_previous",
    """
    SELECT o_orderkey,
           lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS prev_orderdate
    FROM orders
    """,
)
def j8_asof_previous(spark, sf_dir):
    """J8: as-of/nearest-prior value per key — a window lag, not a
    self-join (``generate_data.py:551-555`` groupby-shift)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    out = J.asof_previous(
        o.withColumn("__ord", F.struct("o_orderdate", "o_orderkey")),
        ["o_custkey"],
        "__ord",
        "o_orderdate",
        out="prev_orderdate",
    )
    return out.select("o_orderkey", "prev_orderdate")


@query(
    "j9_range_clamp",
    """
    WITH bounds AS (
      SELECT user_id, min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT event_id, e.user_id
    FROM events e JOIN bounds USING (user_id)
    WHERE epoch_ns(ts) BETWEEN lo AND hi
    """,
)
def j9_range_clamp(spark, sf_dir):
    """J9: keep rows inside a per-key [start, end] interval
    (``stats_forecast_predict.py:181-202``). Bounds are one row per key."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    bounds = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi"))
    )
    return J.range_clamp(ev, bounds, ["user_id"], "ts_ns", "lo", "hi").select(
        "event_id", "user_id"
    )


@query(
    "j_asof_join_events",
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    purchases AS (
      SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, ts_us, MAX(event_id) AS view_id
      FROM ev WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT p.event_id, p.user_id, p.ts_us,
           v.ts_us AS ts_us_right, v.view_id
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
    """,
)
def j_asof_join_events(spark, sf_dir):
    """True two-table as-of join: each purchase picks up the user's most
    recent view at-or-before it (merge_asof semantics, computed fully
    JVM-side by the union+window strategy; DuckDB ASOF LEFT JOIN is the
    oracle; all three directions are tested against pd.merge_asof). Right side is
    deduped per (user, ts) with a max-id tiebreak so the nearest match
    is deterministic on both engines. Times compare at microsecond
    resolution (``ts_ns div 1000`` ≡ DuckDB ``epoch_us``): DuckDB's
    parquet reader truncates NANOS timestamps to micros, so micro is
    the finest grain both engines agree on."""
    from azuredataengineering_deeplearning_spark.operators.aggregates import (
        argmax_rows,
    )

    ev = load_tables(spark, sf_dir, ["events"])["events"].withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    views = (
        argmax_rows(
            ev.filter(F.col("event_type") == "view").select(
                "user_id", "ts_us", "event_id"
            ),
            keys=["user_id", "ts_us"],
            order="event_id",
        )
        .select("user_id", "ts_us", F.col("event_id").alias("view_id"))
    )
    return J.asof_join(purchases, views, on="ts_us", by=["user_id"])


@query(
    "j_interval_join",
    """
    WITH campaigns AS (
      SELECT o_custkey AS cust, o_orderkey AS campaign_id,
             CAST(epoch(o_orderdate) AS BIGINT) AS lo,
             CAST(epoch(o_orderdate + INTERVAL 60 DAY) AS BIGINT) AS hi
      FROM orders WHERE o_orderkey % 37 = 0
    ), pts AS (
      SELECT o_custkey AS cust, o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS t
      FROM orders
    )
    SELECT p.cust, p.o_orderkey, c.campaign_id, p.t, c.lo, c.hi
    FROM pts p JOIN campaigns c
      ON p.cust = c.cust AND p.t BETWEEN c.lo AND c.hi
    """,
)
def j_interval_join(spark, sf_dir):
    """Interval membership at scale: every order landing inside any
    'campaign' window of the same customer (1/37th of orders open a
    60-day window). Bucketized equi-join + residual BETWEEN — the plan
    is a hash join on (cust, bucket), not a nested-loop product."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    epoch = lambda c: F.unix_timestamp(F.col(c)).cast("bigint")  # noqa: E731
    campaigns = o.filter(F.col("o_orderkey") % 37 == 0).select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("campaign_id"),
        epoch("o_orderdate").alias("lo"),
        (epoch("o_orderdate") + F.lit(60 * 86400)).alias("hi"),
    )
    pts = o.select(
        F.col("o_custkey").alias("cust"),
        "o_orderkey",
        epoch("o_orderdate").alias("t"),
    )
    return J.interval_join(
        pts, campaigns, "t", "lo", "hi", by=["cust"], bucket_size=60 * 86400
    ).select("cust", "o_orderkey", "campaign_id", "t", "lo", "hi")


@query(
    "j_salted_join",
    """
    SELECT l_orderkey, l_extendedprice, o_orderdate
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def j_salted_join(spark, sf_dir):
    """Explicitly salted fact-dim join returns exactly the plain join's
    multiset (the oracle IS the plain join) while spreading each hot key
    across 8 sub-partitions — the AQE-less skew weapon."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li = t["lineitem"].select("l_orderkey", "l_extendedprice")
    od = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    )
    out = J.salted_join(li, od, ["l_orderkey"], n_salts=8)
    return out.select(
        "l_orderkey", "l_extendedprice", F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
    )


_ASOF_HOTKEY_SQL = """
    WITH ev AS (
      SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    purchases AS (
      SELECT event_id, ts_us FROM ev WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT 0 AS g, ts_us, MAX(event_id) AS view_id
      FROM ev WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT p.event_id, p.ts_us, v.ts_us AS ts_us_right, v.view_id
    FROM (SELECT 0 AS g, * FROM purchases) p
    ASOF LEFT JOIN views v
      ON p.g = v.g AND p.ts_us >= v.ts_us
"""


def _asof_hotkey_inputs(spark, sf_dir):
    """Worst-case as-of skew fixture: every event collapsed onto ONE
    key, so the whole join lands on a single ``by`` partition (the
    hot-user pattern of ``generate_data.py:551-555`` taken to its
    limit, mirroring ``w2_hotkey_*``)."""
    from azuredataengineering_deeplearning_spark.operators.aggregates import (
        argmax_rows,
    )

    ev = load_tables(spark, sf_dir, ["events"])["events"].withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "ts_us")
        .withColumn("g", F.lit(0))
    )
    views = (
        argmax_rows(
            ev.filter(F.col("event_type") == "view").select("ts_us", "event_id"),
            keys=["ts_us"],
            order="event_id",
        )
        .select("ts_us", F.col("event_id").alias("view_id"))
        .withColumn("g", F.lit(0))
    )
    return purchases, views


@query("j_asof_hotkey_native", _ASOF_HOTKEY_SQL)
def j_asof_hotkey_native(spark, sf_dir):
    """Hot-key as-of, single-task baseline: the union+window strategy
    with one global key serializes the sort onto one task — correct,
    and the yardstick the salted variant must match."""
    purchases, views = _asof_hotkey_inputs(spark, sf_dir)
    out = J.asof_join(purchases, views, on="ts_us", by=["g"])
    return out.select("event_id", "ts_us", "ts_us_right", "view_id")


@query("j_asof_hotkey_salted", _ASOF_HOTKEY_SQL)
def j_asof_hotkey_salted(spark, sf_dir):
    """Hot-key as-of, salted: time-bucketed within-key windows + an
    O(buckets) carry table parallelize the hot key across its time
    range; identical results (same oracle as the native variant — that
    IS the check). 1-hour epoch-micro buckets → ~720 buckets over the
    30-day events table."""
    purchases, views = _asof_hotkey_inputs(spark, sf_dir)
    out = J.asof_join_salted(
        purchases, views, on="ts_us", by=["g"], bucket_width=3_600_000_000
    )
    return out.select("event_id", "ts_us", "ts_us_right", "view_id")
