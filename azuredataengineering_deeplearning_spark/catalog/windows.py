"""Catalog: window operators W1-W12, A10, SCD2 dating.

Events timestamps are compared as exact int64 nanoseconds (``ts_ns`` on
the Spark side, ``epoch_ns(ts)`` in DuckDB) — see sources.readers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import sql_avg, sql_sum
from azuredataengineering_deeplearning_spark.operators import scd as SCD
from azuredataengineering_deeplearning_spark.operators import windows as W
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, read_parquet


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, ["events"])["events"]


@query(
    "w1_flag_partition_max",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderdate = MAX(o_orderdate) OVER (PARTITION BY o_custkey)
                THEN 1 ELSE 0 END AS is_max
    FROM orders
    """,
)
def w1_flag_partition_max(spark, sf_dir):
    """W1: current-version-style partitioned max flag."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return W.flag_partition_max(o, ["o_custkey"], "o_orderdate").select(
        "o_orderkey", "is_max"
    )


_CUMSUM_SQL = f"""
    SELECT event_id,
           {sql_sum("value", "cumsum", over="PARTITION BY user_id ORDER BY epoch_ns(ts)"
                    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")}
    FROM events
"""


@query("w2_cumsum_events", _CUMSUM_SQL)
def w2_cumsum_events(spark, sf_dir):
    """W2 baseline: running sum per user in exact fixed point."""
    ev = _events(spark, sf_dir)
    return W.cumsum(ev, ["user_id"], "ts_ns", "value").select("event_id", "cumsum")


@query("w2_salted_cumsum_events", _CUMSUM_SQL)
def w2_salted_cumsum_events(spark, sf_dir):
    """W2 salted: identical semantics, skew-proof two-level plan
    (same oracle as the unsalted variant — that IS the invariant)."""
    ev = _events(spark, sf_dir)
    return W.salted_cumsum(
        ev, ["user_id"], "ts_ns", "value", salt_size=86_400_000_000_000
    ).select("event_id", "cumsum")


@query(
    "w3_lag_lead_dating",
    """
    SELECT event_id,
           lag(value, 1, 0.0) OVER w AS prev_value,
           lead(value) OVER w AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts))
    """,
)
def w3_lag_lead_dating(spark, sf_dir):
    """W3/W4: lag with default + lead per key."""
    ev = _events(spark, sf_dir)
    ev = W.lag_over(ev, ["user_id"], "ts_ns", "value", 1, 0.0, out="prev_value")
    ev = W.lag_over(ev, ["user_id"], "ts_ns", "value", -1, out="next_value")
    return ev.select("event_id", "prev_value", "next_value")


@query(
    "w5_sessionize_events",
    """
    WITH gaps AS (
      SELECT event_id, user_id, epoch_ns(ts) AS tns,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_ns(ts)) > 3600000000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT event_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY tns
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS session_id
    FROM gaps
    """,
)
def w5_sessionize_events(spark, sf_dir):
    """W5: gap-based sessionization (1 h threshold, exact ns arithmetic)."""
    ev = _events(spark, sf_dir)
    out = W.sessionize(ev, ["user_id"], "ts_ns", gap=3_600_000_000_000)
    return out.select("event_id", "session_id")


@query(
    "w6_cumcount",
    """
    SELECT event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) - 1 AS cumcount
    FROM events
    """,
)
def w6_cumcount(spark, sf_dir):
    """W6: 0-based running count per key."""
    ev = _events(spark, sf_dir)
    return W.cumcount(ev, ["user_id"], ["ts_ns"]).select("event_id", "cumcount")


@query(
    "w7_expanding_mean",
    f"""
    SELECT event_id,
           {sql_avg("value", "expanding_mean", over="PARTITION BY user_id ORDER BY epoch_ns(ts)"
                    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")}
    FROM events
    """,
)
def w7_expanding_mean(spark, sf_dir):
    """W7: leakage-free expanding mean (strictly-previous frame)."""
    ev = _events(spark, sf_dir)
    return W.expanding_mean_excluding_current(
        ev, ["user_id"], "ts_ns", "value"
    ).select("event_id", "expanding_mean")


@query(
    "w9_sliding_windows",
    # window emitted as fixed-format CSV: the driver canonicalizer sorts
    # pandas columns and cannot hash list cells, and the CSV still
    # proves element ORDER inside each window
    """
    SELECT event_id,
           array_to_string(list_transform(win, v -> printf('%.6f', v)), ',') AS win_csv
    FROM (
      SELECT event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
                  ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS win
      FROM events
    ) WHERE len(win) = 3
    """,
)
def w9_sliding_windows(spark, sf_dir):
    """W9: fixed-size sliding windows with partial windows dropped."""
    ev = _events(spark, sf_dir)
    out = W.sliding_windows(ev, ["user_id"], "ts_ns", "value", 3, out="win")
    return out.select(
        "event_id",
        F.array_join(
            F.transform(F.col("win"), lambda v: F.format_string("%.6f", v)), ","
        ).alias("win_csv"),
    )


@query(
    "w10_ffill",
    """
    WITH masked AS (
      SELECT event_id, user_id, epoch_ns(ts) AS tns,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tns
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM masked
    """,
)
def w10_ffill(spark, sf_dir):
    """W10: per-group forward fill over a nullable measure."""
    ev = _events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )
    return W.ffill(ev, ["user_id"], "ts_ns", "v", out="filled").select(
        "event_id", "filled"
    )


@query(
    "w11_diff",
    """
    SELECT event_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS diff
    FROM events
    """,
)
def w11_diff(spark, sf_dir):
    """W11: difference to previous row per key."""
    ev = _events(spark, sf_dir)
    return W.diff(ev, ["user_id"], "ts_ns", "value").select("event_id", "diff")


@query(
    "w12_tail_split",
    """
    SELECT event_id,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC) <= 5
                THEN 1 ELSE 0 END AS in_tail
    FROM events
    """,
)
def w12_tail_split(spark, sf_dir):
    """W12: last-n-per-series holdout marker."""
    ev = _events(spark, sf_dir)
    return W.tail_per_group(ev, ["user_id"], "ts_ns", 5, flag="in_tail").select(
        "event_id", "in_tail"
    )


@query(
    "a10_cumulative_mode",
    """
    WITH occ AS (
      SELECT event_id, user_id, event_type, epoch_ns(ts) AS tns,
             COUNT(*) OVER (PARTITION BY user_id, event_type ORDER BY epoch_ns(ts)
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_occ,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS rn
      FROM events
    )
    SELECT event_id,
           arg_max(event_type, n_occ * 2147483648 + rn) OVER (
                PARTITION BY user_id ORDER BY tns
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_mode
    FROM occ
    """,
)
def a10_cumulative_mode(spark, sf_dir):
    """A10: most-common-value-so-far per key (ties → most recent)."""
    ev = _events(spark, sf_dir)
    return W.cumulative_mode(ev, ["user_id"], "ts_ns", "event_type").select(
        "event_id", "prev_mode"
    )


@query(
    "scd2_dating_orders",
    """
    WITH w AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS next_change,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS effectiveDate,
           COALESCE(CAST(strftime(next_change - INTERVAL 1 DAY, '%Y%m%d') AS INT), 20991231) AS expirationDate,
           CASE WHEN rn = 1 THEN 1 ELSE 0 END AS currentVersion
    FROM w
    """,
)
def scd2_dating_orders(spark, sf_dir):
    """SCD2 dating (``apply_scd2.py`` semantics): each order is a version
    of its customer; int yyyyMMdd effective/expiration, 20991231 open end,
    exactly one current row per key (deterministic tiebreak)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    out = SCD.apply_scd2(o, ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"])
    return out.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        "effectiveDate",
        "expirationDate",
        F.col("currentVersion").cast("int").alias("currentVersion"),
    )


@query(
    "w_rolling_zscore",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
    SELECT event_id,
           ROUND((value - AVG(value) OVER w)
                 / NULLIF(STDDEV_SAMP(value) OVER w, 0), 4) AS zscore
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    """,
)
def w_rolling_zscore(spark, sf_dir):
    """Trailing-window anomaly score per user (current row excluded);
    rounded to 4dp — sliding-variance accumulation differs across
    engines below that."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    base = ev.select(
        "event_id", "user_id", F.expr("ts_ns div 1000").alias("us"), "value"
    )
    out = W.rolling_zscore(base, ["user_id"], "us", "value", lookback=20)
    return out.select("event_id", F.round("zscore", 4).alias("zscore"))


@query(
    "w_funnel_steps",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    g AS (
      SELECT user_id,
             list_sort(list(us) FILTER (event_type = 'view')) AS a0,
             list_sort(list(us) FILTER (event_type = 'click')) AS a1,
             list_sort(list(us) FILTER (event_type = 'purchase')) AS a2
      FROM e GROUP BY user_id
    ), s AS (
      SELECT user_id, a0[1] AS t_step0,
             list_filter(a1, x -> x > a0[1])[1] AS t_step1,
             list_filter(a2, x -> x > list_filter(a1, y -> y > a0[1])[1])[1] AS t_step2
      FROM g
    )
    SELECT user_id, t_step0, t_step1, t_step2,
           CAST(CASE WHEN t_step0 IS NULL THEN 0
                     WHEN t_step1 IS NULL THEN 1
                     WHEN t_step2 IS NULL THEN 2 ELSE 3 END AS INT) AS steps_completed
    FROM s
    """,
)
def w_funnel_steps(spark, sf_dir):
    """Strict-order funnel view → click → purchase per user: earliest
    completion times and depth, one aggregate, no joins."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    base = ev.select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("us")
    )
    return W.funnel_steps(base, "user_id", "us", "event_type",
                          ["view", "click", "purchase"])


@query(
    "w_cumulative_distinct",
    """
    WITH t AS (
      SELECT event_id, user_id, event_type, epoch_ns(ts) AS tns,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_ns(ts), event_id) = 1 THEN 1 ELSE 0 END AS f
      FROM events
    )
    SELECT event_id,
           CAST(SUM(f) OVER (
             PARTITION BY user_id ORDER BY tns, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct
    FROM t
    """,
)
def w_cumulative_distinct(spark, sf_dir):
    """Distinct event types seen to date per user — stacked
    first-occurrence + running-sum windows on one shuffle (no
    per-row set state)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return W.cumulative_distinct(
        ev, ["user_id"], ["ts_ns", "event_id"], "event_type"
    ).select("event_id", "cum_distinct")


@query(
    "scd2_as_of",
    """
    WITH w AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS effectiveDate,
             COALESCE(CAST(strftime(
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) - INTERVAL 1 DAY,
               '%Y%m%d') AS INT), 20991231) AS expirationDate
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, effectiveDate, expirationDate
    FROM w
    WHERE effectiveDate <= 19970615 AND expirationDate >= 19970615
    """,
)
def scd2_as_of(spark, sf_dir):
    """Temporal point-in-time read: the version of each customer in
    force on 1997-06-15 — the query every SCD2 dimension exists to
    answer. Pure filter over the dated dimension (file-skippable when
    clustered on the effective range)."""
    from azuredataengineering_deeplearning_spark.operators.scd import scd2_as_of as as_of

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    dim = SCD.apply_scd2(o, ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"])
    return as_of(dim, 19970615).select(
        "o_custkey", "o_orderkey", "o_totalprice", "effectiveDate", "expirationDate"
    )


@query(
    "scd2_temporal_join",
    """
    WITH dim AS (
      SELECT o_custkey, o_orderkey AS version_id, o_totalprice,
             CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS effectiveDate,
             COALESCE(CAST(strftime(
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) - INTERVAL 1 DAY,
               '%Y%m%d') AS INT), 20991231) AS expirationDate
      FROM orders
    ),
    facts AS (
      SELECT o_orderkey AS fact_id, o_custkey,
             CAST(strftime(o_orderdate + INTERVAL 30 DAY, '%Y%m%d') AS INT) AS dk
      FROM orders
    )
    SELECT f.fact_id, d.version_id, d.o_totalprice AS dim_price
    FROM facts f LEFT JOIN dim d
      ON f.o_custkey = d.o_custkey
     AND f.dk BETWEEN d.effectiveDate AND d.expirationDate
    """,
)
def scd2_temporal_join(spark, sf_dir):
    """Every order, joined to the customer 'version' in force 30 days
    after it was placed — the SCD2 fact-dim attachment. Equi-join on
    the natural key with the date range as a post-join filter (never a
    range nested-loop)."""
    from azuredataengineering_deeplearning_spark.operators.scd import (
        scd2_temporal_join as tjoin,
    )

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    dim = SCD.apply_scd2(
        o.select("o_custkey", F.col("o_orderkey").alias("version_id"),
                 "o_totalprice", "o_orderdate"),
        ["o_custkey"], "o_orderdate", tiebreak=["version_id"],
    ).drop("o_orderdate", "currentVersion")
    facts = o.select(
        F.col("o_orderkey").alias("fact_id"),
        "o_custkey",
        F.date_format(F.date_add("o_orderdate", 30), "yyyyMMdd")
        .cast("int")
        .alias("dk"),
    )
    out = tjoin(facts, dim, ["o_custkey"], "dk")
    return out.select(
        "fact_id",
        F.col("dim_version_id").alias("version_id"),
        F.col("dim_o_totalprice").alias("dim_price"),
    )


@query(
    "w_global_row_number",
    """
    SELECT o_orderkey,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
    FROM orders
    """,
)
def w_global_row_number(spark, sf_dir):
    """Dense global sequence over all orders by date — range-partitioned
    two-phase numbering; no row ever passes through a single-reducer
    global window."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return W.global_row_number(o, ["o_orderdate", "o_orderkey"]).select(
        "o_orderkey", "rn"
    )


@query(
    "scd2_compact",
    """
    WITH dated AS (
      SELECT o_custkey, o_orderpriority,
             CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS effectiveDate,
             COALESCE(CAST(strftime(
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) - INTERVAL 1 DAY,
               '%Y%m%d') AS INT), 20991231) AS expirationDate,
             CASE WHEN row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
                  THEN 1 ELSE 0 END AS currentVersion
      FROM orders
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
                  THEN 1 ELSE 0 END
             + CASE WHEN row_number() OVER w = 1 THEN 1 ELSE 0 END AS flag
      FROM dated
      WINDOW w AS (PARTITION BY o_custkey ORDER BY effectiveDate, expirationDate)
    ),
    spans AS (
      SELECT *, SUM(CASE WHEN flag > 0 THEN 1 ELSE 0 END) OVER (
               PARTITION BY o_custkey ORDER BY effectiveDate, expirationDate
               ROWS UNBOUNDED PRECEDING) AS span
      FROM flagged
    )
    SELECT o_custkey,
           CAST(MIN(effectiveDate) AS INT) AS effectiveDate,
           CAST(MAX(expirationDate) AS INT) AS expirationDate,
           CAST(MAX(currentVersion) AS INT) AS currentVersion,
           MIN(o_orderpriority) AS o_orderpriority
    FROM spans GROUP BY o_custkey, span
    """,
)
def scd2_compact(spark, sf_dir):
    """Collapse adjacent same-priority 'versions' of each customer into
    single spans — the dimension-hygiene pass after reprocessing. One
    window pass; spans keep SCD2 contiguity (adjacent-only merging)."""
    from azuredataengineering_deeplearning_spark.operators.scd import compact_scd2

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    dim = SCD.apply_scd2(
        o.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
        ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"],
    ).drop("o_orderdate", "o_orderkey")
    out = compact_scd2(dim, ["o_custkey"], ["o_orderpriority"])
    return out.select(
        "o_custkey",
        F.col("effectiveDate").cast("int").alias("effectiveDate"),
        F.col("expirationDate").cast("int").alias("expirationDate"),
        F.col("currentVersion").cast("int").alias("currentVersion"),
        "o_orderpriority",
    )


_FUNNEL_SQL = """
    WITH s0 AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= s0.t_view
      GROUP BY e.user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s1.t_click
      GROUP BY e.user_id
    ),
    prog AS (
      SELECT s0.user_id, s0.t_view, s1.t_click, s2.t_purchase,
             1 + (CASE WHEN s1.user_id IS NULL THEN 0 ELSE 1 END)
               + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END) AS furthest_step
      FROM s0
      LEFT JOIN s1 ON s0.user_id = s1.user_id
      LEFT JOIN s2 ON s0.user_id = s2.user_id
    )
"""


@query("w_funnel_progress", _FUNNEL_SQL + "SELECT * FROM prog")
def w_funnel_progress(spark, sf_dir):
    """Ordered view→click→purchase funnel: per-user first completion
    time of each step at-or-after the previous step."""
    ev = _events(spark, sf_dir)
    return W.funnel_progress(
        ev,
        "user_id",
        "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )


@query(
    "w_funnel_summary",
    _FUNNEL_SQL
    + """
    SELECT 0 AS rank, 'view' AS step,
           CAST(COUNT(t_view) AS BIGINT) AS n_reached,
           COUNT(t_view) * 1.0 / COUNT(t_view) AS frac_of_first FROM prog
    UNION ALL
    SELECT 1, 'click', CAST(COUNT(t_click) AS BIGINT),
           COUNT(t_click) * 1.0 / COUNT(t_view) FROM prog
    UNION ALL
    SELECT 2, 'purchase', CAST(COUNT(t_purchase) AS BIGINT),
           COUNT(t_purchase) * 1.0 / COUNT(t_view) FROM prog
    """,
)
def w_funnel_summary(spark, sf_dir):
    """Funnel conversion report: users reaching each step and the
    conversion fraction vs the top of the funnel."""
    ev = _events(spark, sf_dir)
    prog = W.funnel_progress(
        ev,
        "user_id",
        "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )
    return W.funnel_summary(prog, ["view", "click", "purchase"])


@query(
    "w_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS nxt
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_event, nxt AS to_event, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_event, to_event, CAST(n AS BIGINT) AS n,
           n * 1.0 / SUM(n) OVER (PARTITION BY from_event) AS prob
    FROM pairs
    """,
)
def w_event_transitions(spark, sf_dir):
    """Markov transition matrix over each user's event stream — lag
    window + pair aggregate, event_id tiebreak for same-timestamp
    determinism."""
    ev = _events(spark, sf_dir)
    return W.event_transitions(ev, "user_id", "ts", "event_type", "event_id")


@query(
    "w_paths_to_conversion",
    """
    WITH first AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    pre AS (
      SELECT e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_id, e.event_type,
             ROW_NUMBER() OVER (
               PARTITION BY e.user_id
               ORDER BY CAST(e.ts AS TIMESTAMP) DESC, e.event_id DESC
             ) AS rn
      FROM events e JOIN first ON e.user_id = first.user_id
      WHERE CAST(e.ts AS TIMESTAMP) < first.t1
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM pre WHERE rn <= 3 GROUP BY user_id
    ),
    allp AS (
      SELECT COALESCE(paths.path, '') AS path
      FROM first LEFT JOIN paths ON first.user_id = paths.user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM allp GROUP BY path
    """,
)
def w_paths_to_conversion(spark, sf_dir):
    """Last-3-event paths before each user's first purchase, counted —
    the pre-conversion behavior report."""
    ev = _events(spark, sf_dir)
    return W.paths_to_conversion(
        ev, "user_id", "ts", "event_type", "purchase", k=3,
        tiebreak_col="event_id",
    )


@query(
    "w_frequent_sequences",
    """
    WITH s AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS e2,
             LEAD(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS e3
      FROM events
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM s WHERE e3 IS NOT NULL
    GROUP BY 1 HAVING COUNT(*) >= 5
    ORDER BY n_occurrences DESC, path LIMIT 50
    """,
)
def w_frequent_sequences(spark, sf_dir):
    """Most frequent 3-event motifs across user timelines."""
    ev = _events(spark, sf_dir)
    return W.frequent_sequences(
        ev, "user_id", "ts", "event_type", n=3, min_count=5, top_k=50,
        tiebreak_col="event_id",
    )
