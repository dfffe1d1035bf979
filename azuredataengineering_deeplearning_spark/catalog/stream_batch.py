"""Catalog: event-time window aggregations (T-series gap-fill).

``F.window``/``F.session_window`` execute identically over batch and
streaming inputs, so correctness is checked here in batch against
DuckDB reconstructions; the streaming runtime (watermarks, checkpoints,
exactly-once) is exercised in ``tests/test_streaming.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import exact_sum, sql_sum
from azuredataengineering_deeplearning_spark.sources.readers import load_tables
from azuredataengineering_deeplearning_spark.streaming import windows as SW


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, ["events"])["events"]


@query(
    "st_tumbling_agg",
    f"""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n,
           {sql_sum("value", "total")}
    FROM events GROUP BY 1, 2, 3
    """,
)
def st_tumbling_agg(spark, sf_dir):
    """Tumbling 1 h event-time windows per event type."""
    ev = _events(spark, sf_dir)
    return SW.tumbling_agg(
        ev, "ts", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), exact_sum("value", "total")],
    )


@query(
    "st_sliding_agg",
    """
    WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
    ), assigned AS (
      SELECT time_bucket(INTERVAL 1 HOUR, t) AS ws, event_type, value FROM e
      UNION ALL
      SELECT time_bucket(INTERVAL 1 HOUR, t) - INTERVAL 1 HOUR, event_type, value FROM e
    )
    SELECT ws AS window_start, ws + INTERVAL 2 HOUR AS window_end,
           event_type, COUNT(*) AS n
    FROM assigned GROUP BY ws, event_type
    """,
)
def st_sliding_agg(spark, sf_dir):
    """Sliding windows (2 h length, 1 h slide): every event counts in
    two windows."""
    ev = _events(spark, sf_dir)
    return SW.sliding_agg(
        ev, "ts", "2 hours", "1 hour", ["event_type"], [F.count(F.lit(1)).alias("n")]
    )


@query(
    "st_session_agg",
    f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events
    ), flagged AS (
      SELECT *, CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu)
                          > 3600000000 THEN 1 ELSE 0 END AS new_s
      FROM e
    ), sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tu
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT MIN(t) AS session_start, MAX(t) + INTERVAL 1 HOUR AS session_end,
           user_id, COUNT(*) AS n,
           {sql_sum("value", "total")}
    FROM sess GROUP BY user_id, sid
    """,
)
def st_session_agg(spark, sf_dir):
    """Session windows (1 h gap) per user — streaming twin of W5; end =
    last event + gap (Spark session_window semantics)."""
    ev = _events(spark, sf_dir)
    return SW.session_agg(
        ev, "ts", "1 hour", ["user_id"],
        [F.count(F.lit(1)).alias("n"), exact_sum("value", "total")],
    )


@query(
    "st_stream_stream_join",
    """
    WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us
               FROM events WHERE event_type = 'click'),
    r AS (SELECT user_id, event_id AS event_id_r, epoch_us(ts) AS us_r
          FROM events WHERE event_type = 'purchase')
    SELECT l.user_id, event_id, event_id_r,
           CAST(us_r - us AS BIGINT) AS dt_us
    FROM l JOIN r ON l.user_id = r.user_id
     AND us_r BETWEEN us - 3600000000 AND us + 3600000000
    """,
)
def st_stream_stream_join(spark, sf_dir):
    """Stream-stream band join run in batch mode: clicks joined to same-
    user purchases within ±1 h of event time. In streaming the same
    function adds watermarks and Spark evicts state beyond
    watermark + band — state is rate x window, not stream length.
    Timestamps compare at micro grain (DuckDB truncates nanos)."""
    from azuredataengineering_deeplearning_spark.streaming.joins import stream_stream_join

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("tsu"),
    )
    left = base.filter(F.col("event_type") == "click").select("user_id", "event_id", "tsu")
    right = base.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "tsu")
    out = stream_stream_join(
        left, right, ["user_id"], "tsu", "tsu", within="60 minutes"
    )
    return out.select(
        "user_id", "event_id", "event_id_r",
        (F.unix_micros("tsu_r") - F.unix_micros("tsu")).alias("dt_us"),
    )
