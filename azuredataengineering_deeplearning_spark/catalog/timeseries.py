"""Catalog: time-series spine/gap-fill/regrain + dim_date."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import (
    exact_sum,
    sql_sum,
    sql_sum_wide,
)
from azuredataengineering_deeplearning_spark.operators import timeseries as TS
from azuredataengineering_deeplearning_spark.sources.readers import load_tables

_DAILY_SQL = f"""
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             {sql_sum("value", "y")}
      FROM events GROUP BY user_id, d
"""


def _daily(spark, sf_dir):
    """Daily per-user value sums — the panel the spine queries build on."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(exact_sum("value", "y"))


@query(
    "ts_spine_gap_fill",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    bounds AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY user_id),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
    )
    SELECT spine.user_id, spine.d AS ds, COALESCE(daily.y, 0.0) AS y
    FROM spine LEFT JOIN daily ON spine.user_id = daily.user_id AND spine.d = daily.d
    """,
)
def ts_spine_gap_fill(spark, sf_dir):
    """Dense daily spine per user clamped to observed [min,max], gaps
    filled with 0 (``stats_forecast_predict.py:94-208`` pipeline)."""
    daily = _daily(spark, sf_dir)
    filled = TS.gap_fill(daily, "user_id", "d", "y", 0.0)
    return filled.select("user_id", F.col("d").alias("ds"), "y")


@query(
    "ts_regrain_weekly",
    f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT user_id, date_trunc('week', d) AS ds, {sql_sum('y', 'y')}
    FROM daily GROUP BY user_id, date_trunc('week', d)
    """,
)
def ts_regrain_weekly(spark, sf_dir):
    """Day → ISO-week regrain with exact sums."""
    daily = _daily(spark, sf_dir)
    return TS.regrain(daily, "user_id", "d", "y", grain="week")


@query(
    "ts_min_history",
    f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT user_id, d, y FROM daily
    QUALIFY COUNT(*) OVER (PARTITION BY user_id) >= 25
    """,
)
def ts_min_history(spark, sf_dir):
    """Min-history filter: only series with >= 25 observed days."""
    daily = _daily(spark, sf_dir)
    return TS.min_history_filter(daily, "user_id", 25).select(
        "user_id", "d", "y"
    )


@query(
    "ts_zero_frac_prune",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    bounds AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY user_id),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
    ),
    filled AS (
      SELECT spine.user_id, spine.d, COALESCE(daily.y, 0.0) AS y
      FROM spine LEFT JOIN daily ON spine.user_id = daily.user_id AND spine.d = daily.d
    )
    SELECT user_id, d AS ds, y FROM filled
    QUALIFY AVG(CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END) OVER (PARTITION BY user_id) <= 0.35
    """,
)
def ts_zero_frac_prune(spark, sf_dir):
    """Drop gap-filled series that are mostly zeros (A8 as pruning)."""
    daily = _daily(spark, sf_dir)
    filled = TS.gap_fill(daily, "user_id", "d", "y", 0.0)
    return TS.zero_fraction_prune(filled, "user_id", "y", 0.35).select(
        "user_id", F.col("d").alias("ds"), "y"
    )


@query(
    "ts_dim_date",
    """
    WITH days AS (
      SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31',
                                    INTERVAL 1 DAY)) AS ts
    ), d AS (SELECT CAST(ts AS DATE) AS dt FROM days)
    SELECT CAST(dt AS TIMESTAMP) AS date,
           CAST(strftime(dt, '%Y%m%d') AS INT) AS dateKey,
           year(dt) AS yr, quarter(dt) AS qtr, month(dt) AS mo,
           dayofmonth(dt) AS dom, dayofyear(dt) AS doy,
           weekofyear(dt) AS iso_week, isodow(dt) AS iso_dow,
           dayname(dt) AS day_name,
           CAST(last_day(dt) AS TIMESTAMP) AS month_end,
           year(dt) + CASE WHEN month(dt) >= 7 THEN 1 ELSE 0 END AS fy,
           CAST(FLOOR(((month(dt) - 7 + 12) % 12) / 3) AS INT) + 1 AS fq,
           printf('Q%dFY%02d',
                  CAST(FLOOR(((month(dt) - 7 + 12) % 12) / 3) AS INT) + 1,
                  (year(dt) + CASE WHEN month(dt) >= 7 THEN 1 ELSE 0 END) % 100) AS fq_label,
           printf('%02dww%d.%d', year(dt) % 100, weekofyear(dt), isodow(dt)) AS ww_label,
           CAST(FLOOR(datediff('day',
                 date_trunc('year', dt) - INTERVAL (isodow(date_trunc('year', dt)) - 1) DAY,
                 dt) / 7) AS INT) + 1 AS outlook_week,
           CASE WHEN isodow(dt) >= 6 THEN 1 ELSE 0 END AS is_weekend
    FROM d
    """,
)
def ts_dim_date(spark, sf_dir):
    """Generated date dimension 1995-2001 (holiday columns checked in
    pytest — the rule engine is driver-side Python, not SQL)."""
    cal = TS.dim_date(spark, "1995-01-01", "2001-12-31", with_holidays=False)
    return cal.withColumn("date", F.col("date").cast("timestamp")).withColumn(
        "month_end", F.col("month_end").cast("timestamp")
    )


@query(
    "ts_cohort_retention",
    """
    WITH e AS (SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS p
               FROM events),
    first AS (SELECT user_id, MIN(p) AS cohort FROM e GROUP BY user_id)
    SELECT cohort,
           CAST(date_diff('day', cohort, p) / 7 AS INT) AS period_n,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM e JOIN first ON e.user_id = first.user_id
    GROUP BY 1, 2
    """,
)
def ts_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix over events — first-seen cohort x
    periods-since, distinct actives."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return TS.cohort_retention(ev, "user_id", "ts", grain="week")


@query(
    "ts_make_series",
    """
    WITH f AS (
      SELECT event_type,
             CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                        / 86400000000) AS BIGINT) AS idx
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    a AS (SELECT event_type, idx, COUNT(*) AS v FROM f GROUP BY 1, 2),
    k AS (SELECT DISTINCT event_type FROM f),
    spine AS (SELECT k.event_type, r.idx FROM k CROSS JOIN range(0, 31) r(idx)),
    s AS (SELECT spine.event_type, spine.idx,
                 COALESCE(CAST(a.v AS DOUBLE), 0.0) AS v
          FROM spine LEFT JOIN a
            ON spine.event_type = a.event_type AND spine.idx = a.idx)
    SELECT event_type,
           array_to_string(list(printf('%.6f', v) ORDER BY idx), ',') AS series_csv,
           CAST(COUNT(*) AS INT) AS n_bins
    FROM s GROUP BY event_type
    """,
)
def ts_make_series(spark, sf_dir):
    """KQL make-series analog: daily event counts per type over January
    2024, gap-filled to a dense 31-bin array per key. The array is
    emitted as a fixed-format CSV string so the order-insensitive hash
    still proves element order."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    s = TS.make_series(
        ev, ["event_type"], "ts", "2024-01-01", "2024-02-01", 86400, agg="count"
    )
    return s.select(
        "event_type",
        F.array_join(
            F.transform(F.col("series"), lambda v: F.format_string("%.6f", v)), ","
        ).alias("series_csv"),
        F.size("series").cast("int").alias("n_bins"),
    )


@query(
    "ts_series_stats",
    f"""
    WITH f AS (
      SELECT event_type,
             CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                        / 86400000000) AS BIGINT) AS idx
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    a AS (SELECT event_type, idx, COUNT(*) AS v FROM f GROUP BY 1, 2),
    k AS (SELECT DISTINCT event_type FROM f),
    spine AS (SELECT k.event_type, r.idx FROM k CROSS JOIN range(0, 31) r(idx)),
    s AS (SELECT spine.event_type,
                 COALESCE(CAST(a.v AS DOUBLE), 0.0) AS v
          FROM spine LEFT JOIN a
            ON spine.event_type = a.event_type AND spine.idx = a.idx),
    agg AS (
      SELECT event_type,
             MIN(v) AS s_min, MAX(v) AS s_max,
             {sql_sum("v", "sx")},
             {sql_sum_wide("v * v", "sx2")},
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM s GROUP BY event_type
    )
    SELECT event_type, s_min, s_max,
           sx / n AS s_avg,
           GREATEST(sx2 / n - (sx / n) * (sx / n), 0.0) AS s_var,
           SQRT(GREATEST(sx2 / n - (sx / n) * (sx / n), 0.0)) AS s_stdev
    FROM agg
    """,
)
def ts_series_stats(spark, sf_dir):
    """series_stats over the make-series output: per-type min/max/avg/
    var/stdev of the daily count series — pure array expressions, no
    extra shuffle past the series build. Fixed-point accumulation keeps the
    moments order-independent (exact here: counts are integral)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    s = TS.make_series(
        ev, ["event_type"], "ts", "2024-01-01", "2024-02-01", 86400, agg="count"
    )
    return TS.series_stats(s, "series").select(
        "event_type", "s_min", "s_max", "s_avg", "s_var", "s_stdev"
    )


@query(
    "ts_series_outliers",
    f"""
    WITH f AS (
      SELECT event_type,
             CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                        / 86400000000) AS BIGINT) AS idx
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    a AS (SELECT event_type, idx, COUNT(*) AS v FROM f GROUP BY 1, 2),
    k AS (SELECT DISTINCT event_type FROM f),
    spine AS (SELECT k.event_type, r.idx FROM k CROSS JOIN range(0, 31) r(idx)),
    s AS (SELECT spine.event_type, spine.idx,
                 COALESCE(CAST(a.v AS DOUBLE), 0.0) AS v
          FROM spine LEFT JOIN a
            ON spine.event_type = a.event_type AND spine.idx = a.idx),
    agg AS (
      SELECT event_type,
             {sql_sum("v", "sx")},
             {sql_sum_wide("v * v", "sx2")},
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM s GROUP BY event_type
    ),
    m AS (
      SELECT event_type, sx / n AS avg_v,
             SQRT(GREATEST(sx2 / n - (sx / n) * (sx / n), 0.0)) AS sd
      FROM agg
    )
    SELECT s.event_type,
           array_to_string(
             list(s.idx ORDER BY s.idx)
               FILTER (WHERE m.sd > 0 AND ABS(s.v - m.avg_v) > 1.5 * m.sd),
             ',') AS outlier_csv
    FROM s JOIN m ON s.event_type = m.event_type
    GROUP BY s.event_type
    """,
)
def ts_series_outliers(spark, sf_dir):
    """Z-score anomaly bins on the daily count series per event type
    (k=1.5): series_stats moments + one array filter, no extra
    shuffle."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    s = TS.make_series(
        ev, ["event_type"], "ts", "2024-01-01", "2024-02-01", 86400, agg="count"
    )
    s = TS.series_stats(s, "series")
    s = TS.series_outliers(s, "series", k=1.5)
    return s.select(
        "event_type",
        F.array_join(
            F.transform(F.col("outlier_idx"), lambda i: i.cast("string")), ","
        ).alias("outlier_csv"),
    )


@query(
    "ts_linear_forecast",
    f"""
    WITH f AS (
      SELECT event_type,
             CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                        / 86400000000) AS BIGINT) AS idx
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    a AS (SELECT event_type, idx AS x, CAST(COUNT(*) AS DOUBLE) AS y
          FROM f GROUP BY 1, 2),
    m AS (SELECT event_type,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 {sql_sum("x", "sx")},
                 {sql_sum("y", "sy")},
                 {sql_sum("x * y", "sxy")},
                 {sql_sum("x * x", "sxx")}
          FROM a GROUP BY event_type),
    t0 AS (SELECT event_type, n, sx, sy,
                  CASE WHEN n * sxx - sx * sx <> 0
                       THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                       ELSE 0.0 END AS slope
           FROM m),
    t AS (SELECT event_type, slope, (sy - slope * sx) / n AS intercept FROM t0)
    SELECT event_type,
           CAST(31 + h.idx AS BIGINT) AS x,
           intercept + slope * (31 + h.idx) AS yhat
    FROM t CROSS JOIN range(0, 7) h(idx)
    """,
)
def ts_linear_forecast(spark, sf_dir):
    """Per-series trend fit + 7-day forecast of daily event counts —
    the ``stats_forecast_predict.py`` per-series fan-out collapsed into
    one closed-form aggregate (no Python, no actor pool; scales to any
    number of series)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    binned = (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-02-01").cast("timestamp"))
        )
        .withColumn(
            "x",
            F.floor(
                (F.unix_micros(F.col("ts")) - F.lit(1704067200000000))
                / F.lit(86400000000)
            ),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    trend = TS.linear_trend(binned, ["event_type"], "x", "y")
    fc = TS.forecast_linear(
        trend.withColumn("x_next", F.lit(31)), horizon=7
    )
    return fc.select(
        "event_type", F.col("x").cast("long").alias("x"), "yhat"
    )


@query(
    "ts_interpolate_linear",
    """
    WITH g AS (
      SELECT event_id, user_id, epoch_ns(ts) AS x,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS y
      FROM events
    ),
    w AS (
      SELECT event_id, x, y,
             LAST_VALUE(CASE WHEN y IS NOT NULL THEN y END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS py,
             LAST_VALUE(CASE WHEN y IS NOT NULL THEN x END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
             FIRST_VALUE(CASE WHEN y IS NOT NULL THEN y END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY x
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ny,
             FIRST_VALUE(CASE WHEN y IS NOT NULL THEN x END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY x
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
      FROM g
    )
    SELECT event_id,
           CASE WHEN y IS NOT NULL THEN y
                WHEN py IS NULL THEN ny
                WHEN ny IS NULL THEN py
                ELSE py + (ny - py) * (x - px) / (nx - px) END AS y_filled
    FROM w
    """,
)
def ts_interpolate_linear(spark, sf_dir):
    """Linear interpolation of synthetic gaps (every 5th event nulled)
    in each user's value series — two mirrored ignore-nulls windows on
    one shuffle, identical expression tree to the oracle."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    g = ev.select(
        "event_id",
        "user_id",
        F.col("ts_ns").alias("x"),
        F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value")).alias("y"),
    )
    out = TS.interpolate_linear(g, ["user_id"], "x", "y", out="y_filled")
    return out.select("event_id", "y_filled")


@query(
    "ts_seasonal_naive",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    bounds AS (SELECT user_id, max(d) AS hi FROM daily GROUP BY user_id),
    fut AS (
      SELECT user_id, hi, unnest(generate_series(1, 14)) AS h FROM bounds
    ),
    lagged AS (
      SELECT user_id,
             hi + h * INTERVAL 1 DAY AS ds,
             hi + h * INTERVAL 1 DAY
                - CAST(7 * CEIL(h / 7.0) AS INT) * INTERVAL 1 DAY AS lag_ds
      FROM fut
    )
    SELECT lagged.user_id, lagged.ds, daily.y AS yhat
    FROM lagged LEFT JOIN daily
      ON daily.user_id = lagged.user_id AND daily.d = lagged.lag_ds
    """,
)
def ts_seasonal_naive(spark, sf_dir):
    """Seasonal-naive 14-day forecast (season=7) on the daily panel —
    the StatsForecast baseline as one explode + one join; seasonal lags
    falling in history gaps stay null (gap-fill first for dense
    output)."""
    daily = _daily(spark, sf_dir)
    return TS.seasonal_naive_forecast(
        daily, ["user_id"], "d", "y", horizon=14, season=7
    ).withColumnRenamed("d", "ds")


@query(
    "ts_conformal_intervals",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    bounds AS (SELECT user_id, max(d) AS hi FROM daily GROUP BY user_id),
    split AS (
      SELECT daily.*, daily.d > bounds.hi - 7 * INTERVAL 1 DAY AS is_pred
      FROM daily JOIN bounds USING (user_id)
    ),
    mu AS (
      SELECT user_id,
             {sql_sum("y")} / COUNT(*) AS yhat
      FROM split WHERE NOT is_pred GROUP BY user_id
    ),
    q AS (
      SELECT split.user_id, quantile_cont(abs(split.y - mu.yhat), 0.9) AS qq
      FROM split JOIN mu USING (user_id) WHERE NOT is_pred
      GROUP BY split.user_id
    )
    SELECT split.user_id, split.d AS ds, split.y, mu.yhat,
           mu.yhat - q.qq AS lo, mu.yhat + q.qq AS hi
    FROM split JOIN mu USING (user_id) JOIN q USING (user_id)
    WHERE is_pred
    """,
)
def ts_conformal_intervals(spark, sf_dir):
    """Split-conformal 90% intervals on the last week of each user's
    daily series: calibrate |y − ȳ_calib| per user on history, band the
    held-out week. Exact fixed-point mean and exact percentile keep both
    engines bit-identical. The split point and calibration mean are
    windows over ONE user-partitioned shuffle of the daily panel (not
    self-joins), so events is scanned twice total — once for the
    residual-quantile aggregate, once for the prediction rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    scored = (
        _daily(spark, sf_dir)
        .withColumn(
            "is_pred",
            F.col("d") > F.max("d").over(w) - F.expr("INTERVAL 7 DAYS"),
        )
        .withColumn(
            "yhat",
            F.expr(
                f"{sql_sum('CASE WHEN NOT is_pred THEN y END', over='PARTITION BY user_id')}"
                " / SUM(CASE WHEN NOT is_pred THEN 1 END) OVER (PARTITION BY user_id)"
            ),
        )
    )
    out = TS.conformal_intervals(
        scored.filter(~F.col("is_pred")),
        scored.filter(F.col("is_pred")),
        ["user_id"],
        "y",
        "yhat",
        alpha=0.1,
    )
    return out.select("user_id", F.col("d").alias("ds"), "y", "yhat", "lo", "hi")


@query(
    "ts_ewma_bands",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    s AS (
      SELECT user_id, d, y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM daily
    ),
    agg AS (
      SELECT t.user_id, t.d, t.y,
             SUM(i.y * POWER(0.7, t.rn - i.rn))
               / SUM(POWER(0.7, t.rn - i.rn)) AS ewma,
             CASE WHEN COUNT(i.y) >= 2 THEN STDDEV_SAMP(i.y) END AS sigma
      FROM s t LEFT JOIN s i
        ON i.user_id = t.user_id AND i.rn >= t.rn - 30 AND i.rn < t.rn
      GROUP BY t.user_id, t.d, t.y
    )
    SELECT user_id, d AS ds, y, ewma, sigma,
           ewma - 3 * sigma AS lo, ewma + 3 * sigma AS hi,
           sigma IS NOT NULL AND abs(y - ewma) > 3 * sigma AS is_anomaly
    FROM agg
    """,
)
def ts_ewma_bands(spark, sf_dir):
    """EWMA control bands over each user's daily series — the metric
    monitor that flags points outside ewma ± 3σ of their trailing
    window (band built from prior points only)."""
    daily = _daily(spark, sf_dir)
    out = TS.ewma_bands(daily, ["user_id"], "d", "y", alpha=0.3, k=3.0, span=30)
    return out.withColumnRenamed("d", "ds")


@query(
    "ts_cusum_changepoints",
    f"""
    WITH RECURSIVE daily AS ({_DAILY_SQL}),
    stats AS (
      SELECT user_id, AVG(y) AS mu, STDDEV_POP(y) AS sd
      FROM daily GROUP BY user_id
    ),
    z AS (
      SELECT daily.user_id, d, y,
             ROW_NUMBER() OVER (PARTITION BY daily.user_id ORDER BY d) AS rn,
             CASE WHEN sd > 0 THEN (y - mu) / sd ELSE 0.0 END AS zv
      FROM daily JOIN stats ON daily.user_id = stats.user_id
    ),
    rec AS (
      SELECT user_id, rn, d, y,
             GREATEST(0.0, zv - 0.5) AS s_hi,
             GREATEST(0.0, -zv - 0.5) AS s_lo,
             (GREATEST(0.0, zv - 0.5) > 5.0
              OR GREATEST(0.0, -zv - 0.5) > 5.0) AS is_change,
             CASE WHEN GREATEST(0.0, zv - 0.5) > 5.0
                    OR GREATEST(0.0, -zv - 0.5) > 5.0
                  THEN 0.0 ELSE GREATEST(0.0, zv - 0.5) END AS hi_state,
             CASE WHEN GREATEST(0.0, zv - 0.5) > 5.0
                    OR GREATEST(0.0, -zv - 0.5) > 5.0
                  THEN 0.0 ELSE GREATEST(0.0, -zv - 0.5) END AS lo_state
      FROM z WHERE rn = 1
      UNION ALL
      SELECT z.user_id, z.rn, z.d, z.y,
             GREATEST(0.0, rec.hi_state + z.zv - 0.5) AS s_hi,
             GREATEST(0.0, rec.lo_state - z.zv - 0.5) AS s_lo,
             (GREATEST(0.0, rec.hi_state + z.zv - 0.5) > 5.0
              OR GREATEST(0.0, rec.lo_state - z.zv - 0.5) > 5.0) AS is_change,
             CASE WHEN GREATEST(0.0, rec.hi_state + z.zv - 0.5) > 5.0
                    OR GREATEST(0.0, rec.lo_state - z.zv - 0.5) > 5.0
                  THEN 0.0
                  ELSE GREATEST(0.0, rec.hi_state + z.zv - 0.5) END AS hi_state,
             CASE WHEN GREATEST(0.0, rec.hi_state + z.zv - 0.5) > 5.0
                    OR GREATEST(0.0, rec.lo_state - z.zv - 0.5) > 5.0
                  THEN 0.0
                  ELSE GREATEST(0.0, rec.lo_state - z.zv - 0.5) END AS lo_state
      FROM rec JOIN z ON z.user_id = rec.user_id AND z.rn = rec.rn + 1
    )
    SELECT user_id, d AS ds, y, s_hi, s_lo, is_change FROM rec
    """,
)
def ts_cusum_changepoints(spark, sf_dir):
    """CUSUM level-shift detection over each user's daily series. The
    alarm-reset recurrence (``s⁺=max(0,s⁺+z−k)`` with reset on alarm)
    runs as an ``applyInPandas`` numpy loop on Spark and as a recursive
    CTE stepping rn→rn+1 on the DuckDB oracle — both double-precision,
    so the hash comparison holds at the gate's 6-decimal rounding."""
    daily = _daily(spark, sf_dir)
    return TS.cusum_changepoints(daily, ["user_id"], "d", "y").withColumnRenamed(
        "d", "ds"
    )


@query(
    "ts_rolling_corr",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    g AS (
      SELECT d, {sql_sum("y", "gy")}
      FROM daily GROUP BY d
    ),
    j AS (SELECT daily.user_id, daily.d, daily.y, g.gy
          FROM daily JOIN g ON daily.d = g.d)
    SELECT user_id, d AS ds, y, gy,
           CORR(y, gy) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
           ) AS corr
    FROM j
    """,
)
def ts_rolling_corr(spark, sf_dir):
    """Rolling 14-day correlation of each user's daily series against
    the corpus-wide daily total — the co-movement ('beta') monitor."""
    daily = _daily(spark, sf_dir)
    g = daily.groupBy("d").agg(
        exact_sum("y", "gy")
    )
    j = daily.join(g, "d")
    out = TS.rolling_corr(j, ["user_id"], "d", "y", "gy", window=14)
    return out.select("user_id", F.col("d").alias("ds"), "y", "gy", "corr")


@query(
    "ts_new_vs_returning",
    """
    WITH up AS (
      SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS period
      FROM events
    ),
    tagged AS (
      SELECT period,
             period = MIN(period) OVER (PARTITION BY user_id) AS is_new
      FROM up
    )
    SELECT period,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
    FROM tagged GROUP BY period
    """,
)
def ts_new_vs_returning(spark, sf_dir):
    """Weekly growth accounting: actives split into new vs returning."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return TS.new_vs_returning(ev, "user_id", "ts", grain="week")


@query(
    "ts_period_growth",
    f"""
    WITH tot AS (
      SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS period,
             {sql_sum("value", "total")}
      FROM events GROUP BY period
    )
    SELECT period, total,
           total - LAG(total) OVER (ORDER BY period) AS delta,
           CASE WHEN LAG(total) OVER (ORDER BY period) <> 0 THEN
             (total - LAG(total) OVER (ORDER BY period))
               / LAG(total) OVER (ORDER BY period)
           END AS pct_change
    FROM tot
    """,
)
def ts_period_growth(spark, sf_dir):
    """Week-over-week totals with delta and percent change (null-safe
    on the first/zero periods). The lag window runs on the
    period-grain summary — a handful of rows, so the single-partition
    window is the right plan, not a smell."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return TS.period_growth(ev, "ts", "value", grain="week")


@query(
    "ts_tenure_survival",
    """
    WITH spans AS (
      SELECT user_id,
             CAST(date_diff('day',
               MIN(date_trunc('week', CAST(ts AS TIMESTAMP))),
               MAX(date_trunc('week', CAST(ts AS TIMESTAMP)))) / 7 AS INT) + 1
               AS span
      FROM events GROUP BY user_id
    )
    SELECT tenure, CAST(COUNT(*) AS BIGINT) AS n_surviving
    FROM spans, unnest(generate_series(1, span)) AS t(tenure)
    GROUP BY tenure
    """,
)
def ts_tenure_survival(spark, sf_dir):
    """Weekly tenure survival curve: users whose activity span reached
    at least k weeks, per k."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return TS.tenure_survival(ev, "user_id", "ts", grain="week")


@query(
    "ts_interarrival_stats",
    f"""
    WITH g AS (
      SELECT user_id,
             epoch(CAST(ts AS TIMESTAMP))
               - epoch(LAG(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                 )) AS gap
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           {sql_sum("gap")} / COUNT(*) AS mean_gap_s,
           quantile_cont(gap, 0.5) AS median_gap_s,
           quantile_cont(gap, 0.9) AS p90_gap_s,
           MAX(gap) AS max_gap_s
    FROM g WHERE gap IS NOT NULL GROUP BY user_id
    """,
)
def ts_interarrival_stats(spark, sf_dir):
    """Per-user inter-event gap statistics (event_id tiebreak for
    same-timestamp determinism)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return TS.interarrival_stats(ev, "user_id", "ts", "event_id")


@query(
    "ts_activity_heatmap",
    f"""
    WITH cells AS (
      SELECT isodow(CAST(ts AS TIMESTAMP)) AS dow,
             hour(CAST(ts AS TIMESTAMP)) AS hour,
             COUNT(*) AS n,
             {sql_sum("value", "value_sum")}
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n) AS tt FROM cells)
    SELECT CAST(dow AS INT) AS dow, CAST(hour AS INT) AS hour,
           CAST(n AS BIGINT) AS n, value_sum,
           n * 1.0 / t.tt AS share
    FROM cells CROSS JOIN t
    """,
)
def ts_activity_heatmap(spark, sf_dir):
    """ISO weekday × hour heatmap of event activity with value sums and
    cell shares."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return TS.activity_heatmap(ev, "ts", "value")


_BACKTEST_SQL = f"""
    WITH daily AS ({_DAILY_SQL}),
    b AS (
      SELECT user_id, d, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS DOUBLE) AS rn
      FROM daily
    ),
    s AS (
      SELECT user_id, d, y, rn,
             MAX(rn) OVER (PARTITION BY user_id) AS maxrn,
             AVG(y) OVER wp AS p_mean,
             CAST(COUNT(*) OVER wp AS DOUBLE) AS n,
             SUM(rn) OVER wp AS sx,
             SUM(y) OVER wp AS sy,
             SUM(rn * y) OVER wp AS sxy,
             SUM(rn * rn) OVER wp AS sxx,
             LAG(y, 7) OVER (PARTITION BY user_id ORDER BY d) AS p_snaive
      FROM b
      WINDOW wp AS (PARTITION BY user_id ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 7 PRECEDING)
    ),
    p AS (
      SELECT user_id, y, rn, maxrn, p_mean, p_snaive,
             CASE WHEN n > 0 THEN
               (sy - (CASE WHEN n * sxx - sx * sx != 0
                           THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                           ELSE 0.0 END) * sx) / n
               + (CASE WHEN n * sxx - sx * sx != 0
                       THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                       ELSE 0.0 END) * rn
             END AS p_lin
      FROM s
    ),
    f AS (SELECT * FROM p WHERE rn > maxrn - 28),
    long AS (
      SELECT user_id, y, 'seasonal_naive' AS model, p_snaive AS yhat FROM f
      UNION ALL SELECT user_id, y, 'trailing_mean', p_mean FROM f
      UNION ALL SELECT user_id, y, 'linear_trend', p_lin FROM f
    )
    SELECT user_id, model,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           AVG(ABS(yhat - y)) AS mae,
           AVG(CASE WHEN ABS(y) + ABS(yhat) > 0
                    THEN 2.0 * ABS(yhat - y) / (ABS(y) + ABS(yhat))
                    ELSE 0.0 END) AS smape
    FROM long WHERE yhat IS NOT NULL
    GROUP BY user_id, model
"""


@query("ts_backtest_models", _BACKTEST_SQL)
def ts_backtest_models(spark, sf_dir):
    """Rolling-origin backtest of three closed-form forecasters over
    every user's daily series in ONE windowed pass — the distributed
    form of the reference's per-series Ray tuning fan-out
    (``stats_forecast_tune.py:18-74``)."""
    daily = _daily(spark, sf_dir)
    return TS.backtest_models(
        daily, ["user_id"], "d", "y", horizon=7, eval_points=28, season=7
    )


@query(
    "ts_model_selection",
    f"""
    WITH bt AS ({_BACKTEST_SQL}),
    r AS (
      SELECT user_id, model, n_eval, ROUND(mae, 4) AS mae_r,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ROUND(mae, 4) ASC, model ASC) AS rk
      FROM bt
    )
    SELECT user_id, model, n_eval, mae_r FROM r WHERE rk = 1
    """,
)
def ts_model_selection(spark, sf_dir):
    """Per-series winner of the backtest (the "tune" argmin). The rank
    key is mae ROUNDED to 4 decimals: raw float argmin is not portable
    when two candidates tie to ~1e-9 (e.g. trailing-mean vs zero-slope
    linear on flat series) — rounding gives both engines the same
    total order, with the model name as the deterministic tie-break."""
    daily = _daily(spark, sf_dir)
    bt = TS.backtest_models(
        daily, ["user_id"], "d", "y", horizon=7, eval_points=28, season=7
    ).withColumn("mae_r", F.round("mae", 4))
    return TS.select_best_model(bt, ["user_id"], metric="mae_r").select(
        "user_id", "model", "n_eval", "mae_r"
    )


@query(
    "ts_ensemble_forecast",
    f"""
    WITH bt AS ({_BACKTEST_SQL}),
    wt AS (
      SELECT user_id,
             MAX(CASE WHEN model = 'seasonal_naive' THEN mae END) AS mae_sn,
             MAX(CASE WHEN model = 'trailing_mean' THEN mae END) AS mae_mean,
             MAX(CASE WHEN model = 'linear_trend' THEN mae END) AS mae_lin
      FROM bt GROUP BY user_id
    ),
    daily AS ({_DAILY_SQL}),
    b AS (
      SELECT user_id, d, y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS nn
      FROM daily
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_sum("rn", "sx")},
             {sql_sum("y", "sy")},
             {sql_sum("rn * y", "sxy")},
             {sql_sum("CAST(rn AS DOUBLE) * rn", "sxx")},
             MAX(d) AS last_d
      FROM b GROUP BY user_id
    ),
    t AS (
      SELECT user_id, n, sy, last_d,
             CASE WHEN n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                  ELSE 0.0 END AS slope,
             sx
      FROM m
    ),
    e AS (
      SELECT t.user_id, n, sy, last_d, slope,
             (sy - slope * sx) / n AS b0,
             s.k
      FROM t CROSS JOIN (SELECT CAST(r.x + 1 AS INT) AS k FROM range(0, 7) r(x)) s
    ),
    p AS (
      SELECT e.user_id, e.k,
             e.last_d + INTERVAL 1 DAY * e.k AS ds,
             CASE WHEN e.n >= 7 THEN tail.y END AS yhat_snaive,
             e.sy / e.n AS yhat_mean,
             e.b0 + e.slope * (e.n + e.k) AS yhat_linear
      FROM e LEFT JOIN b tail
        ON tail.user_id = e.user_id AND tail.rn = CAST(e.n - 7 + e.k AS BIGINT)
    )
    SELECT p.user_id, p.k, p.ds, p.yhat_snaive, p.yhat_mean, p.yhat_linear,
           CASE WHEN
             (CASE WHEN yhat_snaive IS NOT NULL
                   THEN (CASE WHEN mae_sn IS NOT NULL THEN 1.0/(mae_sn+0.001) ELSE 1.0 END)
                   ELSE 0.0 END
              + CASE WHEN yhat_mean IS NOT NULL
                   THEN (CASE WHEN mae_mean IS NOT NULL THEN 1.0/(mae_mean+0.001) ELSE 1.0 END)
                   ELSE 0.0 END
              + CASE WHEN yhat_linear IS NOT NULL
                   THEN (CASE WHEN mae_lin IS NOT NULL THEN 1.0/(mae_lin+0.001) ELSE 1.0 END)
                   ELSE 0.0 END) > 0
           THEN
             (CASE WHEN yhat_snaive IS NOT NULL
                   THEN (CASE WHEN mae_sn IS NOT NULL THEN 1.0/(mae_sn+0.001) ELSE 1.0 END) * yhat_snaive
                   ELSE 0.0 END
              + CASE WHEN yhat_mean IS NOT NULL
                   THEN (CASE WHEN mae_mean IS NOT NULL THEN 1.0/(mae_mean+0.001) ELSE 1.0 END) * yhat_mean
                   ELSE 0.0 END
              + CASE WHEN yhat_linear IS NOT NULL
                   THEN (CASE WHEN mae_lin IS NOT NULL THEN 1.0/(mae_lin+0.001) ELSE 1.0 END) * yhat_linear
                   ELSE 0.0 END)
             /
             (CASE WHEN yhat_snaive IS NOT NULL
                   THEN (CASE WHEN mae_sn IS NOT NULL THEN 1.0/(mae_sn+0.001) ELSE 1.0 END)
                   ELSE 0.0 END
              + CASE WHEN yhat_mean IS NOT NULL
                   THEN (CASE WHEN mae_mean IS NOT NULL THEN 1.0/(mae_mean+0.001) ELSE 1.0 END)
                   ELSE 0.0 END
              + CASE WHEN yhat_linear IS NOT NULL
                   THEN (CASE WHEN mae_lin IS NOT NULL THEN 1.0/(mae_lin+0.001) ELSE 1.0 END)
                   ELSE 0.0 END)
           END AS yhat
    FROM p LEFT JOIN wt ON p.user_id = wt.user_id
    """,
)
def ts_ensemble_forecast(spark, sf_dir):
    """7-day inverse-backtest-error ensemble forecast per user series —
    the darts ensemble scripts' combine step, distributed: one backtest
    pass (windows), one moments aggregate, one explode. The seasonal
    term reads only the last `season` values per series (bounded map),
    never the whole history."""
    daily = _daily(spark, sf_dir)
    bt = TS.backtest_models(
        daily, ["user_id"], "d", "y", horizon=7, eval_points=28, season=7
    )
    return TS.ensemble_forecast(
        daily, ["user_id"], "d", "y", horizon=7, season=7, backtest=bt
    )


@query(
    "ts_tune_season",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    b AS (
      SELECT user_id, d, y,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS maxrn,
             LAG(y, 1) OVER w AS p_1,
             LAG(y, 7) OVER w AS p_7,
             LAG(y, 14) OVER w AS p_14,
             LAG(y, 28) OVER w AS p_28
      FROM daily
      WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    f AS (SELECT * FROM b WHERE rn > maxrn - 28),
    long AS (
      SELECT user_id, y, 1 AS season, p_1 AS yhat FROM f
      UNION ALL SELECT user_id, y, 7, p_7 FROM f
      UNION ALL SELECT user_id, y, 14, p_14 FROM f
      UNION ALL SELECT user_id, y, 28, p_28 FROM f
    )
    SELECT user_id, season,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           AVG(ABS(yhat - y)) AS mae
    FROM long WHERE yhat IS NOT NULL
    GROUP BY user_id, season
    """,
)
def ts_tune_season(spark, sf_dir):
    """Season-period grid search for the seasonal-naive forecaster —
    four candidate lags evaluated for every series in one windowed
    pass (the tuning-sweep-as-plan pattern)."""
    daily = _daily(spark, sf_dir)
    return TS.tune_seasonal_period(
        daily, ["user_id"], "d", "y", seasons=[1, 7, 14, 28], eval_points=28
    )


@query(
    "ts_mann_kendall",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    b AS (
      SELECT user_id, y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM daily
    ),
    s AS (
      SELECT a.user_id,
             CAST(SUM(SIGN(b2.y - a.y)) AS BIGINT) AS s_stat
      FROM b a JOIN b b2
        ON a.user_id = b2.user_id AND a.rn < b2.rn
      GROUP BY a.user_id
    ),
    nn AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY user_id),
    ties AS (
      SELECT user_id,
             SUM(t * (t - 1) * (2 * t + 5)) AS tie_term,
             SUM(t * (t - 1) / 2.0) AS t_ties
      FROM (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS t
            FROM daily GROUP BY user_id, y)
      GROUP BY user_id
    ),
    m AS (
      SELECT nn.user_id, nn.n, COALESCE(s.s_stat, 0) AS s_stat,
             (nn.n * (nn.n - 1.0) * (2.0 * nn.n + 5) - ties.tie_term) / 18.0 AS var_s,
             nn.n * (nn.n - 1.0) / 2.0 AS half, ties.t_ties
      FROM nn JOIN ties ON nn.user_id = ties.user_id
              LEFT JOIN s ON nn.user_id = s.user_id
    )
    SELECT user_id, n, s_stat, var_s,
           CASE WHEN s_stat > 0 AND var_s > 0 THEN (s_stat - 1) / SQRT(var_s)
                WHEN s_stat < 0 AND var_s > 0 THEN (s_stat + 1) / SQRT(var_s)
                ELSE 0.0 END AS z,
           CASE WHEN SQRT(half * (half - t_ties)) > 0
                THEN s_stat / SQRT(half * (half - t_ties))
                ELSE 0.0 END AS tau_b
    FROM m
    """,
)
def ts_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotonic-trend test per user series (exact S,
    tie-corrected Z, tau-b); the oracle counts the pair triangle with a
    self-join."""
    daily = _daily(spark, sf_dir)
    return TS.mann_kendall_trend(daily, ["user_id"], "d", "y")


@query(
    "ts_rolling_active_users",
    """
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), spine AS (SELECT DISTINCT day FROM days)
    SELECT s.day,
           CAST((SELECT COUNT(DISTINCT d.user_id) FROM days d
                 WHERE d.day <= s.day
                   AND d.day > s.day - INTERVAL 7 DAY) AS BIGINT)
             AS active_7d
    FROM spine s
    """,
)
def ts_rolling_active_users(spark, sf_dir):
    """Rolling 7-day distinct users per observed day (the WAU/MAU
    primitive). No engine computes COUNT(DISTINCT) over a sliding
    frame without quadratic state — the scalable shape is the
    INTERVAL-MERGE SWEEP (timeseries.py:rolling_active_users): per
    user, merge consecutive active days whose coverage windows touch
    into intervals (one lag window over the user's deduped days),
    emit +1/-1 deltas at interval bounds, distributed prefix-sum over
    the O(days) delta table. Cost = one user-shuffle + O(days) scan,
    independent of window width AND raw event volume (the oracle's
    correlated subquery is the NON-scalable twin, fine at sf0.01)."""
    t = load_tables(spark, sf_dir, ["events"])
    out = TS.rolling_active_users(t["events"], "ts", "user_id", 7)
    return out.select(
        F.col("day").cast("timestamp").alias("day"),
        F.col("active_7d").cast("long").alias("active_7d"),
    )


@query(
    "ts_engagement_ratio",
    """
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), spine AS (SELECT DISTINCT day FROM days)
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           CAST((SELECT COUNT(DISTINCT d.user_id) FROM days d
                 WHERE d.day = s.day) AS BIGINT) AS active_1d,
           CAST((SELECT COUNT(DISTINCT d.user_id) FROM days d
                 WHERE d.day <= s.day
                   AND d.day > s.day - INTERVAL 7 DAY) AS BIGINT)
             AS active_7d,
           CAST((SELECT COUNT(DISTINCT d.user_id) FROM days d
                 WHERE d.day = s.day) AS DOUBLE)
             / (SELECT COUNT(DISTINCT d.user_id) FROM days d
                 WHERE d.day <= s.day
                   AND d.day > s.day - INTERVAL 7 DAY) AS engagement
    FROM spine s
    """,
)
def ts_engagement_ratio(spark, sf_dir):
    """DAU/WAU stickiness (Kusto ``activity_engagement`` shape): both
    rolling distinct counts ride the interval-merge sweep fed from ONE
    shared (user, day) distinct frame — the two sweeps reference the
    same subtree, so ReuseExchange scans and dedupes the events once
    (pinned in tests/test_advice_r10.py). The oracle's correlated
    subqueries are the non-scalable twin, fine at sf0.01."""
    t = load_tables(spark, sf_dir, ["events"])
    out = TS.engagement_ratio(t["events"], "ts", "user_id", 1, 7)
    return out.select(
        F.col("day").cast("timestamp").alias("day"),
        F.col("active_1d").cast("long").alias("active_1d"),
        F.col("active_7d").cast("long").alias("active_7d"),
        F.col("engagement").cast("double").alias("engagement"),
    )
