"""Time-series operators (SURVEY §7 step 6; ``stats_forecast_predict.py``
parity).

The long-format panel model: ``(unique_id, ds, y)`` with a dense daily
spine per id. The reference builds spines with numpy repeats
(``stats_forecast_predict.py:94-118``); here the spine is
``sequence(lo, hi, interval 1 day)`` exploded per id — generated
distributed, never materialized on the driver. Per-id bounds come from
one aggregate; everything joins on the id partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.functions.exact import (
    exact_avg,
    exact_sum,
    sql_array_moments,
    sql_sum,
)
from azuredataengineering_deeplearning_spark.sources.readers import local_rows_df


def daily_spine(
    df: DataFrame,
    id_col: str,
    date_col: str,
    out_date: str = "ds",
) -> DataFrame:
    """Dense daily spine per id, clamped to each id's observed
    [min, max] (J9 + ``stats_forecast_predict.py:181-202``): ids get no
    phantom history before their first observation."""
    bounds = df.groupBy(id_col).agg(
        F.min(date_col).alias("__lo"), F.max(date_col).alias("__hi")
    )
    return bounds.select(
        id_col,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("interval 1 day"))
        ).alias(out_date),
    )


def gap_fill(
    df: DataFrame,
    id_col: str,
    date_col: str,
    value_col: str,
    fill_value: float = 0.0,
) -> DataFrame:
    """Left-join actuals onto the dense spine; missing days get
    ``fill_value`` (``stats_forecast_predict.py:208`` fillna). One
    shuffle on (id, ds) shared by spine and actuals."""
    spine = daily_spine(df, id_col, date_col, out_date=date_col)
    return spine.join(df, [id_col, date_col], "left").fillna(
        fill_value, subset=[value_col]
    )


def regrain(
    df: DataFrame,
    id_col: str,
    date_col: str,
    value_col: str,
    grain: str = "week",
    out_date: str = "ds",
    out_value: str = "y",
) -> DataFrame:
    """Re-aggregate a daily panel to week/month/quarter grain
    (``stats_forecast_predict.py:212`` MonthEnd resample analog).
    Exact fixed-point sums; grain bucket = ``date_trunc`` (ISO Monday
    weeks)."""
    return (
        df.groupBy(id_col, F.date_trunc(grain, F.col(date_col)).alias(out_date))
        .agg(exact_sum(f"`{value_col}`", out_value))
    )


def min_history_filter(
    df: DataFrame, id_col: str, min_rows: int
) -> DataFrame:
    """Keep ids with at least ``min_rows`` observations
    (``stats_forecast_predict.py:217-222`` tsSize transform) — windowed
    count, no join-back."""
    n = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    return df.withColumn("__n", n).filter(F.col("__n") >= min_rows).drop("__n")


def zero_fraction_prune(
    df: DataFrame, id_col: str, value_col: str, max_zero_frac: float = 0.5
) -> DataFrame:
    """Drop series that are mostly zeros (A8 applied as a pruning filter,
    ``stats_forecast_predict.py:281-294``)."""
    zf = F.avg(F.when(F.col(value_col) == 0, 1.0).otherwise(0.0)).over(
        Window.partitionBy(id_col)
    )
    return df.withColumn("__zf", zf).filter(F.col("__zf") <= max_zero_frac).drop("__zf")


def validate_panel(df: DataFrame, id_col: str, date_col: str) -> None:
    """Well-formedness assert: one row per (id, ds)
    (``stats_forecast_predict.py:276``). O(ids) result."""
    dups = (
        df.groupBy(id_col, date_col)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0, f"{dups} duplicate (id, ds) pairs"


# ---------------------------------------------------------------------------
# dim_date generator (F8-F17; ``dim_date_generator.py`` parity)
# ---------------------------------------------------------------------------


def us_holidays(years: range) -> list[tuple[str, str]]:
    """Rule-based US holiday calendar with nearest-workday observance
    (F16; ``dim_date_generator.py:10-47``): fixed-date holidays falling
    on Saturday observe Friday, Sunday observe Monday. Pure driver-side
    Python — O(years), broadcast-joined to the calendar."""
    import datetime as dt

    def observed(d: dt.date) -> dt.date:
        if d.weekday() == 5:
            return d - dt.timedelta(days=1)
        if d.weekday() == 6:
            return d + dt.timedelta(days=1)
        return d

    def nth_weekday(year: int, month: int, weekday: int, n: int) -> dt.date:
        d = dt.date(year, month, 1)
        offset = (weekday - d.weekday()) % 7
        return d + dt.timedelta(days=offset + 7 * (n - 1))

    def last_weekday(year: int, month: int, weekday: int) -> dt.date:
        nxt = dt.date(year + (month == 12), month % 12 + 1, 1)
        d = nxt - dt.timedelta(days=1)
        return d - dt.timedelta(days=(d.weekday() - weekday) % 7)

    out: list[tuple[str, str]] = []
    for y in years:
        out += [
            (observed(dt.date(y, 1, 1)).isoformat(), "New Year's Day"),
            (nth_weekday(y, 1, 0, 3).isoformat(), "MLK Day"),
            (last_weekday(y, 5, 0).isoformat(), "Memorial Day"),
            (observed(dt.date(y, 7, 4)).isoformat(), "Independence Day"),
            (nth_weekday(y, 9, 0, 1).isoformat(), "Labor Day"),
            (nth_weekday(y, 11, 3, 4).isoformat(), "Thanksgiving"),
            (observed(dt.date(y, 12, 25)).isoformat(), "Christmas Day"),
        ]
    return out


def dim_date(
    spark: SparkSession,
    start: str,
    end: str,
    fiscal_start_month: int = 7,
    with_holidays: bool = True,
) -> DataFrame:
    """Generated date dimension (F8-F17; ``dim_date_generator.py:70-136``):
    one row per day with int dateKey, calendar/fiscal/ISO/work-week
    attributes, weekend + holiday flags. Built distributed from a
    ``sequence`` explode; holidays broadcast-joined."""
    from azuredataengineering_deeplearning_spark.functions import dates as D

    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"), F.lit(end).cast("date"), F.expr("interval 1 day")
            )
        ).alias("date")
    )
    cal = days.select(
        "date",
        D.date_key("date").alias("dateKey"),
        F.year("date").alias("yr"),
        F.quarter("date").alias("qtr"),
        F.month("date").alias("mo"),
        F.dayofmonth("date").alias("dom"),
        F.dayofyear("date").alias("doy"),
        F.weekofyear("date").alias("iso_week"),
        D.iso_weekday("date").alias("iso_dow"),
        F.date_format("date", "EEEE").alias("day_name"),
        F.last_day("date").alias("month_end"),
        D.fiscal_year("date", fiscal_start_month).alias("fy"),
        D.fiscal_quarter("date", fiscal_start_month).alias("fq"),
        D.fiscal_quarter_label("date", fiscal_start_month).alias("fq_label"),
        D.work_week_label("date").alias("ww_label"),
        D.outlook_week("date").alias("outlook_week"),
        D.is_weekend("date").alias("is_weekend"),
    )
    if not with_holidays:
        return cal
    import datetime as dt

    y0, y1 = int(start[:4]), int(end[:4])
    hol = local_rows_df(
        spark,
        [(dt.date.fromisoformat(d), n) for d, n in us_holidays(range(y0, y1 + 1))],
        "date date, holiday_name string",
    )
    return cal.join(F.broadcast(hol), ["date"], "left").withColumn(
        "is_holiday", F.col("holiday_name").isNotNull().cast("int")
    )


def cohort_retention(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    grain: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen period
    (cohort), counted distinct in each subsequent activity period.
    Returns (cohort, period_n, n_active) where period_n is periods since
    the cohort's start (0 = the cohort period itself).

    Plan: one (id) aggregate for first-seen, joined back on the id (the
    join shares the id shuffle), then one (cohort, period) aggregate —
    the distinct count is the only stage carrying per-user rows. At
    100 TB swap countDistinct for :func:`aggregates.hll_cardinality`
    sketches, which also makes the matrix incrementally mergeable."""
    period = F.date_trunc(grain, F.col(ts_col))
    first = df.groupBy(id_col).agg(F.min(period).alias("__cohort"))
    diff_fn = {"week": (7, "day"), "day": (1, "day"), "month": (1, "month")}[grain]
    joined = df.join(first, id_col)
    if grain == "month":
        n = F.months_between(period, F.col("__cohort")).cast("int")
    else:
        n = (F.datediff(period, F.col("__cohort")) / diff_fn[0]).cast("int")
    return (
        joined.groupBy(F.col("__cohort").alias("cohort"), n.alias("period_n"))
        .agg(F.countDistinct(id_col).alias("n_active"))
    )


def rolling_active_users(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    window_days: int = 28,
    out: str | None = None,
) -> DataFrame:
    """Rolling distinct users per day (the MAU/WAU primitive; Kusto's
    ``activity_engagement`` family computes DAU/MAU from two of
    these). For each observed day: the count of distinct users active
    in the trailing ``window_days`` window ending that day.

    Why not a window function: no engine computes COUNT(DISTINCT) over
    a sliding frame without quadratic state. And the textbook
    contribution-explode (each (user, day) pair fans onto the
    ``window_days`` days it covers, then count-distinct per day) pays
    ``window × pairs`` exploded rows INTO a distinct aggregate —
    measured 44 s at 20M events / 500k users / 28 d on local[32].

    This is the INTERVAL-MERGE SWEEP instead: per user, consecutive
    active days whose coverage windows touch merge into one interval
    (one lag + running segment id over the user's deduped days), each
    interval emits ``+1`` at its start and ``-1`` after its end, and a
    prefix sum over the (tiny) day-delta table is exactly the rolling
    distinct count. Cost: one shuffle on user for the lag window
    (partition = one user's active days — bounded by the calendar, not
    the corpus), one O(days) aggregate, one prefix scan over O(days)
    rows (distributed global_cumsum — never an unpartitioned window).
    Same 20M-event probe: ~3 s. No explode, no wide distinct.

    Emitted days are restricted to days actually observed in the data
    (a trailing window past the last event is a forecast, not a
    measurement)."""
    days = df.select(
        F.to_date(F.col(ts_col)).alias("__day"),
        F.col(user_col).alias("__u"),
    ).distinct()
    return _rolling_from_days(days, window_days, out)


def _interval_sweep(
    units: DataFrame,
    window: int,
    out: str,
    spine: DataFrame | None = None,
) -> DataFrame:
    """Rolling DISTINCT-entity count over a trailing ``window`` of
    integer index units — the interval-merge sweep on its natural
    domain. ``units`` is a pre-deduped ``(__u, __idx)`` frame (entity,
    active index); index ``i``'s result counts entities with an active
    index in ``[i - window + 1, i]`` (an active index ``b`` covers
    outputs ``[b, b + window - 1]``).

    Per entity: consecutive active indexes whose coverage touches
    (gap <= window) merge into one interval (one lag + running segment
    id — the window partition is one entity's active indexes, bounded
    by the spine length, not the corpus), each interval emits ``+1``
    at its start and ``-1`` after its end, and a distributed prefix
    sum (:func:`global_cumsum`, never an unpartitioned window) over
    the O(spine) delta table is the rolling distinct count.

    ``spine`` (optional, one ``__idx`` column): indexes to evaluate
    at — they ride along as 0-deltas so the scan carries the running
    count through indexes with no boundary, and the result is
    semi-joined back to exactly the spine. Default: observed indexes.
    Shared by :func:`rolling_active_users` / :func:`engagement_ratio`
    (day indexes) and KQL ``evaluate sliding_window_counts`` /
    ``activity_engagement`` (arbitrary time bins)."""
    from azuredataengineering_deeplearning_spark.operators.windows import (
        global_cumsum,
    )

    w = Window.partitionBy("__u").orderBy("__idx")
    gap = F.col("__idx") - F.lag("__idx").over(w)
    seg = units.withColumn(
        "__new", F.when(gap.isNull() | (gap > window), 1).otherwise(0)
    ).withColumn("__seg", F.sum("__new").over(w))
    ivals = seg.groupBy("__u", "__seg").agg(
        F.min("__idx").alias("__start"),
        (F.max("__idx") + window).alias("__stop"),
    )
    obs = (
        spine if spine is not None else units.select("__idx")
    ).select("__idx").distinct()
    deltas = (
        ivals.select(F.col("__start").alias("__idx"), F.lit(1).alias("__d"))
        .unionAll(
            ivals.select(F.col("__stop").alias("__idx"), F.lit(-1).alias("__d"))
        )
        .unionAll(obs.select("__idx", F.lit(0).alias("__d")))
        .groupBy("__idx")
        .agg(F.sum("__d").alias("__delta"))
    )
    swept = global_cumsum(deltas, ["__idx"], "__delta", out=out)
    return swept.join(obs, "__idx", "left_semi").select(
        "__idx", F.col(out).cast("long").alias(out)
    )


_EPOCH = "1970-01-01"


def _rolling_from_days(
    days: DataFrame, window_days: int, out: str | None = None
) -> DataFrame:
    """Interval-merge sweep over a pre-deduped (__u, __day) frame —
    shared by :func:`rolling_active_users` (one consumer) and
    :func:`engagement_ratio` (two consumers over ONE distinct frame,
    deduplicated physically via Spark's ReusedExchange). Thin
    date<->index adapter over :func:`_interval_sweep`."""
    out = out or f"active_{window_days}d"
    units = days.select(
        "__u",
        F.datediff(F.col("__day"), F.to_date(F.lit(_EPOCH))).alias("__idx"),
    )
    swept = _interval_sweep(units, window_days, out)
    return swept.select(
        F.date_add(F.to_date(F.lit(_EPOCH)), F.col("__idx").cast("int")).alias(
            "day"
        ),
        out,
    )


def engagement_ratio(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    short_days: int = 1,
    long_days: int = 28,
) -> DataFrame:
    """DAU/MAU-style stickiness: rolling ``short_days``-distinct over
    rolling ``long_days``-distinct users per day (Kusto
    ``activity_engagement``). Both rolling counts ride the
    interval-merge sweep (:func:`rolling_active_users`: per-user lag →
    merged coverage intervals → ±1 day-deltas → distributed prefix
    scan), fed from ONE shared (user, day) distinct frame — the two
    sweeps reference the same subtree, so Spark's ReuseExchange scans
    and dedupes the events once; joined on day, ratio in double."""
    days = df.select(
        F.to_date(F.col(ts_col)).alias("__day"),
        F.col(user_col).alias("__u"),
    ).distinct()
    short = _rolling_from_days(days, short_days, out="__s")
    long_ = _rolling_from_days(days, long_days, out="__l")
    return short.join(long_, "day").select(
        "day",
        F.col("__s").alias(f"active_{short_days}d"),
        F.col("__l").alias(f"active_{long_days}d"),
        (F.col("__s") / F.col("__l")).alias("engagement"),
    )


def sliding_window_counts(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    lookback_s: int,
    bin_s: int,
    include_count: bool = True,
) -> DataFrame:
    """Kusto ``evaluate sliding_window_counts(Id, Timeline, Start, End,
    LookbackWindow, Bin)``: for every bin timestamp ``t`` in
    ``[Start, End]`` step ``Bin``, the count of rows and the distinct
    count of ids whose (binned) timeline falls in the trailing
    ``LookbackWindow`` ending at ``t``. Output ``(Timeline, Count,
    Dcount)`` — one row per spine bin, zeros where nothing is in
    range.

    Scale shape — two delta sweeps, no explode, no sliding distinct:

    * **Count**: per-source-bin counts (one aggregate), each bin ``b``
      contributes ``+c`` at ``b`` and ``-c`` at ``b + wb`` (``wb`` =
      lookback/bin), and a distributed prefix sum over the O(bins)
      delta table is the sliding count.
    * **Dcount**: the interval-merge sweep (:func:`_interval_sweep`) —
      per id, active bins merge into coverage intervals, ±1 deltas,
      same prefix-scan kernel. Never COUNT(DISTINCT) over a frame.

    Rows earlier than ``Start - LookbackWindow`` can't reach any spine
    bin and are filtered at the scan (pushed predicate); rows after
    the last bin are dropped likewise.

    ``include_count=False`` skips the Count sweep entirely and returns
    ``(Timeline, Dcount)`` — consumers that only need the sliding
    distinct count (``session_count``) otherwise pay a full dead
    aggregate + delta union + prefix scan + join that projection
    pruning cannot remove (the join with the Count frame preserves no
    column but still executes)."""
    from azuredataengineering_deeplearning_spark.operators.windows import (
        global_cumsum,
    )

    if lookback_s % bin_s:
        raise ValueError(
            f"sliding_window_counts: lookback ({lookback_s}s) must be a "
            f"multiple of bin ({bin_s}s)"
        )
    wb = lookback_s // bin_s
    spark = df.sparkSession
    start_e = _to_epoch(spark, start)
    end_e = _to_epoch(spark, end)
    n_bins = (end_e - start_e) // bin_s + 1
    spine = spark.range(n_bins).select(F.col("id").alias("__idx"))
    ts_e = F.col(ts_col).cast("timestamp").cast("long")  # NTZ-safe (session UTC)
    binned = df.where(
        (ts_e > F.lit(start_e - lookback_s))
        & (ts_e < F.lit(start_e + n_bins * bin_s))
    ).select(
        F.col(id_col).alias("__u"),
        F.floor((ts_e - F.lit(start_e)) / F.lit(bin_s)).alias("__idx"),
    )
    dcounts = _interval_sweep(
        binned.distinct(), wb, out="Dcount", spine=spine
    )
    timeline = F.timestamp_seconds(
        F.lit(start_e) + F.col("__idx") * F.lit(bin_s)
    ).alias("Timeline")
    if not include_count:
        return dcounts.select(timeline, "Dcount")
    # Count sweep: per-bin counts -> +c / -c deltas -> prefix scan
    cnt = binned.groupBy("__idx").agg(F.count(F.lit(1)).alias("__c"))
    cdeltas = (
        cnt.select("__idx", F.col("__c").alias("__d"))
        .unionAll(
            cnt.select(
                (F.col("__idx") + wb).alias("__idx"), (-F.col("__c")).alias("__d")
            )
        )
        .unionAll(spine.select("__idx", F.lit(0).cast("long").alias("__d")))
        .groupBy("__idx")
        .agg(F.sum("__d").alias("__delta"))
    )
    counts = (
        global_cumsum(cdeltas, ["__idx"], "__delta", out="Count")
        .join(spine, "__idx", "left_semi")
        .select("__idx", F.col("Count").cast("long").alias("Count"))
    )
    return counts.join(dcounts, "__idx").select(timeline, "Count", "Dcount")


def activity_counts_metrics(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    step_s: int,
) -> DataFrame:
    """Kusto ``evaluate activity_counts_metrics(Id, Timeline, Start,
    End, Step)``: per time bin — total rows (``count_``), distinct ids
    (``dcount``), ids FIRST seen in that bin (``new_dcount``), and the
    running distinct-id total through that bin
    (``aggregated_dcount``). Output one row per spine bin in
    ``[Start, End]`` step ``Step``, zero-filled.

    Plan: one (bin) aggregate for count/dcount, one (id) aggregate for
    first-seen bins -> per-bin new_dcount, and ``aggregated_dcount`` =
    distributed prefix sum of new_dcount over the O(bins) spine
    (:func:`global_cumsum` — equal to dcount-so-far because first-seen
    bins partition the ids). Dialect note: Kusto's ``count`` column is
    emitted as ``count_`` (bare ``count`` needs quoting in most SQL
    engines, which breaks cross-engine checks)."""
    from azuredataengineering_deeplearning_spark.operators.windows import (
        global_cumsum,
    )

    spark = df.sparkSession
    start_e = _to_epoch(spark, start)
    end_e = _to_epoch(spark, end)
    n_bins = (end_e - start_e) // step_s + 1
    spine = spark.range(n_bins).select(F.col("id").alias("__idx"))
    ts_e = F.col(ts_col).cast("timestamp").cast("long")  # NTZ-safe (session UTC)
    binned = df.where(
        (ts_e >= F.lit(start_e)) & (ts_e < F.lit(start_e + n_bins * step_s))
    ).select(
        F.col(id_col).alias("__u"),
        F.floor((ts_e - F.lit(start_e)) / F.lit(step_s)).alias("__idx"),
    )
    per_bin = binned.groupBy("__idx").agg(
        F.count(F.lit(1)).alias("count_"),
        F.countDistinct("__u").alias("dcount"),
    )
    firsts = (
        binned.groupBy("__u")
        .agg(F.min("__idx").alias("__idx"))
        .groupBy("__idx")
        .agg(F.count(F.lit(1)).alias("new_dcount"))
    )
    filled = (
        spine.join(per_bin, "__idx", "left")
        .join(firsts, "__idx", "left")
        .fillna(0, subset=["count_", "dcount", "new_dcount"])
    )
    out = global_cumsum(
        filled, ["__idx"], "new_dcount", out="aggregated_dcount"
    )
    return out.select(
        F.timestamp_seconds(
            F.lit(start_e) + F.col("__idx") * F.lit(step_s)
        ).alias("Timeline"),
        F.col("count_").cast("long").alias("count_"),
        F.col("dcount").cast("long").alias("dcount"),
        F.col("new_dcount").cast("long").alias("new_dcount"),
        F.col("aggregated_dcount").cast("long").alias("aggregated_dcount"),
    ).orderBy("Timeline")


def _binned_ids(
    df: DataFrame, id_col: str, ts_col: str, start_e: int, n_bins: int,
    step_s: int,
) -> DataFrame:
    """Distinct (``__u``, ``__idx``) frame of ids per time bin inside
    the ``[start, start + n_bins*step)`` range — the shared front end
    of the period-over-period activity plugins. One pushed range
    filter + one distinct (the only stage carrying per-event rows)."""
    ts_e = F.col(ts_col).cast("timestamp").cast("long")  # NTZ-safe
    return (
        df.where(
            (ts_e >= F.lit(start_e))
            & (ts_e < F.lit(start_e + n_bins * step_s))
        )
        .select(
            F.col(id_col).alias("__u"),
            F.floor((ts_e - F.lit(start_e)) / F.lit(step_s)).alias("__idx"),
        )
        .distinct()
    )


def activity_metrics(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    step_s: int,
) -> DataFrame:
    """Kusto ``evaluate activity_metrics(Id, Timeline, Start, End,
    Window)``: period-over-period engagement. Per window bin —
    distinct ids (``dcount_values``), ids first EVER seen in the bin
    (``dcount_newvalues``), ``retention_rate`` = ids active in BOTH
    this bin and the previous one / previous bin's dcount, and
    ``churn_rate`` = previous-bin ids NOT active in this bin /
    previous bin's dcount (retention + churn = 1 when the previous bin
    is non-empty). One row per spine bin, zero-filled; an empty
    previous bin renders both rates 0.0 (Kusto renders NaN — 0.0 is
    the cross-engine-checkable form, documented deviation).

    Plan — no bin-to-bin self-join on the event table: the distinct
    (id, bin) frame is shuffled ONCE on id; a per-id ``lag`` window
    (partition = one id's active bins, bounded by the calendar) marks
    a bin "retained" when the id was also active in ``bin - 1``; the
    same id partition yields first-seen bins via ``min``. Everything
    after is O(bins) arithmetic on the spine. Parity:
    reference activity dashboards (``daily_eval.py`` rollups)."""
    spark = df.sparkSession
    start_e, end_e = _to_epoch(spark, start), _to_epoch(spark, end)
    n_bins = (end_e - start_e) // step_s + 1
    spine = spark.range(n_bins).select(F.col("id").alias("__idx"))
    binned = _binned_ids(df, id_col, ts_col, start_e, n_bins, step_s)
    w = Window.partitionBy("__u").orderBy("__idx")
    marked = binned.select(
        "__idx",
        F.when(F.lag("__idx").over(w) == F.col("__idx") - 1, 1)
        .otherwise(0)
        .alias("__ret"),
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias("__new"),
    )
    per_bin = marked.groupBy("__idx").agg(
        F.count(F.lit(1)).alias("dcount_values"),
        F.sum("__new").alias("dcount_newvalues"),
        F.sum("__ret").alias("__retained"),
    )
    prev = per_bin.select(
        (F.col("__idx") + 1).alias("__idx"),
        F.col("dcount_values").alias("__prev_dcount"),
    )
    filled = (
        spine.join(per_bin, "__idx", "left")
        .join(prev, "__idx", "left")
        .fillna(
            0,
            subset=[
                "dcount_values", "dcount_newvalues", "__retained",
                "__prev_dcount",
            ],
        )
    )
    safe_prev = F.when(F.col("__prev_dcount") > 0, F.col("__prev_dcount"))
    return filled.select(
        F.timestamp_seconds(
            F.lit(start_e) + F.col("__idx") * F.lit(step_s)
        ).alias("Timeline"),
        F.col("dcount_values").cast("long").alias("dcount_values"),
        F.col("dcount_newvalues").cast("long").alias("dcount_newvalues"),
        F.coalesce(
            F.col("__retained") / safe_prev, F.lit(0.0)
        ).alias("retention_rate"),
        F.coalesce(
            (F.col("__prev_dcount") - F.col("__retained")) / safe_prev,
            F.lit(0.0),
        ).alias("churn_rate"),
    ).orderBy("Timeline")


def new_activity_metrics(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    step_s: int,
) -> DataFrame:
    """Kusto ``evaluate new_activity_metrics(Id, Timeline, Start, End,
    Window)``: COHORT retention. Ids are assigned to the window of
    their first appearance (``FromTimeline``); for every later window
    ``ToTimeline`` the cohort is re-measured — ``dcount_new_values``
    (cohort size), ``dcount_retained_values`` (cohort ids active in
    the To window), ``dcount_churn_values`` (cohort ids NOT active),
    and the two rates (denominator = cohort size; an empty cohort
    renders 0.0). One row per (From, To) pair with From <= To,
    zero-filled over the O(bins^2) spine (bins are a calendar — the
    spine is driver-tiny regardless of corpus size).

    Plan: the distinct (id, bin) frame is shuffled once on id; the
    per-id ``min`` bin labels the cohort, rides back on the SAME id
    partitioning (no extra exchange), and one (cohort, bin) aggregate
    is the retention matrix. Generalizes
    :func:`cohort_retention` to Kusto's exact output contract."""
    spark = df.sparkSession
    start_e, end_e = _to_epoch(spark, start), _to_epoch(spark, end)
    n_bins = (end_e - start_e) // step_s + 1
    binned = _binned_ids(df, id_col, ts_col, start_e, n_bins, step_s)
    wu = Window.partitionBy("__u")
    labeled = binned.withColumn("__cohort", F.min("__idx").over(wu))
    retained = labeled.groupBy("__cohort", "__idx").agg(
        F.count(F.lit(1)).alias("__retained")
    )
    sizes = retained.where(F.col("__idx") == F.col("__cohort")).select(
        "__cohort", F.col("__retained").alias("__size")
    )
    # (cohort, bin) zero-fill spine with cohort <= bin: one sequence
    # generator per cohort row — no non-equi join (a range x range
    # BNLJ would lint as a scale anti-pattern even though both sides
    # are calendar-bounded)
    pairs = spark.range(n_bins).select(
        F.col("id").alias("__cohort"),
        F.explode(
            F.sequence(F.col("id"), F.lit(n_bins - 1))
        ).alias("__idx"),
    )
    filled = (
        pairs.join(retained, ["__cohort", "__idx"], "left")
        .join(sizes, "__cohort", "left")
        .fillna(0, subset=["__retained", "__size"])
    )
    safe = F.when(F.col("__size") > 0, F.col("__size"))
    ts_of = lambda c: F.timestamp_seconds(  # noqa: E731
        F.lit(start_e) + F.col(c) * F.lit(step_s)
    )
    return filled.select(
        ts_of("__cohort").alias("FromTimeline"),
        ts_of("__idx").alias("ToTimeline"),
        F.col("__size").cast("long").alias("dcount_new_values"),
        F.col("__retained").cast("long").alias("dcount_retained_values"),
        (F.col("__size") - F.col("__retained"))
        .cast("long")
        .alias("dcount_churn_values"),
        F.coalesce(F.col("__retained") / safe, F.lit(0.0)).alias(
            "retention_rate"
        ),
        F.coalesce(
            (F.col("__size") - F.col("__retained")) / safe, F.lit(0.0)
        ).alias("churn_rate"),
    ).orderBy("FromTimeline", "ToTimeline")


def session_count(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    bin_s: int,
    lookback_s: int,
) -> DataFrame:
    """Kusto ``evaluate session_count(Id, Timeline, Start, End, Bin,
    LookBackWindow)``: active sessions per bin, where an id's session
    is alive at bin ``t`` if the id had any activity in the trailing
    ``LookBackWindow`` ending at ``t`` — exactly the sliding distinct
    count, so this rides :func:`sliding_window_counts`' interval-merge
    sweep verbatim (per-id coverage intervals -> ±1 deltas -> one
    distributed prefix scan; never a sliding COUNT(DISTINCT)). Output
    ``(Timeline, count_)``, one row per spine bin, zero-filled.
    LookBackWindow must be a whole multiple of Bin (inherited
    constraint, loud error)."""
    return sliding_window_counts(
        df, id_col, ts_col, start, end, lookback_s, bin_s,
        include_count=False,
    ).select("Timeline", F.col("Dcount").alias("count_"))


def funnel_sequence_completion(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    state_col: str,
    start: str,
    end: str,
    bin_s: int,
    states: list[str],
    windows_s: list[int],
) -> DataFrame:
    """Kusto ``evaluate funnel_sequence_completion(Id, Timeline, Start,
    End, Period, State, Sequence, MaxSequenceWindows)``: funnel
    completion by period. A sequence START is any event whose state is
    ``states[0]`` inside ``[Start, End]``; the start's period is its
    bin. An id completes step ``k`` (1-based) in a period if ANY of
    its starts in that period extends to a chain
    ``t1 < t2 < ... < tk`` through ``states[:k]`` with
    ``tk - t1 <= windows_s[k-1]``. Output one row per (Period, step):
    ``(Period, StateSequence, dcount)``, zero-filled over the period
    spine. ``StateSequence`` is the '>'-joined prefix (Kusto emits a
    dynamic array; the flat string is the cross-engine-checkable
    form, documented deviation).

    Plan — per-start GREEDY chains, which are optimal (taking the
    earliest next-state occurrence after the previous step minimizes
    every suffix completion time, so a start completes within the
    window iff its greedy chain does), over ALL starts (the earliest
    start is NOT always the completing one — a later start can finish
    inside a window an earlier start misses, pinned in tests). Each
    step is one join on id between the surviving starts and that
    step's (pushdown-filtered) state events plus a min-aggregate —
    ``len(states) - 1`` id-key shuffles total, no explode, no
    per-id collect."""
    if len(windows_s) != len(states):
        raise ValueError(
            "funnel_sequence_completion: MaxSequenceWindows must have one "
            f"entry per sequence state ({len(states)} states, "
            f"{len(windows_s)} windows)"
        )
    if not states:
        raise ValueError("funnel_sequence_completion: empty sequence")
    spark = df.sparkSession
    start_e, end_e = _to_epoch(spark, start), _to_epoch(spark, end)
    n_bins = (end_e - start_e) // bin_s + 1
    ts_e = F.col(ts_col).cast("timestamp").cast("double")
    events = df.where(
        (ts_e >= F.lit(start_e)) & (ts_e < F.lit(start_e + n_bins * bin_s))
    ).select(
        F.col(id_col).alias("__u"),
        F.col(state_col).alias("__s"),
        ts_e.alias("__t"),
    )
    cur = (
        events.where(F.col("__s") == states[0])
        .select(
            "__u",
            F.col("__t").alias("__t1"),
            F.floor((F.col("__t") - F.lit(start_e)) / F.lit(bin_s))
            .alias("__per"),
        )
        .distinct()
        .withColumn("__tk", F.col("__t1"))
    )
    spine = spark.range(n_bins).select(F.col("id").alias("__per"))
    step_counts = []
    for k, state in enumerate(states):
        if k > 0:
            nxt = events.where(F.col("__s") == state).select(
                "__u", F.col("__t").alias("__tn")
            )
            cur = (
                cur.join(nxt, "__u")
                .where(F.col("__tn") > F.col("__tk"))
                .groupBy("__u", "__t1", "__per")
                .agg(F.min("__tn").alias("__tk"))
                .where(F.col("__tk") - F.col("__t1") <= F.lit(windows_s[k]))
            )
        label = ">".join(states[: k + 1])
        per_step = (
            cur.select("__per", "__u")
            .distinct()
            .groupBy("__per")
            .agg(F.count(F.lit(1)).alias("dcount"))
        )
        step_counts.append(
            spine.join(per_step, "__per", "left")
            .fillna(0, subset=["dcount"])
            .select(
                "__per",
                F.lit(k + 1).alias("__step"),
                F.lit(label).alias("StateSequence"),
                F.col("dcount").cast("long").alias("dcount"),
            )
        )
    out = step_counts[0]
    for sc in step_counts[1:]:
        out = out.unionByName(sc)
    return out.select(
        F.timestamp_seconds(
            F.lit(start_e) + F.col("__per") * F.lit(bin_s)
        ).alias("Period"),
        "StateSequence",
        "dcount",
    ).orderBy("Period", F.length("StateSequence"), "StateSequence")


def sequence_detect(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    step_window_s: int,
    span_s: int,
    flag_cols: list[str],
) -> DataFrame:
    """Kusto ``evaluate sequence_detect(Timeline, MaxSequenceStepWindow,
    MaxSequenceSpan, Expr1, Expr2, ..., IdColumn)``: per id, detected
    occurrences of the boolean-flag sequence — each step within
    ``MaxSequenceStepWindow`` of the PREVIOUS step (funnel_completion
    windows measure from the start instead) and the whole chain within
    ``MaxSequenceSpan``. Output one row per detected chain:
    ``(id, <flag1>, <flag2>, ...)`` with each flag column carrying that
    step's timestamp.

    Deterministic dialect (documented): ONE canonical chain per step-1
    event, extended GREEDILY (earliest qualifying next-step event
    after the previous step). Unlike funnel_sequence_completion's
    from-start windows (where greedy is provably complete), per-step
    windows make greedy a CANONICAL-chain rule, not an existence
    test — a later step-k event can open a later deadline that greedy
    forgoes (pinned in tests). Both engines apply the identical rule,
    so results stay cross-engine exact; use the ``scan`` operator for
    Kusto's full stateful-match semantics.

    Plan: ``len(flags) - 1`` id-key joins, each against the
    pushdown-filtered single-flag slice, with a min-aggregate keyed on
    the chain prefix (bounded by the start count). No explode, no
    per-id collect, no window funnel — the same 100x shape as
    funnel_sequence_completion."""
    if len(flag_cols) < 2:
        raise ValueError("sequence_detect needs at least 2 step flags")
    for c in flag_cols:
        if c not in df.columns:
            raise ValueError(f"sequence_detect: no flag column {c!r}")
    # integer MICROSECOND arithmetic — exact, so emitted chain
    # timestamps round-trip bit-identically (a double epoch loses
    # sub-microsecond precision at 2024 magnitudes)
    ts_e = F.unix_micros(F.col(ts_col).cast("timestamp"))
    events = df.select(
        F.col(id_col).alias("__u"),
        ts_e.alias("__t"),
        *[F.col(c).cast("boolean").alias(c) for c in flag_cols],
    )
    cur = (
        events.where(F.col(flag_cols[0]))
        .select("__u", F.col("__t").alias("__t1"))
        .distinct()
    )
    keys = ["__u", "__t1"]
    for k, flag in enumerate(flag_cols[1:], start=2):
        nxt = events.where(F.col(flag)).select(
            "__u", F.col("__t").alias("__tn")
        )
        prev_t = F.col(f"__t{k - 1}")
        cur = (
            cur.join(nxt, "__u")
            .where(
                (F.col("__tn") > prev_t)
                & (
                    F.col("__tn") - prev_t
                    <= F.lit(step_window_s * 1_000_000)
                )
            )
            .groupBy(*keys)
            .agg(F.min("__tn").alias(f"__t{k}"))
        )
        keys.append(f"__t{k}")
    cur = cur.where(
        F.col(f"__t{len(flag_cols)}") - F.col("__t1")
        <= F.lit(span_s * 1_000_000)
    )
    return cur.select(
        F.col("__u").alias(id_col),
        *[
            F.timestamp_micros(F.col(f"__t{i + 1}")).alias(c)
            for i, c in enumerate(flag_cols)
        ],
    ).orderBy(id_col, *flag_cols)


def funnel_sequence(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    state_col: str,
    start: str,
    end: str,
    step_window_s: int,
    bin_s: int,
    states: list[str],
) -> DataFrame:
    """Kusto ``evaluate funnel_sequence(Id, Timeline, Start, End,
    MaxSequenceStepWindow, Step, State, Sequence)``: for ids that
    COMPLETE the state sequence (each step within
    ``MaxSequenceStepWindow`` of the previous — the sequence_detect
    chain rule, greedy canonical dialect), what happened around it.
    Kusto returns THREE result tables (sequence counts, previous
    states, next states); this engine flattens them into ONE long
    frame (documented dialect): ``(Period, kind, state, dcount)`` with
    ``kind`` in ('seq', 'prev', 'next') — 'seq' rows carry a null
    state and the per-period dcount of completing ids; 'prev'/'next'
    rows break those ids down by the state immediately before the
    chain's first step / after its last (null state = the chain is at
    the stream's edge). Periods bin the chain START.

    Plan: one per-id lag/lead window over the (id, time)-ordered
    events computes every event's neighbors ONCE; completed chains
    (the sequence_detect join kernel, integer-microsecond exact) then
    join back on (id, t) to fetch the boundary states — all stages
    share the id-key partitioning; dcounts are per (period, state)
    aggregates. No explode, no per-id collect."""
    spark = df.sparkSession
    start_e, end_e = _to_epoch(spark, start), _to_epoch(spark, end)
    n_bins = (end_e - start_e) // bin_s + 1
    ts_e = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lo, hi = start_e * 1_000_000, (start_e + n_bins * bin_s) * 1_000_000
    events = df.select(
        F.col(id_col).alias("__u"),
        ts_e.alias("__t"),
        F.col(state_col).alias("__s"),
    ).where((F.col("__t") >= lo) & (F.col("__t") < hi))
    w = Window.partitionBy("__u").orderBy("__t")
    nbr = events.select(
        "__u", "__t",
        F.lag("__s").over(w).alias("__prev"),
        F.lead("__s").over(w).alias("__next"),
    )
    cur = (
        events.where(F.col("__s") == states[0])
        .select("__u", F.col("__t").alias("__t1"))
        .distinct()
    )
    keys = ["__u", "__t1"]
    for k, state in enumerate(states[1:], start=2):
        nxt = events.where(F.col("__s") == state).select(
            "__u", F.col("__t").alias("__tn")
        )
        prev_t = F.col(f"__t{k - 1}")
        cur = (
            cur.join(nxt, "__u")
            .where(
                (F.col("__tn") > prev_t)
                & (
                    F.col("__tn") - prev_t
                    <= F.lit(step_window_s * 1_000_000)
                )
            )
            .groupBy(*keys)
            .agg(F.min("__tn").alias(f"__t{k}"))
        )
        keys.append(f"__t{k}")
    tk = f"__t{len(states)}"
    chains = cur.withColumn(
        "__per",
        F.floor(
            (F.col("__t1") - F.lit(lo)) / F.lit(bin_s * 1_000_000)
        ),
    )
    decorated = (
        chains.join(
            nbr.select("__u", F.col("__t").alias("__t1"), "__prev"),
            ["__u", "__t1"],
        )
        .join(
            nbr.select("__u", F.col("__t").alias(tk), "__next"),
            ["__u", tk],
        )
    )
    per_ts = F.timestamp_seconds(
        F.lit(start_e) + F.col("__per") * F.lit(bin_s)
    )

    def _slice(kind: str, state_col_):
        frame = decorated.select(
            "__per", state_col_.alias("__st"), "__u"
        ).distinct()
        return frame.groupBy("__per", "__st").agg(
            F.count(F.lit(1)).alias("dcount")
        ).select(
            per_ts.alias("Period"),
            F.lit(kind).alias("kind"),
            F.col("__st").alias("state"),
            F.col("dcount").cast("long").alias("dcount"),
        )

    seq = _slice("seq", F.lit(None).cast("string"))
    prev = _slice("prev", F.col("__prev"))
    nxt_out = _slice("next", F.col("__next"))
    return seq.unionByName(prev).unionByName(nxt_out).orderBy(
        "Period", "kind", "state"
    )


def rolling_percentile(
    df: DataFrame,
    value_col: str,
    p: float,
    ts_col: str,
    bins_per_window: int,
    bin_s: int,
    dims: list[str] | None = None,
) -> DataFrame:
    """Kusto ``evaluate rolling_percentile(Value, Percentile, Index,
    BinsPerWindow, BinSize [, dim...])``: per observed bin (and dim
    combination), the percentile of values in the trailing
    ``BinsPerWindow`` bins. Percentile semantics = the engine's
    weighted-CDF convention (lower empirical-CDF inverse, ties one
    step — Kusto's nearest-rank family).

    Scale shape — no per-bin re-sort of raw rows: collapse to
    weighted (bin, value) tuples FIRST (one aggregate, map-side
    combine), fan each tuple onto the <= ``bins_per_window`` target
    bins it covers (a bounded constant, and it multiplies DISTINCT
    tuples, not events), then ONE weighted-percentile pass
    (window CDF + conditional-min aggregate) keyed by target bin.
    Rolling DISTINCT counts get the interval-merge sweep because
    distinct-ness merges; percentiles need the multiset, and the
    collapsed-tuple fan is the multiset at its smallest."""
    dims = list(dims or [])
    if not 0 < p < 100:
        raise ValueError(f"rolling_percentile: percentile {p} not in (0, 100)")
    if bins_per_window < 1:
        raise ValueError("rolling_percentile: BinsPerWindow must be >= 1")
    ts_e = F.col(ts_col).cast("timestamp").cast("long")
    binned = df.select(
        (F.floor(ts_e / F.lit(bin_s)) * F.lit(bin_s)).alias("__bin"),
        F.col(value_col).alias("__v"),
        *dims,
    )
    weighted = binned.groupBy("__bin", "__v", *dims).agg(
        F.count(F.lit(1)).alias("__w")
    )
    obs = binned.select("__bin", *dims).distinct()
    fanned = weighted.select(
        "__bin",
        "__v",
        "__w",
        *dims,
        F.explode(
            F.sequence(F.lit(0), F.lit(bins_per_window - 1))
        ).alias("__k"),
    ).select(
        (F.col("__bin") + F.col("__k") * F.lit(bin_s)).alias("__tgt"),
        "__v",
        "__w",
        *dims,
    ).join(
        obs.select(F.col("__bin").alias("__tgt"), *dims),
        ["__tgt", *dims],
        "left_semi",
    )
    from azuredataengineering_deeplearning_spark.operators.aggregates import (
        weighted_percentile,
    )

    out_col = (
        f"rolling_{bins_per_window}_percentile_{value_col}_{p:g}"
    )
    wp = weighted_percentile(
        fanned, "__v", "__w", [p / 100], keys=["__tgt", *dims]
    )
    raw = [c for c in wp.columns if c not in ("__tgt", *dims)][0]
    return wp.select(
        F.timestamp_seconds(F.col("__tgt")).alias(ts_col),
        *dims,
        F.col(raw).alias(out_col),
    ).orderBy(ts_col, *dims)


def _to_epoch(spark: SparkSession, dt: str) -> int:
    """ISO datetime/date string -> unix seconds (session UTC; driver-side
    arithmetic on two literals, no job)."""
    import datetime as _dt

    try:
        d = _dt.datetime.fromisoformat(dt.strip())
    except ValueError as e:
        raise ValueError(f"unparseable datetime literal: {dt!r}") from e
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp())


def make_series(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    start: str,
    stop: str,
    step_seconds: int,
    agg: str = "count",
    value_col: str | None = None,
    default: float | None = 0.0,
    out: str = "series",
    out_bins: str = "bins",
    specs: list[dict] | None = None,
) -> DataFrame:
    """KQL ``make-series`` analog: per-key gap-filled arrays of an
    aggregate over start-aligned time bins (``daily_eval.py``-style Kusto
    pipelines regularize series exactly this way before anomaly scoring).

    Bins are aligned to ``start`` (KQL semantics), rows outside
    ``[start, stop)`` are dropped, and every key present in the window
    gets the full array with ``default`` in empty bins (``default=None``
    keeps empty bins NULL — the KQL ``default=double(null)`` form that
    feeds ``series_fill_linear``/``series_fill_const``). ``agg`` is one
    of count/sum/avg/min/max (values cast to double).

    Plan shape (round 8): one (keys, bin) aggregate over the filtered
    scan, then one (keys) aggregate that builds a bin→value map and a
    ``transform(sequence(...))`` lookup densifies it — ONE pass over the
    fact table, no spine join, no explode (the previous
    distinct-keys × sequence spine re-scanned the source for the key
    set and paid a broadcast join). Per-key state is exactly ``n_bins``
    map entries, so memory is capped by the requested window, not the
    data.

    ``specs``: multi-aggregate form (KQL ``make-series a=sum(x),
    b=count() on ...``) — a list of ``{"agg", "value_col", "default",
    "out"}`` dicts computed in the SAME single pass (one (keys, bin)
    aggregate with one column per series; per-key state is
    ``n_bins x len(specs)`` map entries). When given, the scalar
    ``agg``/``value_col``/``default``/``out`` parameters are ignored.
    """
    import datetime as _dt

    def _us(s: str) -> int:
        d = _dt.datetime.fromisoformat(s)
        if d.tzinfo is None:
            d = d.replace(tzinfo=_dt.timezone.utc)
        return int(d.timestamp() * 1_000_000)

    start_us, stop_us = _us(start), _us(stop)
    step_us = step_seconds * 1_000_000
    n_bins = -(-(stop_us - start_us) // step_us)  # ceil

    if specs is None:
        specs = [
            {"agg": agg, "value_col": value_col, "default": default, "out": out}
        ]
    if len({sp["out"] for sp in specs}) != len(specs):
        raise ValueError("make_series specs need distinct out names")

    idx = F.floor((F.unix_micros(F.col(ts_col)) - F.lit(start_us)) / F.lit(step_us))
    bins_expr = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)),
        lambda i: F.timestamp_micros(F.lit(start_us) + i.cast("long") * F.lit(step_us)),
    )
    return _make_series_core(
        df, keys, idx, n_bins, specs, bins_expr, out_bins
    )


def make_series_numeric(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    start: float,
    stop: float,
    step: float,
    specs: list[dict],
    out_bins: str = "bins",
) -> DataFrame:
    """``make-series ... on NumericColumn from a to b step s`` — the
    numeric-axis form (Kusto supports any numeric on-axis, not just
    datetime). Identical single-pass plan shape to the time form
    (shared :func:`_make_series_core`): one (keys, bin) aggregate, one
    per-key map build, a transform(sequence(...)) densify — no spine
    join, no explode. Bins are start-aligned half-open
    ``[start + i*step, start + (i+1)*step)`` doubles."""
    if step <= 0 or stop <= start:
        raise ValueError(
            "make_series_numeric needs stop > start and step > 0"
        )
    n_bins = int(-(-(stop - start) // step))

    idx = F.floor(
        (F.col(x_col).cast("double") - F.lit(float(start)))
        / F.lit(float(step))
    )
    bins_expr = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)),
        lambda i: F.lit(float(start)) + i.cast("double") * F.lit(float(step)),
    )
    return _make_series_core(
        df, keys, idx, n_bins, specs, bins_expr, out_bins
    )


def _series_agg(a: str, vc: str | None, alias: str) -> Column:
    """One make-series bin aggregate as DOUBLE (sum/avg exact fixed-point)."""
    fns = {
        "count": lambda: F.count(F.lit(1)).cast("double").alias(alias),
        "sum": lambda: exact_sum(f"`{vc}`", alias),
        "avg": lambda: exact_avg(f"`{vc}`", alias),
        "min": lambda: F.min(vc).cast("double").alias(alias),
        "max": lambda: F.max(vc).cast("double").alias(alias),
    }
    if a not in fns:
        raise ValueError(f"unsupported make_series aggregate {a!r}")
    if a != "count" and vc is None:
        raise ValueError(f"make_series agg {a!r} needs value_col")
    return fns[a]()


def _make_series_core(df, keys, idx, n_bins, specs, bins_expr, out_bins):
    """Shared make-series tail: (keys, bin) aggregate -> per-key
    bin->value map -> transform(sequence) densify. One pass, no spine
    join, no explode; per-key state is n_bins x len(specs) entries."""
    binned = (
        df.withColumn("__idx", idx)
        .filter((F.col("__idx") >= 0) & (F.col("__idx") < n_bins))
        .groupBy(*keys, "__idx")
        .agg(
            *[
                _series_agg(sp["agg"], sp.get("value_col"), f"__v{i}")
                for i, sp in enumerate(specs)
            ]
        )
    )

    def _mk_fill(m: str, d):
        # returns a STRICTLY 1-arg lambda: F.transform inspects the
        # callable's arity, and default-arg params would make it pass
        # the element index into them
        def _fill(i):
            # try_element_at: ANSI-safe null on missing bin
            # (element_at throws)
            v = F.try_element_at(F.col(m), i.cast("long"))
            return v if d is None else F.coalesce(v, F.lit(float(d)))

        return _fill

    return (
        binned.groupBy(*keys)
        .agg(
            *[
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("__idx"), F.col(f"__v{i}")))
                ).alias(f"__m{i}")
                for i in range(len(specs))
            ]
        )
        .select(
            *keys,
            *[
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bins - 1)),
                    _mk_fill(f"__m{j}", sp.get("default", 0.0)),
                ).alias(sp["out"])
                for j, sp in enumerate(specs)
            ],
        )
        .withColumn(out_bins, bins_expr)
    )


def series_stats(
    df: DataFrame,
    series_col: str,
    prefix: str = "s_",
) -> DataFrame:
    """KQL ``series_stats`` analog: per-row descriptive statistics of a
    series array — min, max, avg, population variance, stdev.

    Pure higher-order array expressions (``aggregate``/``array_min``):
    zero extra shuffles, works on ``make_series`` output directly. Sums
    accumulate in fixed-point limbs (``functions.exact``) so the result
    is independent of both element order and the oracle engine's
    summation order; each double square is rounded to micro-units at
    accumulation (exact whenever the series values are counts/3-dp
    quantities — documented caveat for full-precision doubles).
    """
    s = series_col
    n = F.size(F.col(s)).cast("double")
    sum_x, sum_x2 = (F.expr(e) for e in sql_array_moments(s))
    avg = sum_x / n
    var = sum_x2 / n - avg * avg
    return df.withColumns(
        {
            f"{prefix}min": F.array_min(F.col(s)),
            f"{prefix}max": F.array_max(F.col(s)),
            f"{prefix}avg": avg,
            f"{prefix}var": F.greatest(var, F.lit(0.0)),
            f"{prefix}stdev": F.sqrt(F.greatest(var, F.lit(0.0))),
        }
    )


def series_outliers(
    df: DataFrame,
    series_col: str,
    k: float = 2.5,
    avg_col: str = "s_avg",
    stdev_col: str = "s_stdev",
    out: str = "outlier_idx",
) -> DataFrame:
    """Flag anomalous bins of a series by z-score against the series'
    own moments (the lightweight ``series_decompose_anomalies`` shape):
    returns the 0-based bin indices where ``|x - avg| > k * stdev``.
    Expects :func:`series_stats` columns; pure array expressions, no
    shuffle. Constant series (stdev 0) flag nothing."""
    s, n = F.col(series_col), F.size(F.col(series_col))
    idx = F.sequence(F.lit(0), n - 1)
    is_out = lambda i: (
        (F.col(stdev_col) > 0)
        & (
            F.abs(F.element_at(s, i + 1) - F.col(avg_col))
            > F.lit(k) * F.col(stdev_col)
        )
    )
    return df.withColumn(out, F.filter(idx, is_out))


# ---------------------------------------------------------------------------
# KQL series_* scalar SQL builders
#
# Each builder returns Spark-SQL TEXT over an array argument given as SQL
# text, so the same expression serves the KQL translator (F.expr over the
# rewritten pipe) and the operator-level wrappers below. The argument is
# bound ONCE as a lambda variable via a one-element transform — Catalyst
# inlines captured expressions per element inside higher-order lambdas
# (the round-6 ``bind_once`` lesson), so splicing the raw argument into
# every element_at would re-evaluate it O(n) times per row.
# ---------------------------------------------------------------------------


def _bind1(arg_sql: str, var: str, body_sql: str) -> str:
    """Bind ``arg_sql`` once as lambda variable ``var`` inside ``body``."""
    return f"element_at(transform(array(({arg_sql})), {var} -> {body_sql}), 1)"


def _as_double_array(y_sql: str) -> str:
    return f"transform(({y_sql}), __v -> CAST(__v AS DOUBLE))"


_FIT_STRUCT_T = (
    "STRUCT<rsquare: DOUBLE, slope: DOUBLE, variance: DOUBLE,"
    " rvariance: DOUBLE, interception: DOUBLE, line_fit: ARRAY<DOUBLE>>"
)


def series_fit_line_sql(y_sql: str) -> str:
    """KQL ``series_fit_line_dynamic(series)``: least-squares line over
    x = 0..n-1 → struct(rsquare, slope, variance, rvariance,
    interception, line_fit). Expects a FILLED series (null elements
    propagate to null fields, like Kusto on unfilled input); variance
    and rvariance are population moments (their ratio — rsquare — is
    ddof-invariant). Empty series → null struct. One pass for the
    moment sums (Σx/Σx² use the closed forms for 0..n-1), one pass for
    the residual variance: O(n) per row, zero shuffles."""
    # L2: data-dependent moment sums over the bound array
    moments = (
        "named_struct("
        "'n', CAST(size(__y) AS DOUBLE), "
        "'sy', aggregate(__y, CAST(0 AS DOUBLE), (a, v) -> a + v), "
        "'syy', aggregate(__y, CAST(0 AS DOUBLE), (a, v) -> a + v * v), "
        "'sxy', aggregate(sequence(0, size(__y) - 1), CAST(0 AS DOUBLE), "
        "(a, i) -> a + CAST(i AS DOUBLE) * element_at(__y, i + 1)))"
    )
    # L3: slope + population variance (sx = n(n-1)/2, sxx = n(n-1)(2n-1)/6)
    sx = "(__m.n * (__m.n - 1) / 2)"
    sxx = "(__m.n * (__m.n - 1) * (2 * __m.n - 1) / 6)"
    denom = f"(__m.n * {sxx} - {sx} * {sx})"
    slope = (
        f"CASE WHEN {denom} > 0 "
        f"THEN (__m.n * __m.sxy - {sx} * __m.sy) / {denom} "
        "ELSE CAST(0 AS DOUBLE) END"
    )
    fit1 = (
        f"named_struct('n', __m.n, 'sy', __m.sy, 'slope', {slope}, "
        "'variance', greatest(__m.syy / __m.n - (__m.sy / __m.n) * (__m.sy / __m.n),"
        " CAST(0 AS DOUBLE)))"
    )
    # L4: interception (needs slope)
    fit2 = (
        "named_struct('n', __f1.n, 'slope', __f1.slope, "
        "'variance', __f1.variance, "
        "'b', (__f1.sy - __f1.slope * (__f1.n * (__f1.n - 1) / 2)) / __f1.n)"
    )
    # L5: residual variance (needs slope + interception + the array)
    rvar = (
        "greatest(aggregate(sequence(0, size(__y) - 1), CAST(0 AS DOUBLE), "
        "(a, i) -> a + pow(element_at(__y, i + 1)"
        " - (__f2.b + __f2.slope * CAST(i AS DOUBLE)), 2)) / __f2.n,"
        " CAST(0 AS DOUBLE))"
    )
    final = (
        "named_struct("
        "'rsquare', CASE WHEN __f2.variance > 0 "
        "THEN greatest(CAST(0 AS DOUBLE), 1 - __r / __f2.variance) "
        "ELSE CAST(1 AS DOUBLE) END, "
        "'slope', __f2.slope, "
        "'variance', __f2.variance, "
        "'rvariance', __r, "
        "'interception', __f2.b, "
        "'line_fit', transform(sequence(0, size(__y) - 1), "
        "i -> __f2.b + __f2.slope * CAST(i AS DOUBLE)))"
    )
    body = _bind1(
        moments,
        "__m",
        _bind1(fit1, "__f1", _bind1(fit2, "__f2", _bind1(rvar, "__r", final))),
    )
    guarded = (
        # NULL input must short-circuit BEFORE the moment math: with a
        # null array, size() is NULL, every CASE predicate falls to its
        # ELSE, and the fit would fabricate slope=0/rsquare=1
        f"CASE WHEN __y IS NULL OR size(__y) = 0 "
        f"THEN CAST(NULL AS {_FIT_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y", guarded)


_STATS_STRUCT_T = (
    "STRUCT<min: DOUBLE, min_idx: BIGINT, max: DOUBLE, max_idx: BIGINT,"
    " avg: DOUBLE, stdev: DOUBLE, variance: DOUBLE, sum: DOUBLE, len: BIGINT>"
)


def series_stats_dynamic_sql(y_sql: str) -> str:
    """KQL ``series_stats_dynamic(series)`` → struct(min, min_idx, max,
    max_idx, avg, stdev, variance, sum, len). Variance/stdev are SAMPLE
    moments (Kusto convention; the :func:`series_stats` operator keeps
    its population form). ``*_idx`` is the FIRST index attaining the
    extremum. Sums accumulate in exact fixed-point limbs so the result is
    element-order- and engine-independent (same caveat as
    :func:`series_stats`). Empty series → null struct."""
    sum_x, sum_x2 = sql_array_moments("__y")
    moments = (
        "named_struct("
        "'n', CAST(size(__y) AS DOUBLE), "
        f"'s', {sum_x}, "
        f"'ss', {sum_x2}, "
        "'mn', array_min(__y), 'mx', array_max(__y))"
    )
    var = (
        "CASE WHEN __m.n > 1 THEN "
        "greatest((__m.ss - __m.s * __m.s / __m.n) / (__m.n - 1),"
        " CAST(0 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END"
    )
    final = (
        "named_struct("
        "'min', __m.mn, "
        "'min_idx', CAST(array_position(__y, __m.mn) - 1 AS BIGINT), "
        "'max', __m.mx, "
        "'max_idx', CAST(array_position(__y, __m.mx) - 1 AS BIGINT), "
        "'avg', __m.s / __m.n, "
        "'stdev', sqrt(__s2), "
        "'variance', __s2, "
        "'sum', __m.s, "
        "'len', CAST(size(__y) AS BIGINT))"
    )
    body = _bind1(moments, "__m", _bind1(var, "__s2", final))
    guarded = (
        f"CASE WHEN __y IS NULL OR size(__y) = 0 "
        f"THEN CAST(NULL AS {_STATS_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y", guarded)


def series_fir_sql(
    y_sql: str,
    f_sql: str,
    normalize_sql: str | None = None,
    center_sql: str = "false",
) -> str:
    """KQL ``series_fir(series, filter [, normalize [, center]])`` —
    finite impulse response filter as bind-once array SQL (zero
    shuffles, zero UDFs).

    ``filter`` is an array expression (its coefficients apply with
    ``filter[0]`` on the CURRENT element and later taps reaching back
    in time; ``center=true`` centers the taps). ``normalize`` defaults
    to Kusto's rule — normalize exactly when ALL coefficients are
    non-negative (decided in SQL, so the filter needn't be a literal).
    Edges use PARTIAL windows truncated at the series bounds, the same
    discipline as :func:`series_moving_avg_sql`; when normalized the
    divisor is the sum of the taps actually used, so a k-point
    all-ones normalized FIR equals ``series_moving_avg(series, k)``
    EXACTLY (pinned in tests). Un-normalized edges sum available taps
    only (Kusto's exact edge padding is unpublished; documented
    dialect). A normalized filter summing to 0 yields nulls
    (try_divide)."""
    center = center_sql.strip().lower() == "true"
    if center_sql.strip().lower() not in ("true", "false"):
        raise ValueError(
            f"series_fir: center must be true|false, got {center_sql!r}"
        )
    norm_txt = (normalize_sql or "").strip().lower()
    if norm_txt not in ("", "true", "false"):
        raise ValueError(
            f"series_fir: normalize must be true|false, got "
            f"{normalize_sql!r}"
        )
    # tap j reads source index __i - j + back (back = 0 causal,
    # (k-1)//2 centered)
    back = "CAST((size(__f) - 1) / 2 AS INT)" if center else "0"
    src = f"(__i - __j + ({back}))"
    valid = f"({src} >= 0 AND {src} <= size(__y) - 1)"
    num = (
        "aggregate(sequence(0, size(__f) - 1), CAST(0 AS DOUBLE),"
        f" (a, __j) -> a + IF({valid},"
        f" element_at(__f, __j + 1) * element_at(__y, {src} + 1),"
        " CAST(0 AS DOUBLE)))"
    )
    den = (
        "aggregate(sequence(0, size(__f) - 1), CAST(0 AS DOUBLE),"
        f" (a, __j) -> a + IF({valid},"
        " element_at(__f, __j + 1), CAST(0 AS DOUBLE)))"
    )
    if norm_txt == "true":
        per = _bind1(num, "__nu", _bind1(den, "__de", "try_divide(__nu, __de)"))
    elif norm_txt == "false":
        per = num
    else:  # Kusto default: normalize iff every coefficient >= 0
        per = _bind1(
            num,
            "__nu",
            _bind1(
                den,
                "__de",
                "IF(forall(__f, __v -> __v >= 0),"
                " try_divide(__nu, __de), __nu)",
            ),
        )
    body = (
        "CASE WHEN __y IS NULL OR size(__y) = 0 OR __f IS NULL"
        " OR size(__f) = 0 THEN __y "
        f"ELSE transform(sequence(0, size(__y) - 1), __i -> {per}) END"
    )
    bound = _bind1(_as_double_array(f_sql), "__f", body)
    return _bind1(_as_double_array(y_sql), "__y", bound)


def series_iir_sql(y_sql: str, b_sql: str, a_sql: str) -> str:
    """KQL ``series_iir(series, b, a)`` — infinite impulse response
    filter with ZERO initial conditions (Kusto's documented edge
    semantics: inputs and outputs before the series start are 0):

        y[n] = (sum_k b[k]*x[n-k]  -  sum_{j>=1} a[j]*y[n-j]) / a[0]

    Bind-once array SQL: the output array is built by ONE sequential
    aggregate fold over the element indices (the recursion is
    inherently ordered), with the feed-forward and feedback sums as
    inner aggregates over the coefficient indices. O(n * (|b| + |a|))
    arithmetic plus O(n^2) accumulator copies — sized for make-series
    outputs (hundreds of bins), not raw-row arrays. a[0] = 0 yields
    nulls via try_divide."""
    fwd = (
        "aggregate(sequence(0, size(__b) - 1), CAST(0 AS DOUBLE),"
        " (s, __k) -> s + IF(__i - __k >= 0,"
        " element_at(__b, __k + 1) * element_at(__y, __i - __k + 1),"
        " CAST(0 AS DOUBLE)))"
    )
    fb = (
        "IF(size(__a) <= 1, CAST(0 AS DOUBLE),"
        " aggregate(sequence(1, size(__a) - 1), CAST(0 AS DOUBLE),"
        " (s, __j) -> s + IF(__i - __j >= 0,"
        " element_at(__a, __j + 1) * element_at(acc, __i - __j + 1),"
        " CAST(0 AS DOUBLE))))"
    )
    step = f"try_divide(({fwd}) - ({fb}), element_at(__a, 1))"
    fold = (
        "aggregate(sequence(0, size(__y) - 1),"
        " CAST(array() AS ARRAY<DOUBLE>),"
        f" (acc, __i) -> concat(acc, array({step})))"
    )
    body = (
        "CASE WHEN __y IS NULL OR size(__y) = 0 OR __b IS NULL"
        " OR size(__b) = 0 OR __a IS NULL OR size(__a) = 0"
        f" THEN __y ELSE {fold} END"
    )
    bound = _bind1(_as_double_array(a_sql), "__a", body)
    bound = _bind1(_as_double_array(b_sql), "__b", bound)
    return _bind1(_as_double_array(y_sql), "__y", bound)


def series_fill_const_sql(y_sql: str, const_sql: str = "0.0") -> str:
    """KQL ``series_fill_const(series, c)``: null elements → c."""
    return (
        f"transform(({y_sql}), __v -> "
        f"coalesce(CAST(__v AS DOUBLE), CAST(({const_sql}) AS DOUBLE)))"
    )


def series_fill_linear_sql(y_sql: str) -> str:
    """KQL ``series_fill_linear(series)``: interior nulls are linearly
    interpolated between the nearest non-null neighbors; edge nulls take
    the nearest non-null value (Kusto's default edge behavior); all-null
    series stay null. Per element the neighbor scan is O(n), so a row
    costs O(n · null_count) — bins are O(100s) in make-series output, so
    this stays trivially cheap and shuffle-free."""
    pq = (
        "named_struct("
        "'p', aggregate(sequence(0, __i), CAST(NULL AS INT), "
        "(a, j) -> IF(element_at(__y, j + 1) IS NOT NULL, CAST(j AS INT), a)), "
        "'q', aggregate(sequence(__i, size(__y) - 1), CAST(NULL AS INT), "
        "(a, j) -> IF(a IS NULL AND element_at(__y, j + 1) IS NOT NULL,"
        " CAST(j AS INT), a)))"
    )
    fill = (
        "CASE "
        "WHEN __pq.p IS NULL AND __pq.q IS NULL THEN CAST(NULL AS DOUBLE) "
        "WHEN __pq.p IS NULL THEN element_at(__y, __pq.q + 1) "
        "WHEN __pq.q IS NULL THEN element_at(__y, __pq.p + 1) "
        "ELSE element_at(__y, __pq.p + 1) "
        "+ (element_at(__y, __pq.q + 1) - element_at(__y, __pq.p + 1)) "
        "* CAST(__i - __pq.p AS DOUBLE) / CAST(__pq.q - __pq.p AS DOUBLE) END"
    )
    per_elem = (
        "CASE WHEN element_at(__y, __i + 1) IS NOT NULL "
        "THEN element_at(__y, __i + 1) "
        f"ELSE {_bind1(pq, '__pq', fill)} END"
    )
    body = (
        "CASE WHEN __y IS NULL OR size(__y) = 0 THEN __y "
        f"ELSE transform(sequence(0, size(__y) - 1), __i -> {per_elem}) END"
    )
    return _bind1(_as_double_array(y_sql), "__y", body)


def series_pearson_correlation_sql(y1_sql: str, y2_sql: str) -> str:
    """KQL ``series_pearson_correlation(s1, s2)`` → double. Both arrays
    bound once; one zipped moment pass (n, Σa, Σb, Σab, Σa², Σb²) and
    the closed form. Arrays must be equal length (Kusto contract; the
    shorter length wins here). Zero variance on either side → 0.0;
    empty → null."""
    moments = (
        "named_struct("
        "'n', CAST(least(size(__a), size(__b)) AS DOUBLE), "
        "'sa', aggregate(sequence(0, least(size(__a), size(__b)) - 1),"
        " CAST(0 AS DOUBLE), (x, i) -> x + element_at(__a, i + 1)), "
        "'sb', aggregate(sequence(0, least(size(__a), size(__b)) - 1),"
        " CAST(0 AS DOUBLE), (x, i) -> x + element_at(__b, i + 1)), "
        "'sab', aggregate(sequence(0, least(size(__a), size(__b)) - 1),"
        " CAST(0 AS DOUBLE), (x, i) -> x + element_at(__a, i + 1) * element_at(__b, i + 1)), "
        "'saa', aggregate(sequence(0, least(size(__a), size(__b)) - 1),"
        " CAST(0 AS DOUBLE), (x, i) -> x + element_at(__a, i + 1) * element_at(__a, i + 1)), "
        "'sbb', aggregate(sequence(0, least(size(__a), size(__b)) - 1),"
        " CAST(0 AS DOUBLE), (x, i) -> x + element_at(__b, i + 1) * element_at(__b, i + 1)))"
    )
    var_a = "(__m.n * __m.saa - __m.sa * __m.sa)"
    var_b = "(__m.n * __m.sbb - __m.sb * __m.sb)"
    corr = (
        f"CASE WHEN {var_a} > 0 AND {var_b} > 0 "
        f"THEN (__m.n * __m.sab - __m.sa * __m.sb) / sqrt({var_a} * {var_b}) "
        "ELSE CAST(0 AS DOUBLE) END"
    )
    body = (
        "CASE WHEN __a IS NULL OR __b IS NULL "
        "OR least(size(__a), size(__b)) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE {_bind1(moments, '__m', corr)} END"
    )
    return _bind1(
        _as_double_array(y1_sql),
        "__a",
        _bind1(_as_double_array(y2_sql), "__b", body),
    )


def _dot_dec(a: str, b: str, n: str) -> str:
    """Σ a[i]·b[i] over the first ``n`` elements as a SEQUENTIAL
    IEEE-754 double left fold (index order). Deterministic and
    cross-engine bit-exact because binary64 mul/add are fully
    specified and the DuckDB twin folds the identical product list in
    the identical order (list_reduce over list(... ORDER BY i)).
    Round-13 fix: the earlier DECIMAL(30,15)-quantized fold was
    order-independent but had an ABSOLUTE 1e-15 quantum, which
    destroyed relative precision for small-magnitude inputs —
    cosine([1.0], [1.19e-7]) came out 1.0075 (Hypothesis find,
    tests/test_series_r13_properties.py::test_vector_ops_cauchy_schwarz)."""
    return (
        f"aggregate(sequence(1, {n}),"
        " CAST(0 AS DOUBLE), (__ac, __i) -> __ac +"
        f" element_at({a}, __i) * element_at({b}, __i))"
    )


def series_dot_product_sql(a_sql: str, b_sql: str) -> str:
    """KQL ``series_dot_product(s1, s2)`` → double. Decimal-exact fold
    over the shorter length (the :func:`series_pearson_correlation_sql`
    length convention); empty/null → null."""
    body = (
        "CASE WHEN __a IS NULL OR __b IS NULL"
        " OR least(size(__a), size(__b)) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE {_dot_dec('__a', '__b', 'least(size(__a), size(__b))')} END"
    )
    return _bind1(
        _as_double_array(a_sql), "__a",
        _bind1(_as_double_array(b_sql), "__b", body),
    )


def series_magnitude_sql(a_sql: str) -> str:
    """KQL ``series_magnitude(series)`` → double L2 norm; empty/null →
    null."""
    body = (
        "CASE WHEN __a IS NULL OR size(__a) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE sqrt({_dot_dec('__a', '__a', 'size(__a)')}) END"
    )
    return _bind1(_as_double_array(a_sql), "__a", body)


def series_cosine_similarity_sql(a_sql: str, b_sql: str) -> str:
    """KQL ``series_cosine_similarity(s1, s2)`` → double. dot /
    (‖a‖·‖b‖) over the shorter length; a zero-magnitude side → null
    via try_divide (dialect note: Kusto's edge value for all-zero
    input is unspecified — null is loud-ish and order-safe);
    empty/null → null."""
    n = "least(size(__a), size(__b))"
    body = (
        f"CASE WHEN __a IS NULL OR __b IS NULL OR {n} = 0"
        " THEN CAST(NULL AS DOUBLE) "
        f"ELSE try_divide({_dot_dec('__a', '__b', n)},"
        f" sqrt({_dot_dec('__a', '__a', n)})"
        f" * sqrt({_dot_dec('__b', '__b', n)})) END"
    )
    return _bind1(
        _as_double_array(a_sql), "__a",
        _bind1(_as_double_array(b_sql), "__b", body),
    )


def _series_fill_directional_sql(y_sql: str, forward: bool) -> str:
    """Shared kernel for fill_forward / fill_backward: null elements
    take the nearest non-null value looking back (forward fill) or
    ahead (backward fill); edge nulls with nothing to copy from stay
    null (Kusto's documented behavior). O(n · null_count) neighbor
    scans like series_fill_linear — sized for make-series bins."""
    if forward:
        pick = (
            "aggregate(sequence(0, __i), CAST(NULL AS INT), "
            "(a, j) -> IF(element_at(__y, j + 1) IS NOT NULL,"
            " CAST(j AS INT), a))"
        )
    else:
        pick = (
            "aggregate(sequence(__i, size(__y) - 1), CAST(NULL AS INT), "
            "(a, j) -> IF(a IS NULL AND element_at(__y, j + 1)"
            " IS NOT NULL, CAST(j AS INT), a))"
        )
    per_elem = (
        "CASE WHEN element_at(__y, __i + 1) IS NOT NULL "
        "THEN element_at(__y, __i + 1) "
        f"ELSE {_bind1(pick, '__p', 'IF(__p IS NULL, CAST(NULL AS DOUBLE), element_at(__y, __p + 1))')} END"
    )
    body = (
        "CASE WHEN __y IS NULL OR size(__y) = 0 THEN __y "
        f"ELSE transform(sequence(0, size(__y) - 1), __i -> {per_elem}) END"
    )
    return _bind1(_as_double_array(y_sql), "__y", body)


def series_fill_forward_sql(y_sql: str) -> str:
    """KQL ``series_fill_forward(series)``: nulls take the last
    preceding non-null value; leading nulls stay null."""
    return _series_fill_directional_sql(y_sql, forward=True)


def series_fill_backward_sql(y_sql: str) -> str:
    """KQL ``series_fill_backward(series)``: nulls take the next
    following non-null value; trailing nulls stay null."""
    return _series_fill_directional_sql(y_sql, forward=False)


def series_seasonal_sql(y_sql: str, period_sql: str = "-1") -> str:
    """KQL ``series_seasonal(series [, period])`` — the repeating
    seasonal pattern: element i = the MEDIAN of all values at phase
    i mod p (Kusto's documented statistic — median, not mean, unlike
    the decompose seasonal component). period = -1 autodetects with
    the same gated top-ACF detector as :func:`series_decompose_sql`
    (dialect: Kusto runs series_periods_detect here; one detector for
    the whole family keeps results self-consistent); no seasonality
    (p ≤ 0) → all zeros. Median of an even-sized class = mean of the
    two middles (quantile_cont at 0.5 — relationally reproducible).
    Expects a FILLED series; empty/null → null."""
    cls = "array_sort(filter(transform(sequence(0, size(__y) - 1)," \
          " __j -> IF(__j % __p = __r, element_at(__y, __j + 1)," \
          " CAST(NULL AS DOUBLE))), __v -> __v IS NOT NULL))"
    # empty class (period > length, or every member null) → null
    # median, NOT an index-0 error — found by the r13 Hypothesis
    # property (tests/test_series_r13_properties.py)
    med = _bind1(
        cls, "__c",
        "CASE WHEN size(__c) = 0 THEN CAST(NULL AS DOUBLE) "
        "WHEN size(__c) % 2 = 1"
        " THEN element_at(__c, CAST(size(__c) DIV 2 AS INT) + 1) "
        "ELSE (element_at(__c, CAST(size(__c) DIV 2 AS INT))"
        " + element_at(__c, CAST(size(__c) DIV 2 AS INT) + 1)) / 2 END",
    )
    meds = f"transform(sequence(0, __p - 1), __r -> {med})"
    body = _bind1(
        _period_expr(period_sql, "__y"), "__p",
        "IF(__p > 0, "
        + _bind1(
            meds, "__m",
            "transform(sequence(0, size(__y) - 1), __i ->"
            " element_at(__m, (__i % __p) + 1))",
        )
        + ", transform(__y, __v -> CAST(0 AS DOUBLE)))",
    )
    guarded = (
        "CASE WHEN __y IS NULL OR size(__y) = 0 THEN __y "
        f"ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y", guarded)


_FIT2_STRUCT_T = (
    "STRUCT<rsquare: DOUBLE, split_idx: INT, variance: DOUBLE,"
    " rvariance: DOUBLE, line_fit: ARRAY<DOUBLE>,"
    " left_slope: DOUBLE, left_interception: DOUBLE,"
    " right_slope: DOUBLE, right_interception: DOUBLE>"
)


def series_fit_2lines_dynamic_sql(y_sql: str) -> str:
    """KQL ``series_fit_2lines_dynamic(series)`` — split the series at
    the index minimizing the summed residual variance of two
    independent line fits (each side fitted on its OWN 0-based axis,
    the :func:`series_fit_line_sql` convention; ``split_idx`` = first
    index of the right segment, each segment ≥ 2 points, ties keep the
    smallest split). Closed-form moments per candidate split from
    bind-once PREFIX arrays (Σy, Σjy up to each index), so the split
    scan is O(n) arithmetic on top of the O(n²)-copy prefix fold (the
    series_iir sizing note). Returns struct(rsquare, split_idx,
    variance, rvariance, line_fit, left_slope, left_interception,
    right_slope, right_interception); n < 4 → null struct.

    RSS identity per segment (m points, local x = 0..m-1):
    RSS = Σy² + m·b² + s²·Σx² + 2bs·Σx − 2b·Σy − 2s·Σxy with
    Σx, Σx² closed forms — exact doubles both engines."""
    # prefix arrays: ps[i] = Σ_{j<=i} y[j], pj[i] = Σ_{j<=i} j*y[j],
    # pq[i] = Σ_{j<=i} y[j]^2   (global j axis)
    mk_pre = (
        "aggregate(sequence(0, size(__y) - 1),"
        " named_struct('s', CAST(array() AS ARRAY<DOUBLE>),"
        " 'j', CAST(array() AS ARRAY<DOUBLE>),"
        " 'q', CAST(array() AS ARRAY<DOUBLE>)),"
        " (acc, __i) -> named_struct("
        "'s', concat(acc.s, array(IF(__i = 0, 0D,"
        " element_at(acc.s, __i)) + element_at(__y, __i + 1))),"
        "'j', concat(acc.j, array(IF(__i = 0, 0D,"
        " element_at(acc.j, __i))"
        " + CAST(__i AS DOUBLE) * element_at(__y, __i + 1))),"
        "'q', concat(acc.q, array(IF(__i = 0, 0D,"
        " element_at(acc.q, __i))"
        " + element_at(__y, __i + 1) * element_at(__y, __i + 1)))))"
    )

    # segment fit from moments (m, sy, sxy_local, syy):
    # slope s, intercept b via the fit_line closed forms; rss via the
    # expanded residual identity
    def seg(m, sy, sxy, syy):
        sx = f"({m} * ({m} - 1) / 2)"
        sxx = f"({m} * ({m} - 1) * (2 * {m} - 1) / 6)"
        den = f"({m} * {sxx} - {sx} * {sx})"
        sl = (
            f"CASE WHEN {den} > 0 THEN ({m} * {sxy} - {sx} * {sy})"
            f" / {den} ELSE CAST(0 AS DOUBLE) END"
        )
        return sl, sx, sxx

    # left segment at split k: m = k, global axis == local axis
    l_sy = "element_at(__pre.s, __k)"
    l_sxy = "element_at(__pre.j, __k)"
    l_syy = "element_at(__pre.q, __k)"
    l_m = "CAST(__k AS DOUBLE)"
    l_sl, l_sx, l_sxx = seg(l_m, l_sy, l_sxy, l_syy)
    # right segment: m = n-k, local x = j-k ->
    # sxy_local = (Jtot - pre.j[k]) - k * (Stot - pre.s[k])
    r_m = "CAST(size(__y) - __k AS DOUBLE)"
    r_sy = "(element_at(__pre.s, size(__y)) - element_at(__pre.s, __k))"
    r_sxy = (
        "((element_at(__pre.j, size(__y)) - element_at(__pre.j, __k))"
        " - CAST(__k AS DOUBLE) * (element_at(__pre.s, size(__y))"
        " - element_at(__pre.s, __k)))"
    )
    r_syy = "(element_at(__pre.q, size(__y)) - element_at(__pre.q, __k))"
    r_sl, r_sx, r_sxx = seg(r_m, r_sy, r_sxy, r_syy)

    def rss(m, sy, sxy, syy, sl, sx, sxx, b):
        return (
            f"({syy} + {m} * {b} * {b} + ({sl}) * ({sl}) * {sxx}"
            f" + 2 * {b} * ({sl}) * {sx} - 2 * {b} * {sy}"
            f" - 2 * ({sl}) * {sxy})"
        )

    l_b = f"(({l_sy} - ({l_sl}) * {l_sx}) / {l_m})"
    r_b = f"(({r_sy} - ({r_sl}) * {r_sx}) / {r_m})"
    tot_rss = (
        rss(l_m, l_sy, l_sxy, l_syy, l_sl, l_sx, l_sxx, l_b)
        + " + "
        + rss(r_m, r_sy, r_sxy, r_syy, r_sl, r_sx, r_sxx, r_b)
    )
    # bind the split's total RSS once per candidate (r13 double-splice
    # audit: codegen CSE deduplicates lambda-internal splices today —
    # see the _acf_best_expr note — but binding makes that a property
    # of the SQL rather than of the optimizer)
    best_step = _bind1(
        f"CAST(({tot_rss}) AS DOUBLE)", "__tr",
        "IF(__tr < acc.r,"
        " named_struct('r', __tr, 'k', CAST(__k AS INT)), acc)",
    )
    # init split = 2 (the first candidate), not 0: with NaN in the
    # input every RSS comparison is false and the init leaks through —
    # the output must stay a VALID split (garbage-in-NaN-out, never an
    # out-of-range index; r13 Hypothesis property)
    best = (
        "aggregate(sequence(2, size(__y) - 2),"
        " named_struct('r', CAST('Infinity' AS DOUBLE), 'k', 2),"
        f" (acc, __k) -> {best_step})"
    )
    # final assembly at the winning split __bk (re-derive the two fits)
    fin_l_sl, fin_l_sx, _ = seg(
        "CAST(__bk.k AS DOUBLE)",
        "element_at(__pre.s, __bk.k)",
        "element_at(__pre.j, __bk.k)",
        "element_at(__pre.q, __bk.k)",
    )
    fin_r_m = "CAST(size(__y) - __bk.k AS DOUBLE)"
    fin_r_sy = (
        "(element_at(__pre.s, size(__y)) - element_at(__pre.s, __bk.k))"
    )
    fin_r_sxy = (
        "((element_at(__pre.j, size(__y)) - element_at(__pre.j, __bk.k))"
        " - CAST(__bk.k AS DOUBLE) * (element_at(__pre.s, size(__y))"
        " - element_at(__pre.s, __bk.k)))"
    )
    fin_r_sl, fin_r_sx, _ = seg(fin_r_m, fin_r_sy, fin_r_sxy, "0D")
    fin_l_b = (
        f"((element_at(__pre.s, __bk.k) - ({fin_l_sl}) * {fin_l_sx})"
        " / CAST(__bk.k AS DOUBLE))"
    )
    fin_r_b = f"(({fin_r_sy} - ({fin_r_sl}) * {fin_r_sx}) / {fin_r_m})"
    variance = (
        "greatest(element_at(__pre.q, size(__y)) / size(__y)"
        " - (element_at(__pre.s, size(__y)) / size(__y))"
        " * (element_at(__pre.s, size(__y)) / size(__y)),"
        " CAST(0 AS DOUBLE))"
    )
    final = (
        "named_struct("
        "'rsquare', CASE WHEN __va > 0 THEN greatest(CAST(0 AS DOUBLE),"
        " 1 - (__bk.r / size(__y)) / __va) ELSE CAST(1 AS DOUBLE) END, "
        "'split_idx', __bk.k, "
        "'variance', __va, "
        "'rvariance', greatest(__bk.r / size(__y), CAST(0 AS DOUBLE)), "
        "'line_fit', transform(sequence(0, size(__y) - 1), __i ->"
        f" IF(__i < __bk.k, ({fin_l_b}) + ({fin_l_sl})"
        " * CAST(__i AS DOUBLE),"
        f" ({fin_r_b}) + ({fin_r_sl}) * CAST(__i - __bk.k AS DOUBLE))), "
        f"'left_slope', {fin_l_sl}, "
        f"'left_interception', {fin_l_b}, "
        f"'right_slope', {fin_r_sl}, "
        f"'right_interception', {fin_r_b})"
    )
    body = _bind1(
        mk_pre, "__pre",
        _bind1(best, "__bk", _bind1(variance, "__va", final)),
    )
    guarded = (
        "CASE WHEN __y IS NULL OR size(__y) < 4"
        f" THEN CAST(NULL AS {_FIT2_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y", guarded)


_POLY_STRUCT_T = (
    "STRUCT<rsquare: DOUBLE, coefficients: ARRAY<DOUBLE>,"
    " variance: DOUBLE, rvariance: DOUBLE, poly_fit: ARRAY<DOUBLE>>"
)


def series_fit_poly_sql(y_sql: str, degree_sql: str = "1") -> str:
    """KQL ``series_fit_poly(series [, degree])`` — least-squares
    polynomial over x = 0..n−1. Dialect subset (documented): degree 1
    (= fit_line) and degree 2 (quadratic via Cramer on the 3×3 normal
    system with Faulhaber power sums — exact closed forms both
    engines); any other degree raises at translate time (the reference
    never calls fit_poly; degrees ≥ 3 need a linear solver, which is a
    numeric-library job, not an array-SQL job). Returns
    struct(rsquare, coefficients [highest power first], variance,
    rvariance, poly_fit); n ≤ degree → null struct."""
    deg = degree_sql.strip()
    if deg not in ("1", "2"):
        raise ValueError(
            "series_fit_poly: only degree 1 or 2 is supported (closed"
            f" forms; documented dialect subset), got {degree_sql!r}"
        )
    if deg == "1":
        inner = series_fit_line_sql("__y0")
        body = _bind1(
            inner, "__f",
            "named_struct("
            "'rsquare', __f.rsquare, "
            "'coefficients', array(__f.slope, __f.interception), "
            "'variance', __f.variance, "
            "'rvariance', __f.rvariance, "
            "'poly_fit', __f.line_fit)",
        )
        guarded = (
            "CASE WHEN __y0 IS NULL OR size(__y0) < 2"
            f" THEN CAST(NULL AS {_POLY_STRUCT_T}) ELSE {body} END"
        )
        return _bind1(_as_double_array(y_sql), "__y0", guarded)
    # degree 2: normal equations  [S0 S1 S2; S1 S2 S3; S2 S3 S4] *
    # [c0 c1 c2]' = [T0 T1 T2]  with Sk = Σ x^k (Faulhaber closed
    # forms), Tk = Σ x^k y — solved by Cramer's rule
    n = "CAST(size(__y0) AS DOUBLE)"
    s1 = f"(({n} - 1) * {n} / 2)"
    s2 = f"(({n} - 1) * {n} * (2 * {n} - 1) / 6)"
    s3 = f"({s1} * {s1})"
    s4 = (
        f"(({n} - 1) * {n} * (2 * {n} - 1)"
        f" * (3 * (({n} - 1) * ({n} - 1)) + 3 * ({n} - 1) - 1) / 30)"
    )
    t0 = "aggregate(__y0, CAST(0 AS DOUBLE), (a, v) -> a + v)"
    t1 = (
        "aggregate(sequence(0, size(__y0) - 1), CAST(0 AS DOUBLE),"
        " (a, i) -> a + CAST(i AS DOUBLE) * element_at(__y0, i + 1))"
    )
    t2 = (
        "aggregate(sequence(0, size(__y0) - 1), CAST(0 AS DOUBLE),"
        " (a, i) -> a + CAST(i AS DOUBLE) * CAST(i AS DOUBLE)"
        " * element_at(__y0, i + 1))"
    )
    mom = (
        f"named_struct('n', {n}, 's1', {s1}, 's2', {s2}, 's3', {s3},"
        f" 's4', {s4}, 't0', {t0}, 't1', {t1}, 't2', {t2})"
    )

    def det3(a, b, c, d, e, f_, g, h, i):
        return (
            f"(({a}) * (({e}) * ({i}) - ({f_}) * ({h}))"
            f" - ({b}) * (({d}) * ({i}) - ({f_}) * ({g}))"
            f" + ({c}) * (({d}) * ({h}) - ({e}) * ({g})))"
        )

    m = ["__m.n", "__m.s1", "__m.s2", "__m.s1", "__m.s2", "__m.s3",
         "__m.s2", "__m.s3", "__m.s4"]
    dmain = det3(*m)
    d0 = det3("__m.t0", m[1], m[2], "__m.t1", m[4], m[5], "__m.t2", m[7], m[8])
    d1 = det3(m[0], "__m.t0", m[2], m[3], "__m.t1", m[5], m[6], "__m.t2", m[8])
    d2 = det3(m[0], m[1], "__m.t0", m[3], m[4], "__m.t1", m[6], m[7], "__m.t2")
    coefs = (
        f"named_struct('c0', try_divide({d0}, {dmain}),"
        f" 'c1', try_divide({d1}, {dmain}),"
        f" 'c2', try_divide({d2}, {dmain}))"
    )
    fit = (
        "transform(sequence(0, size(__y0) - 1), __i -> __c.c0"
        " + __c.c1 * CAST(__i AS DOUBLE)"
        " + __c.c2 * CAST(__i AS DOUBLE) * CAST(__i AS DOUBLE))"
    )
    variance = (
        "greatest(aggregate(__y0, CAST(0 AS DOUBLE), (a, v) -> a + v * v)"
        " / size(__y0) - (__m.t0 / __m.n) * (__m.t0 / __m.n),"
        " CAST(0 AS DOUBLE))"
    )
    rvar = (
        "greatest(aggregate(sequence(0, size(__y0) - 1),"
        " CAST(0 AS DOUBLE), (a, i) -> a + pow(element_at(__y0, i + 1)"
        " - element_at(__ft, i + 1), 2)) / size(__y0),"
        " CAST(0 AS DOUBLE))"
    )
    final = (
        "named_struct("
        "'rsquare', CASE WHEN __va > 0 THEN greatest(CAST(0 AS DOUBLE),"
        " 1 - __rv / __va) ELSE CAST(1 AS DOUBLE) END, "
        "'coefficients', array(__c.c2, __c.c1, __c.c0), "
        "'variance', __va, "
        "'rvariance', __rv, "
        "'poly_fit', __ft)"
    )
    body = _bind1(
        mom, "__m",
        _bind1(
            coefs, "__c",
            _bind1(
                fit, "__ft",
                _bind1(variance, "__va", _bind1(rvar, "__rv", final)),
            ),
        ),
    )
    guarded = (
        "CASE WHEN __y0 IS NULL OR size(__y0) < 3"
        f" THEN CAST(NULL AS {_POLY_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y0", guarded)


_FFT_STRUCT_T = "STRUCT<re: ARRAY<DOUBLE>, im: ARRAY<DOUBLE>>"


def _dft_sql(re_in: str, im_in: str, sign: str, scale: bool) -> str:
    """Shared DFT kernel over bound arrays ``re_in``/``im_in``:
    X_k = Σ_j (r_j + i·m_j) · e^{sign·2πi·jk/n}, optionally scaled by
    1/n (the inverse). The angle is reduced with the EXACT integer
    identity e^{2πi·jk/n} = e^{2πi·((j·k) mod n)/n}, so libm never
    sees a large argument and both engines compute the same
    well-conditioned cos/sin inputs. O(n²) trig per row — the
    autodetect cost class, sized for make-series bins (the documented
    dial: truly long arrays belong in a numeric library offline)."""
    theta = f"(2 * pi() * CAST((__j * __k) % size({re_in}) AS DOUBLE) / size({re_in}))"
    s = "+" if sign == "+" else "-"
    re_term = (
        f"element_at({re_in}, __j + 1) * cos({theta})"
        f" {'-' if s == '+' else '+'} element_at({im_in}, __j + 1) * sin({theta})"
    )
    im_term = (
        f"element_at({im_in}, __j + 1) * cos({theta})"
        f" {'+' if s == '+' else '-'} element_at({re_in}, __j + 1) * sin({theta})"
    )
    div = f" / size({re_in})" if scale else ""
    mk = (
        f"transform(sequence(0, size({re_in}) - 1), __k -> "
        f"named_struct("
        f"'r', aggregate(sequence(0, size({re_in}) - 1), CAST(0 AS DOUBLE),"
        f" (a, __j) -> a + ({re_term})){div}, "
        f"'m', aggregate(sequence(0, size({re_in}) - 1), CAST(0 AS DOUBLE),"
        f" (a, __j) -> a + ({im_term})){div}))"
    )
    # bind the spectrum ONCE — a bare transform({mk}, .r) per struct
    # field would evaluate the whole O(n²) DFT twice
    return _bind1(
        mk, "__dft",
        "named_struct("
        "'re', transform(__dft, __e -> __e.r), "
        "'im', transform(__dft, __e -> __e.m))",
    )


def series_fft_sql(re_sql: str, im_sql: str | None = None) -> str:
    """KQL ``series_fft(x_real [, x_imaginary])`` → struct(re, im)
    (dialect note: Kusto deconstructs into two columns with
    ``(r, i) = series_fft(x)``; this typed dialect returns the struct
    — read ``.re`` / ``.im``). Forward transform, numpy convention
    (X_k = Σ x_j e^{−2πi·jk/n}, no scaling). Implemented as the O(n²)
    DFT in bind-once array SQL rather than a Python FFT: zero UDFs,
    exact cross-engine oracle, same cost class as ACF autodetection
    at make-series sizes. Empty/null → null struct."""
    body = _dft_sql("__fr", "__fi", "-", scale=False)
    imq = (
        _as_double_array(im_sql)
        if im_sql is not None and im_sql.strip()
        else "transform(__fr, __v -> CAST(0 AS DOUBLE))"
    )
    guarded = (
        "CASE WHEN __fr IS NULL OR size(__fr) = 0"
        f" THEN CAST(NULL AS {_FFT_STRUCT_T}) ELSE "
        + _bind1(imq, "__fi", body)
        + " END"
    )
    return _bind1(_as_double_array(re_sql), "__fr", guarded)


def series_ifft_sql(re_sql: str, im_sql: str) -> str:
    """KQL ``series_ifft(x_real, x_imaginary)`` → struct(re, im):
    inverse transform, x_j = (1/n) Σ X_k e^{+2πi·jk/n} — the exact
    round-trip partner of :func:`series_fft_sql`."""
    body = _dft_sql("__fr", "__fi", "+", scale=True)
    guarded = (
        "CASE WHEN __fr IS NULL OR size(__fr) = 0"
        f" THEN CAST(NULL AS {_FFT_STRUCT_T}) ELSE "
        + _bind1(_as_double_array(im_sql), "__fi", body)
        + " END"
    )
    return _bind1(_as_double_array(re_sql), "__fr", guarded)


_DECOMP_STRUCT_T = (
    "STRUCT<anomalies: ARRAY<INT>, score: ARRAY<DOUBLE>,"
    " baseline: ARRAY<DOUBLE>>"
)


def series_decompose_anomalies_sql(
    y_sql: str,
    k_sql: str = "1.5",
    period_sql: str = "0",
    trend: str = "linefit",
) -> str:
    """KQL ``series_decompose_anomalies(series [, threshold [, period
    [, trend]]])`` — baseline from the decomposition model, residuals
    scored by Tukey fences at ``k`` IQRs beyond the residual quartiles
    (linear-interpolated, the quantile_cont convention so a DuckDB
    oracle reproduces it bit-for-bit on coarse data). Default
    ``period = 0`` keeps the original TREND-ONLY baseline (least-squares
    line; Kusto defaults to -1 autodetection — documented deviation
    preserving r8-r11 results); pass a positive period or -1 to score
    against the seasonal baseline of :func:`series_decompose_sql`.
    Returns struct(anomalies −1/0/+1 per bin, score = residual/IQR
    (0 when IQR = 0), baseline). Zero-shuffle array SQL; expects a
    filled series; empty → null struct."""
    # baseline: the cheap fit-line text in the trend-only default, the
    # full decompose kernel otherwise; residual + fences from its
    # sorted copy either way
    if period_sql.strip() == "0" and _check_trend(trend) == "linefit":
        baseline = f"({series_fit_line_sql('__y0')}).line_fit"
    else:
        baseline = (
            f"({series_decompose_sql('__y0', period_sql, trend)}).baseline"
        )
    resid = (
        "transform(sequence(0, size(__y0) - 1), i -> "
        "element_at(__y0, i + 1) - element_at(__bl, i + 1))"
    )
    # linear-interpolated quantile of a SORTED array s at fraction p:
    # pos = (n-1)p, v = s[lo]*(1-frac) + s[lo+1]*frac
    def _q(p: str) -> str:
        pos = f"(CAST(size(__s) - 1 AS DOUBLE) * {p})"
        lo = f"CAST(floor({pos}) AS INT)"
        return (
            f"(element_at(__s, {lo} + 1) * (1 - ({pos} - {lo}))"
            f" + element_at(__s, least({lo} + 2, size(__s))) * ({pos} - {lo}))"
        )

    fences = (
        f"named_struct('q1', {_q('0.25')}, 'q3', {_q('0.75')}, "
        f"'iqr', {_q('0.75')} - {_q('0.25')})"
    )
    final = (
        "named_struct("
        "'anomalies', transform(__r, v -> CASE "
        f"WHEN v > __f.q3 + ({k_sql}) * __f.iqr THEN 1 "
        f"WHEN v < __f.q1 - ({k_sql}) * __f.iqr THEN -1 ELSE 0 END), "
        "'score', transform(__r, v -> "
        "CASE WHEN __f.iqr > 0 THEN v / __f.iqr ELSE CAST(0 AS DOUBLE) END), "
        "'baseline', __bl)"
    )
    body = _bind1(
        baseline,
        "__bl",
        _bind1(
            resid,
            "__r",
            _bind1(
                "array_sort(__r)", "__s", _bind1(fences, "__f", final)
            ),
        ),
    )
    guarded = (
        f"CASE WHEN __y0 IS NULL OR size(__y0) = 0 "
        f"THEN CAST(NULL AS {_DECOMP_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y0", guarded)


_DECOMPOSE_STRUCT_T = (
    "STRUCT<baseline: ARRAY<DOUBLE>, seasonal: ARRAY<DOUBLE>,"
    " trend: ARRAY<DOUBLE>, residual: ARRAY<DOUBLE>>"
)

# dialect seasonality gate for period = -1 autodetection: the top-ACF
# lag is used as the period only when its normalized autocorrelation
# reaches this score (matches the spirit of Kusto's documented
# seasonality_threshold default; the exact detector is unpublished)
_SEASONALITY_THRESHOLD = 0.6


def _acf_best_expr(y: str = "__y") -> str:
    """``named_struct('s', best_score, 'l', best_lag)`` over the bound
    array variable ``y``: normalized autocorrelation
    acf(L) = sum (y[i]-mu)(y[i+L]-mu) / sum (y[i]-mu)^2 for candidate
    lags 2..n/2, ties keep the SMALLEST lag (strict >), constant series
    (variance 0 → null scores) detect nothing. O(n^2/2) per row — sized
    for make-series bins (hundreds), not raw-row arrays."""
    num = (
        f"aggregate(sequence(0, size({y}) - 1 - __L), CAST(0 AS DOUBLE),"
        f" (a, i) -> a + (element_at({y}, i + 1) - __mu)"
        f" * (element_at({y}, i + __L + 1) - __mu))"
    )
    score = f"coalesce(try_divide({num}, __va), CAST(-2 AS DOUBLE))"
    # bind the per-lag score once. NOTE (r13 double-splice audit):
    # an interleaved A/B showed Spark's codegen subexpression
    # elimination ALREADY deduplicated the spliced {score} inside this
    # lambda (old vs bound: equal within noise at 20k x 512), unlike
    # the cross-struct-field case in _dft_sql where binding measurably
    # halved the work — the explicit bind stays because it makes
    # single evaluation a property of the SQL, not of an optimizer
    # behavior the next Spark version may change
    step = _bind1(
        score, "__sc",
        "IF(__sc > acc.s,"
        " named_struct('s', __sc, 'l', CAST(__L AS INT)), acc)",
    )
    fold = (
        f"aggregate(sequence(2, CAST(size({y}) DIV 2 AS INT)),"
        " named_struct('s', CAST(-2 AS DOUBLE), 'l', 0),"
        f" (acc, __L) -> {step})"
    )
    guarded = (
        f"IF(size({y}) >= 4, {fold},"
        " named_struct('s', CAST(-2 AS DOUBLE), 'l', 0))"
    )
    mu = f"aggregate({y}, CAST(0 AS DOUBLE), (a, v) -> a + v) / size({y})"
    va = (
        f"aggregate({y}, CAST(0 AS DOUBLE),"
        " (a, v) -> a + (v - __mu) * (v - __mu))"
    )
    return _bind1(mu, "__mu", _bind1(va, "__va", guarded))


def _period_expr(period_sql: str, y: str = "__y") -> str:
    """Period as an INT expression over the bound array ``y``:
    literal ``-1`` → top-ACF autodetection gated at
    ``_SEASONALITY_THRESHOLD`` (0 when no lag clears it); anything
    else is cast as-is (0 = no seasonality)."""
    if period_sql.strip() == "-1":
        return _bind1(
            _acf_best_expr(y), "__pb",
            f"IF(__pb.s >= {_SEASONALITY_THRESHOLD!r}, __pb.l, 0)",
        )
    return f"CAST(({period_sql}) AS INT)"


def _class_means_expr(d: str = "__d", p: str = "__p") -> str:
    """Per period-class means of the bound detrended array ``d`` with
    bound int period ``p`` (> 0): class r's mean over indices
    j ≡ r (mod p), the count via the closed form (n-1-r) div p + 1
    (exact integers, so a relational COUNT oracle agrees)."""
    return (
        f"transform(sequence(0, {p} - 1), __r ->"
        f" aggregate(sequence(0, size({d}) - 1), CAST(0 AS DOUBLE),"
        f" (a, j) -> a + IF(j % {p} = __r, element_at({d}, j + 1),"
        " CAST(0 AS DOUBLE)))"
        f" / CAST((size({d}) - 1 - __r) DIV {p} + 1 AS DOUBLE))"
    )


def _check_trend(trend: str) -> str:
    t = trend.strip().strip("'").lower()
    if t not in ("linefit", "avg", "none"):
        raise ValueError(
            "series_decompose: trend must be 'linefit', 'avg' or"
            f" 'none', got {trend!r}"
        )
    return t


def series_decompose_sql(
    y_sql: str, period_sql: str = "-1", trend: str = "linefit"
) -> str:
    """KQL ``series_decompose(series [, period [, trend]])`` — one-pass
    seasonal decomposition as bind-once array SQL (zero shuffles, zero
    UDFs). Dialect (documented; Kusto's exact STL variant is
    unpublished): trend FIRST — ``linefit`` (least-squares line, the
    shared :func:`series_fit_line_sql` kernel), ``avg`` (constant
    mean) or ``none`` (zeros) — then the seasonal component as the
    per-period-class MEANS of the detrended series (period > 0;
    period = 0 → zero seasonal; period = -1 → top-ACF lag in [2, n/2]
    gated at score ≥ 0.6, else 0), baseline = trend + seasonal,
    residual = series − baseline. Expects a FILLED series (null
    elements poison the affected sums, like the other series kernels);
    empty/null → null struct. Returns
    struct(baseline, seasonal, trend, residual) — Kusto's output order.

    Reference parity note: the reference's own KQL (daily_eval.py)
    never calls series_decompose; this closes the last mainstream
    Kusto series group absent from the dialect (r11 verdict ask #4)."""
    t = _check_trend(trend)
    if t == "linefit":
        trend_arr = f"({series_fit_line_sql('__y')}).line_fit"
    elif t == "avg":
        trend_arr = _bind1(
            "aggregate(__y, CAST(0 AS DOUBLE), (a, v) -> a + v)"
            " / size(__y)",
            "__mu0",
            "transform(__y, __v -> __mu0)",
        )
    else:
        trend_arr = "transform(__y, __v -> CAST(0 AS DOUBLE))"
    seasonal = (
        "IF(__p > 0, "
        + _bind1(
            _class_means_expr("__d", "__p"), "__cm",
            "transform(sequence(0, size(__y) - 1), __i ->"
            " element_at(__cm, (__i % __p) + 1))",
        )
        + ", transform(__y, __v -> CAST(0 AS DOUBLE)))"
    )
    final = (
        "named_struct("
        "'baseline', __b, "
        "'seasonal', __s, "
        "'trend', __t, "
        "'residual', zip_with(__y, __b, (a, b) -> a - b))"
    )
    body = _bind1(
        trend_arr, "__t",
        _bind1(
            "zip_with(__y, __t, (a, b) -> a - b)", "__d",
            _bind1(
                _period_expr(period_sql, "__y"), "__p",
                _bind1(
                    seasonal, "__s",
                    _bind1(
                        "zip_with(__t, __s, (a, b) -> a + b)", "__b",
                        final,
                    ),
                ),
            ),
        ),
    )
    guarded = (
        "CASE WHEN __y IS NULL OR size(__y) = 0"
        f" THEN CAST(NULL AS {_DECOMPOSE_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y", guarded)


def series_decompose_forecast_sql(
    y_sql: str,
    points_sql: str,
    period_sql: str = "-1",
    trend: str = "linefit",
) -> str:
    """KQL ``series_decompose_forecast(series, points [, period
    [, trend]])`` — fit the decomposition model on the series WITHOUT
    its last ``points`` elements, then emit the model's baseline over
    the FULL length (so the trailing ``points`` positions are true
    out-of-sample forecasts and the prefix is the in-sample baseline —
    Kusto's documented shape). Same dialect components as
    :func:`series_decompose_sql`; the period autodetection (−1) runs
    on the TRAINING prefix only (no peeking at the forecast region).
    Returns an array<double>; an empty training prefix
    (points ≥ length) → null."""
    t = _check_trend(trend)
    if t == "linefit":
        trend_arr = _bind1(
            series_fit_line_sql("__yt"), "__ff",
            "transform(sequence(0, size(__y) - 1), __i ->"
            " __ff.interception + __ff.slope * CAST(__i AS DOUBLE))",
        )
    elif t == "avg":
        trend_arr = _bind1(
            "aggregate(__yt, CAST(0 AS DOUBLE), (a, v) -> a + v)"
            " / size(__yt)",
            "__mu0",
            "transform(sequence(0, size(__y) - 1), __i -> __mu0)",
        )
    else:
        trend_arr = (
            "transform(sequence(0, size(__y) - 1),"
            " __i -> CAST(0 AS DOUBLE))"
        )
    # detrended TRAINING prefix (the trend array covers the full
    # length; the first size(__yt) entries align with the prefix)
    detr = (
        "transform(sequence(0, size(__yt) - 1), __i ->"
        " element_at(__yt, __i + 1) - element_at(__t, __i + 1))"
    )
    seasonal = (
        "IF(__p > 0, "
        + _bind1(
            _class_means_expr("__d", "__p"), "__cm",
            "transform(sequence(0, size(__y) - 1), __i ->"
            " element_at(__cm, (__i % __p) + 1))",
        )
        + ", transform(__y, __v -> CAST(0 AS DOUBLE)))"
    )
    body = _bind1(
        trend_arr, "__t",
        _bind1(
            detr, "__d",
            _bind1(
                _period_expr(period_sql, "__yt"), "__p",
                _bind1(
                    seasonal, "__s",
                    "zip_with(__t, __s, (a, b) -> a + b)",
                ),
            ),
        ),
    )
    guarded = (
        "CASE WHEN __y IS NULL OR size(__y) = 0"
        f" OR size(__yt) <= 0 THEN CAST(NULL AS ARRAY<DOUBLE>)"
        f" ELSE {body} END"
    )
    bound = _bind1(
        # greatest(..., 0): points >= length yields an EMPTY training
        # prefix (-> null result via the guard), not a negative-length
        # slice error
        f"slice(__y, 1, greatest(size(__y)"
        f" - CAST(({points_sql}) AS INT), 0))",
        "__yt",
        guarded,
    )
    return _bind1(_as_double_array(y_sql), "__y", bound)


_PERIODS_STRUCT_T = (
    "STRUCT<periods: ARRAY<DOUBLE>, scores: ARRAY<DOUBLE>>"
)


def series_periods_detect_sql(
    y_sql: str,
    min_p_sql: str = "2",
    max_p_sql: str = "0",
    k_sql: str = "1",
) -> str:
    """KQL ``series_periods_detect(series, min_period, max_period,
    num_periods)`` — top-k candidate periods by normalized
    autocorrelation. Dialect (documented; Kusto's detector is
    unpublished): candidate lags are [max(2, min_period),
    min(max_period, n−1)] (max_period ≤ 0 → n/2), score(L) = acf(L)
    clipped at 0, only lags with score > 0 are returned, ranked score
    DESC then lag ASC, at most ``num_periods`` of them. Deterministic
    and relationally reproducible (ORDER BY score DESC, lag LIMIT k).
    Returns struct(periods array<double>, scores array<double>);
    empty/constant series → empty arrays."""
    num = (
        "aggregate(sequence(0, size(__y) - 1 - __L), CAST(0 AS DOUBLE),"
        " (a, i) -> a + (element_at(__y, i + 1) - __mu)"
        " * (element_at(__y, i + __L + 1) - __mu))"
    )
    score = f"greatest(try_divide({num}, __va), CAST(0 AS DOUBLE))"
    hi = (
        f"CAST(IF(CAST(({max_p_sql}) AS INT) <= 0, size(__y) DIV 2,"
        f" least(CAST(({max_p_sql}) AS INT), size(__y) - 1)) AS INT)"
    )
    lo = f"CAST(greatest(2, CAST(({min_p_sql}) AS INT)) AS INT)"
    # struct sort key: (-score, lag) ascending == score desc, lag asc
    ranked = (
        f"array_sort(transform(__lags, __L -> named_struct("
        f"'negs', -({score}), 'l', CAST(__L AS INT))))"
    )
    top = f"slice(filter({ranked}, __e -> __e.negs < 0), 1, CAST(({k_sql}) AS INT))"
    final = _bind1(
        top, "__tp",
        "named_struct("
        "'periods', transform(__tp, __e -> CAST(__e.l AS DOUBLE)), "
        "'scores', transform(__tp, __e -> -__e.negs))",
    )
    mu = "aggregate(__y, CAST(0 AS DOUBLE), (a, v) -> a + v) / size(__y)"
    va = (
        "aggregate(__y, CAST(0 AS DOUBLE),"
        " (a, v) -> a + (v - __mu) * (v - __mu))"
    )
    lags = f"IF({hi} >= {lo}, sequence({lo}, {hi}), CAST(array() AS ARRAY<INT>))"
    body = _bind1(
        mu, "__mu",
        _bind1(va, "__va", _bind1(lags, "__lags", final)),
    )
    guarded = (
        "CASE WHEN __y IS NULL OR size(__y) = 0"
        f" THEN CAST(NULL AS {_PERIODS_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y", guarded)


def series_periods_validate_sql(y_sql: str, *period_sqls: str) -> str:
    """KQL ``series_periods_validate(series, period1 [, period2 ...])``
    — score the GIVEN candidate periods with the same clipped
    normalized-ACF measure :func:`series_periods_detect_sql` ranks by,
    in input order (Kusto's shape: you propose, it scores). A period
    outside [1, n−1] scores 0; constant series score 0 everywhere.
    Returns struct(periods array<double>, scores array<double>)."""
    if not period_sqls:
        raise ValueError(
            "series_periods_validate needs at least one period argument"
        )
    lags = (
        "array("
        + ", ".join(f"CAST(({p}) AS INT)" for p in period_sqls)
        + ")"
    )
    num = (
        "aggregate(sequence(0, size(__y) - 1 - __L), CAST(0 AS DOUBLE),"
        " (a, i) -> a + (element_at(__y, i + 1) - __mu)"
        " * (element_at(__y, i + __L + 1) - __mu))"
    )
    score = (
        f"IF(__L < 1 OR __L > size(__y) - 1, CAST(0 AS DOUBLE),"
        f" greatest(try_divide({num}, __va), CAST(0 AS DOUBLE)))"
    )
    final = (
        "named_struct("
        f"'periods', transform({lags}, __L -> CAST(__L AS DOUBLE)), "
        f"'scores', transform({lags}, __L -> {score}))"
    )
    mu = "aggregate(__y, CAST(0 AS DOUBLE), (a, v) -> a + v) / size(__y)"
    va = (
        "aggregate(__y, CAST(0 AS DOUBLE),"
        " (a, v) -> a + (v - __mu) * (v - __mu))"
    )
    body = _bind1(mu, "__mu", _bind1(va, "__va", final))
    guarded = (
        "CASE WHEN __y IS NULL OR size(__y) = 0"
        f" THEN CAST(NULL AS {_PERIODS_STRUCT_T}) ELSE {body} END"
    )
    return _bind1(_as_double_array(y_sql), "__y", guarded)


def series_moving_avg_sql(
    y_sql: str, k_sql: str = "3", center_sql: str = "false"
) -> str:
    """KQL-style ``series_moving_avg(series, k [, center])`` — k-point
    moving average with PARTIAL edge windows (window truncates at the
    series bounds, so output[0] of a causal average is just y[0] —
    exactly SQL's ``AVG OVER (ROWS k-1 PRECEDING)``, which is what the
    oracle uses). ``center=true`` places the window symmetrically
    (back = (k-1)//2). Expects a filled series: null elements poison
    their windows (fill first). Empty/null series pass through."""
    k = int(k_sql)
    if k < 1:
        raise ValueError(f"series_moving_avg needs k >= 1, got {k}")
    center = center_sql.strip().lower() == "true"
    back = (k - 1) // 2 if center else k - 1
    fwd = (k - 1) - back if center else 0
    lo = f"greatest(0, __i - {back})"
    hi = f"least(size(__y) - 1, __i + {fwd})"
    win = f"slice(__y, ({lo}) + 1, ({hi}) - ({lo}) + 1)"
    per_elem = _bind1(
        win,
        "__w",
        "aggregate(__w, CAST(0 AS DOUBLE), (a, v) -> a + v) / size(__w)",
    )
    body = (
        "CASE WHEN __y IS NULL OR size(__y) = 0 THEN __y "
        f"ELSE transform(sequence(0, size(__y) - 1), __i -> {per_elem}) END"
    )
    return _bind1(_as_double_array(y_sql), "__y", body)


def series_fit_line(df: DataFrame, series_col: str, out: str = "fit") -> DataFrame:
    """Operator twin of KQL ``series_fit_line_dynamic``: adds a struct
    column with the per-row line fit of ``series_col``."""
    return df.withColumn(out, F.expr(series_fit_line_sql(series_col)))


def series_fill_linear(
    df: DataFrame, series_col: str, out: str | None = None
) -> DataFrame:
    """Operator twin of KQL ``series_fill_linear``: null bins linearly
    interpolated (edges take the nearest value). In-place by default."""
    return df.withColumn(
        out or series_col, F.expr(series_fill_linear_sql(series_col))
    )


def linear_trend(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key least-squares line fit — the Spark-native baseline for
    the reference's per-series forecasting fan-out
    (``stats_forecast_predict.py:513-525`` runs one Ray actor per
    series; here every series fits in ONE map-side-combined aggregate,
    no Python in the loop, any number of series).

    Returns ``keys + n + slope + intercept``. Moment sums accumulate in
    decimal, so results are partition-order-independent; the closed-form
    division happens once per key in double. Degenerate series (single
    point / zero x-variance) yield slope 0 with the mean as intercept.
    """
    moments, slope, intercept = _least_squares(
        f"CAST(`{x_col}` AS DOUBLE)", f"CAST(`{y_col}` AS DOUBLE)"
    )
    return df.groupBy(*keys).agg(*moments).select(
        *keys,
        F.col("__n").cast("long").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def _least_squares(x: str, y: str) -> tuple[list[Column], Column, Column]:
    """Moment aggregates ``__n, __sx, __sy, __sxy, __sxx`` (exact fixed-point
    sums) and the closed-form slope and intercept over them, in double;
    slope 0 when x has no variance."""
    moments = [F.count(F.lit(1)).cast("double").alias("__n")] + [
        exact_sum(e, a)
        for e, a in ((x, "__sx"), (y, "__sy"), (f"{x} * {y}", "__sxy"), (f"{x} * {x}", "__sxx"))
    ]
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    denom = n * F.col("__sxx") - sx * sx
    slope = F.when(denom != 0, (n * F.col("__sxy") - sx * sy) / denom).otherwise(F.lit(0.0))
    return moments, slope, (sy - slope * sx) / n


def forecast_linear(
    trend: DataFrame,
    horizon: int,
    x_start_col: str = "x_next",
    out_x: str = "x",
    out_y: str = "yhat",
) -> DataFrame:
    """Project fitted trends ``horizon`` steps forward: one exploded
    sequence per key (distributed, no driver loop). ``trend`` needs the
    :func:`linear_trend` columns plus ``x_start_col`` — the first x to
    predict (e.g. max observed + 1)."""
    steps = F.explode(F.sequence(F.lit(0), F.lit(horizon - 1))).alias("__h")
    out = trend.select("*", steps).withColumn(
        out_x, F.col(x_start_col) + F.col("__h")
    )
    return out.withColumn(
        out_y, F.col("intercept") + F.col("slope") * F.col(out_x)
    ).drop("__h")


def fit_per_group(
    df: DataFrame,
    keys: list[str],
    fit_fn,
    output_schema: str,
    num_partitions: int | None = None,
):
    """Arbitrary per-series model fitting — the escape hatch when the
    model isn't closed-form (StatsForecast/darts style,
    ``stats_forecast_predict.py``). ``fit_fn(pdf) -> pdf`` runs once
    per key group; keep model state inside the function
    (executor-local), return scalar-sized rows. Dispatched through
    :func:`grouped_apply_packed` (per-group overhead amortized per
    partition, fan-out pinned against AQE byte-coalescing). Prefer
    :func:`linear_trend` where the math reduces to aggregates."""
    return grouped_apply_packed(
        df, list(keys), fit_fn, output_schema, num_partitions=num_partitions
    )


def grouped_apply_packed(
    df: DataFrame,
    keys: list[str],
    fn,
    output_schema: str,
    num_partitions: int | None = None,
):
    """Per-group pandas apply for MANY SMALL GROUPS. Same contract as
    ``groupBy(keys).applyInPandas(fn, schema)`` — ``fn`` sees one
    group's full frame, one output frame per group — but groups are
    co-located with a single hash repartition on the keys and ``fn``
    dispatches inside ONE ``mapInPandas`` pass per partition. Spark's
    grouped-map path pays per-group Python/Arrow dispatch (~ms), which
    dominates when the panel is thousands of sub-hundred-row series;
    packing amortizes it to one call per PARTITION (measured ~15x with
    the pinned fan-out below on the 40k-row / 1.5k-series sf0.1 panel).
    The partition's rows are concatenated in memory before grouping, so
    the pinned partition count must keep partitions executor-sized at
    scale; per-GROUP memory is unchanged. Group order is unspecified,
    exactly like applyInPandas.

    The repartition pins an EXPLICIT partition count
    (``defaultParallelism``): AQE coalesces shuffle partitions by BYTE
    size, and a panel that is small in bytes but expensive per group
    (python per-series work) gets coalesced into one task and runs
    serial — measured exactly that on the sf0.1 panel (40k rows → 1
    post-AQE partition → 1500 series through one python worker).
    Byte-sized coalescing is the right call for JVM relational stages
    and the wrong one for CPU-bound Arrow stages; REPARTITION_BY_NUM is
    exempt from AQE coalescing, so the fan-out holds.

    ``num_partitions`` is the width dial for panels with FEWER groups
    than cores: pinning ``defaultParallelism`` then leaves (cores −
    groups) empty partitions, each still paying a Python round-trip
    (mapInPandas must run the function on empty input — it may emit
    rows). Callers that know their group count should pass
    ``min(defaultParallelism, n_groups)``. Deriving it here by probing
    (``select(keys).distinct().limit(P+1).count()``) was measured at
    0.25–0.9 s per call at sf0.1 — more than the empty-dispatch waste
    it saves — so the default stays the zero-extra-jobs pin."""
    import pandas as pd

    kk = list(keys)

    def run(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        whole = pd.concat(pdfs, ignore_index=True)
        for _, g in whole.groupby(kk, sort=False, dropna=False):
            out = fn(g.reset_index(drop=True))
            if out is not None and len(out):
                yield out

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_parts, *[F.col(k) for k in kk]).mapInPandas(
        run, schema=output_schema
    )


def interpolate_linear(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    out: str | None = None,
) -> DataFrame:
    """Linear interpolation of missing ``y`` over per-key ``x`` order
    (the row-level ``series_fill_linear``): each null gets
    ``prev + (next-prev)·(x-x_prev)/(x_next-x_prev)`` from its nearest
    non-null neighbors; leading/trailing gaps take the nearest value
    (no extrapolation). Two mirrored ignore-nulls windows over ONE
    (keys) shuffle — no self-joins, state O(1) per row."""
    xc, yc = F.col(x_col), F.col(y_col)
    base = Window.partitionBy(*keys).orderBy(xc)
    w_prev = base.rowsBetween(Window.unboundedPreceding, 0)
    w_next = base.rowsBetween(0, Window.unboundedFollowing)
    py = F.last(F.when(yc.isNotNull(), yc), ignorenulls=True).over(w_prev)
    px = F.last(F.when(yc.isNotNull(), xc), ignorenulls=True).over(w_prev)
    ny = F.first(F.when(yc.isNotNull(), yc), ignorenulls=True).over(w_next)
    nx = F.first(F.when(yc.isNotNull(), xc), ignorenulls=True).over(w_next)
    filled = (
        F.when(yc.isNotNull(), yc)
        .when(py.isNull(), ny)
        .when(ny.isNull(), py)
        .otherwise(py + (ny - py) * (xc - px) / (nx - px))
    )
    return df.withColumn(out or y_col, filled)


def seasonal_naive_forecast(
    df: DataFrame,
    keys: list[str],
    ds_col: str,
    y_col: str,
    horizon: int,
    season: int = 7,
    out: str = "yhat",
) -> DataFrame:
    """Seasonal-naive forecast — the standard StatsForecast baseline
    (``stats_forecast_predict.py`` fits SeasonalNaive per series; here
    it is pure relational algebra): for step ``h`` past each series'
    last date, predict the observation at the most recent same-season
    date, ``yhat(T+h) = y(T + h − season·⌈h/season⌉)``.

    One bounds aggregate, a map-side horizon explode (``horizon`` rows
    per key), and ONE equi-join back to history — no per-series loop,
    any number of series. Returns ``keys + ds + yhat`` with ``ds`` as
    timestamp; steps whose seasonal lag falls in a history gap yield
    null (gap-fill first for dense panels)."""
    ds = F.col(ds_col)
    bounds = df.groupBy(*keys).agg(F.max(ds).alias("__maxds"))
    h = F.col("__h")
    lag_back = (F.lit(season) * F.ceil(h / F.lit(season))).cast("int")
    fut = bounds.select(
        *keys,
        "__maxds",
        F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("__h"),
    ).select(
        *keys,
        F.date_add(F.col("__maxds"), h).cast("timestamp").alias("__ds_f"),
        F.date_add(F.date_add(F.col("__maxds"), h), -lag_back)
        .cast("timestamp")
        .alias("__lag_ds"),
    )
    hist = df.select(
        *keys, ds.cast("timestamp").alias("__lag_ds"), F.col(y_col).alias(out)
    )
    return fut.join(hist, [*keys, "__lag_ds"], "left").select(
        *keys, F.col("__ds_f").alias(ds_col), out
    )


def conformal_intervals(
    calib: DataFrame,
    pred: DataFrame,
    keys: list[str],
    y_col: str,
    yhat_col: str,
    alpha: float = 0.1,
    out_lo: str = "lo",
    out_hi: str = "hi",
) -> DataFrame:
    """Split-conformal prediction intervals
    (``ray_air_data_tune_conformal_demo.py`` contract, distributed):
    the per-key ``1−alpha`` quantile of absolute calibration residuals
    becomes the symmetric interval half-width on every prediction row —
    distribution-free coverage from one exact-percentile aggregate and
    one join. Keys with no calibration rows are dropped (no residual
    distribution to calibrate against)."""
    r = F.abs(F.col(y_col) - F.col(yhat_col))
    q = calib.withColumn("__r", r).groupBy(*keys).agg(
        F.expr(f"percentile(__r, {1.0 - alpha})").alias("__q")
    )
    return (
        pred.join(q, keys)
        .withColumn(out_lo, F.col(yhat_col) - F.col("__q"))
        .withColumn(out_hi, F.col(yhat_col) + F.col("__q"))
        .drop("__r", "__q")
    )


def ewma_bands(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    k: float = 3.0,
    span: int = 30,
) -> DataFrame:
    """EWMA control bands for metric monitoring (the analytical core of
    the reference's metric-driven reactions, ``metrics_query.py`` /
    ``synapse_sql_pool_dynamic_scaler.py``: read a metric series, decide
    if the latest points are abnormal): per key and point,

    - ``ewma``  — exponentially weighted mean of the trailing ``span``
      points (weight ``(1−alpha)^distance``, truncated — the standard
      finite-window EWMA),
    - ``sigma`` — plain stddev over the same trailing window,
    - ``lo``/``hi`` = ewma ± k·sigma, and ``is_anomaly`` when the point
      leaves the band built from points BEFORE it (band lags one step so
      the anomaly doesn't mask itself).

    Implemented as a bounded self-join on row-number distance (≤
    ``span``) — exact weights with no overflow for arbitrarily long
    series, O(n·span) intermediate rows on the metric series (already
    aggregate-sized, not fact-sized). The stddev is a plain bounded
    window. Both are DuckDB-reproducible for the oracle."""
    rn_w = Window.partitionBy(*keys).orderBy(order_col)
    s = df.select(
        *keys,
        F.col(order_col),
        F.col(value_col).cast("double").alias("__x"),
    ).withColumn("__rn", F.row_number().over(rn_w))
    t = s.select(
        *[F.col(c).alias(f"t_{c}") for c in keys],
        F.col(order_col).alias("__ord"),
        F.col("__x").alias("__xt"),
        F.col("__rn").alias("__rt"),
    )
    i = s.select(
        *[F.col(c).alias(f"i_{c}") for c in keys],
        F.col("__x").alias("__xi"),
        F.col("__rn").alias("__ri"),
    )
    cond = F.lit(True)
    for c in keys:
        cond = cond & (F.col(f"t_{c}") == F.col(f"i_{c}"))
    # band from PRIOR points only: distance in [1, span]
    cond = cond & (F.col("__ri") >= F.col("__rt") - span) & (
        F.col("__ri") < F.col("__rt")
    )
    wgt = F.pow(F.lit(1.0 - alpha), F.col("__rt") - F.col("__ri"))
    agg = (
        t.join(i, cond, "left")
        .groupBy(*[f"t_{c}" for c in keys], "__ord", "__xt", "__rt")
        .agg(
            (F.sum(F.col("__xi") * wgt) / F.sum(wgt)).alias("ewma"),
            # guard: Spark's stddev_samp of a single point is NaN while
            # SQL engines give NULL — pin the <2-sample case to NULL
            F.when(
                F.count("__xi") >= 2, F.stddev("__xi")
            ).alias("sigma"),
        )
    )
    dev = F.abs(F.col("__xt") - F.col("ewma"))
    return agg.select(
        *[F.col(f"t_{c}").alias(c) for c in keys],
        F.col("__ord").alias(order_col),
        F.col("__xt").alias(value_col),
        "ewma",
        "sigma",
        (F.col("ewma") - k * F.col("sigma")).alias("lo"),
        (F.col("ewma") + k * F.col("sigma")).alias("hi"),
        (
            F.col("sigma").isNotNull() & (dev > k * F.col("sigma"))
        ).alias("is_anomaly"),
    )


def cusum_changepoints(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    slack_k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Two-sided CUSUM change-point detection per series (the classic
    level-shift detector; complements :func:`ewma_bands`, which catches
    point spikes but absorbs slow drifts). The recursion

        ``s⁺ = max(0, s⁺ + (x−μ)/σ − k)``, ``s⁻ = max(0, s⁻ − (x−μ)/σ − k)``

    flags a change when either side exceeds ``h`` and resets after the
    alarm; μ/σ are the series' own mean/std (self-calibrating batch
    form — pass pre-normalized values for a fixed reference).

    The recursive max can't be expressed as a window aggregate, so this
    is the documented per-group pandas escape hatch (same posture as
    :func:`fit_per_group`), packed through :func:`grouped_apply_packed`
    — one shuffle on the series key, a numpy loop per group on the
    executor, O(1) state per step, per-group dispatch amortized per
    partition. Returns the input keys + order + value +
    s_hi/s_lo/is_change."""
    import numpy as np
    import pandas as pd

    kk = list(keys)
    schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.select(*kk, order_col, value_col).schema.fields
        )
        + ", s_hi double, s_lo double, is_change boolean"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        x = pdf[value_col].astype(float).to_numpy()
        mu, sd = float(np.mean(x)), float(np.std(x))
        z = (x - mu) / sd if sd > 0 else np.zeros_like(x)
        s_hi = np.zeros(len(x))
        s_lo = np.zeros(len(x))
        flag = np.zeros(len(x), dtype=bool)
        hi = lo = 0.0
        for i, v in enumerate(z):
            hi = max(0.0, hi + v - slack_k)
            lo = max(0.0, lo - v - slack_k)
            s_hi[i], s_lo[i] = hi, lo
            if hi > h or lo > h:
                flag[i] = True
                hi = lo = 0.0
        out = pdf[[*kk, order_col, value_col]].copy()
        out["s_hi"], out["s_lo"], out["is_change"] = s_hi, s_lo, flag
        return out

    return grouped_apply_packed(
        df.select(*kk, order_col, value_col), kk, fn, schema
    )


def rolling_corr(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    x_col: str,
    y_col: str,
    window: int = 30,
    out: str = "corr",
) -> DataFrame:
    """Trailing-window Pearson correlation between two columns per key
    (the rolling-beta/co-movement monitor): ``corr(x, y)`` over the
    last ``window`` rows ordered by ``order_col``. One window shuffle;
    windows with < 2 points (or zero variance) yield null, matching
    SQL ``CORR`` semantics on both engines."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(window - 1), 0)
    )
    return df.withColumn(out, F.corr(x_col, y_col).over(w))


def new_vs_returning(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    grain: str = "week",
) -> DataFrame:
    """Per-period split of active users into NEW (first-ever period)
    vs RETURNING — the growth-accounting companion to
    :func:`cohort_retention`. One (user, period) dedup aggregate, a
    min-window for the first period, one count aggregate."""
    p = F.date_trunc(grain, F.col(ts_col)).alias("period")
    up = df.select(F.col(id_col), p).distinct()
    first = Window.partitionBy(id_col)
    tagged = up.withColumn(
        "__new", F.col("period") == F.min("period").over(first)
    )
    return tagged.groupBy("period").agg(
        F.sum(F.when(F.col("__new"), 1).otherwise(0)).cast("long").alias("new_users"),
        F.sum(F.when(~F.col("__new"), 1).otherwise(0)).cast("long").alias(
            "returning_users"
        ),
    )


def period_growth(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    grain: str = "week",
) -> DataFrame:
    """Period totals with period-over-period delta and percent change —
    the WoW/MoM growth report: exact fixed-point totals, one lag window
    over the (small) period summary. First period reports null
    delta/pct; a zero prior period reports null pct (no division by
    zero surprises)."""
    p = F.date_trunc(grain, F.col(ts_col)).alias("period")
    tot = df.groupBy(p).agg(
        exact_sum(f"CAST(`{value_col}` AS DOUBLE)", "total")
    )
    w = Window.orderBy("period")
    prev = F.lag("total").over(w)
    return tot.select(
        "period",
        "total",
        (F.col("total") - prev).alias("delta"),
        F.when(prev != 0, (F.col("total") - prev) / prev).alias("pct_change"),
    )


def tenure_survival(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    grain: str = "week",
) -> DataFrame:
    """Discrete survival curve over user tenure: for each tenure length
    k (periods from a user's first to last activity, inclusive), the
    number of users whose span reached AT LEAST k — the retention-curve
    view of churn (monotone non-increasing by construction). One
    (user) aggregate for spans, one explode to tenure steps, one
    count; the explode fan-out is the max span, not the data."""
    p = F.date_trunc(grain, F.col(ts_col))
    spans = df.groupBy(id_col).agg(
        F.min(p).alias("__lo"), F.max(p).alias("__hi")
    )
    unit = {"week": 7 * 86400, "day": 86400}.get(grain)
    if unit is None:
        raise ValueError(f"unsupported grain: {grain}")
    span_len = (
        (F.unix_timestamp("__hi") - F.unix_timestamp("__lo")) / unit
    ).cast("int") + 1
    steps = spans.select(
        F.explode(F.sequence(F.lit(1), span_len)).alias("tenure")
    )
    return (
        steps.groupBy("tenure")
        .agg(F.count("*").cast("long").alias("n_surviving"))
    )


def interarrival_stats(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key inter-arrival (gap) statistics in seconds: count of
    gaps, mean (exact fixed-point), median and p90 (exact percentiles),
    max — the activity-cadence fingerprint behind engagement scoring
    and anomaly baselines. One lag window + one aggregate; keys with a
    single event have no gaps and drop out."""
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(id_col).orderBy(*order)
    # cast-to-double keeps fractional seconds (unix_timestamp truncates
    # to whole seconds and silently zeroes sub-second gaps)
    gap = (
        F.col(ts_col).cast("double")
        - F.lag(ts_col).over(w).cast("double")
    )
    gaps = df.withColumn("__g", gap).filter(F.col("__g").isNotNull())
    return gaps.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.expr(f"{sql_sum('__g')} / COUNT(*)").alias("mean_gap_s"),
        F.expr("percentile(__g, 0.5)").alias("median_gap_s"),
        F.expr("percentile(__g, 0.9)").alias("p90_gap_s"),
        F.max("__g").alias("max_gap_s"),
    )


def activity_heatmap(
    df: DataFrame,
    ts_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the ops-dashboard
    staple: per (ISO dow 1-7, hour 0-23) cell, event count (plus
    exact fixed-point value sum when ``value_col`` given) and the cell's
    share of total. One aggregation pass; the share join is O(168)."""
    dow = F.dayofweek(F.col(ts_col))  # Sun=1; convert to ISO Mon=1
    iso_dow = ((dow + F.lit(5)) % 7 + 1).cast("int")
    cells = df.groupBy(
        iso_dow.alias("dow"), F.hour(F.col(ts_col)).alias("hour")
    ).agg(
        F.count("*").cast("long").alias("n"),
        *(
            [exact_sum(f"CAST(`{value_col}` AS DOUBLE)", "value_sum")]
            if value_col
            else []
        ),
    )
    tot = F.broadcast(cells.agg(F.sum("n").alias("__t")))
    return cells.crossJoin(tot).select(
        "dow",
        "hour",
        "n",
        *(["value_sum"] if value_col else []),
        (F.col("n") / F.col("__t")).alias("share"),
    )


def backtest_models(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    horizon: int = 7,
    eval_points: int = 28,
    season: int = 7,
) -> DataFrame:
    """Rolling-origin backtest of the engine's closed-form forecasters —
    the distributed answer to the reference's per-series tuning fan-out
    (``stats_forecast_tune.py:18-74`` / ``darts_tuner_ensemble_stats.py``
    run one cross-validation job per series on a Ray cluster; here every
    candidate is a WINDOW EXPRESSION, so all series × all models
    backtest in one pass with a single shuffle on the series key).

    For each of the last ``eval_points`` rows of each series, each
    candidate predicts ``horizon`` steps ahead using only rows at lag
    ≥ ``horizon`` (no look-ahead):

    - ``seasonal_naive``: value ``season`` rows back (requires
      ``season >= horizon``);
    - ``trailing_mean``: mean of the training frame;
    - ``linear_trend``: least-squares line over the training frame,
      evaluated at the target row (closed-form from window moment sums
      — the x axis is the in-series row number, exact in doubles).

    Returns long format: ``keys + model + n_eval + mae + smape``.
    Rows where a model has no training history are excluded from that
    model's average (matching StatsForecast, which skips folds shorter
    than the model's minimum history)."""
    assert season >= horizon, "seasonal_naive would look ahead"
    w_ord = Window.partitionBy(*keys).orderBy(order_col)
    w_pre = w_ord.rowsBetween(Window.unboundedPreceding, -horizon)
    w_all = Window.partitionBy(*keys)

    y = F.col(value_col).cast("double")
    base = (
        df.select(*keys, order_col, y.alias("__y"))
        .withColumn("__rn", F.row_number().over(w_ord).cast("double"))
    )
    x, yy = F.col("__rn"), F.col("__y")
    n = F.count(F.lit(1)).over(w_pre).cast("double")
    sx = F.sum(x).over(w_pre)
    sy = F.sum(yy).over(w_pre)
    sxy = F.sum(x * yy).over(w_pre)
    sxx = F.sum(x * x).over(w_pre)
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom).otherwise(F.lit(0.0))
    pred_lin = F.when(n > 0, (sy - slope * sx) / n + slope * x)
    scored = base.select(
        *keys,
        "__y",
        "__rn",
        F.max("__rn").over(w_all).alias("__maxrn"),
        F.avg(yy).over(w_pre).alias("__p_mean"),
        pred_lin.alias("__p_lin"),
        F.lag("__y", season).over(w_ord).alias("__p_snaive"),
    ).filter(F.col("__rn") > F.col("__maxrn") - eval_points)
    long = scored.select(
        *keys,
        "__y",
        F.expr(
            "stack(3, 'seasonal_naive', __p_snaive, 'trailing_mean', __p_mean,"
            " 'linear_trend', __p_lin) AS (model, yhat)"
        ),
    ).filter(F.col("yhat").isNotNull())
    err = F.abs(F.col("yhat") - F.col("__y"))
    sden = F.abs(F.col("__y")) + F.abs(F.col("yhat"))
    sterm = F.when(sden > 0, 2.0 * err / sden).otherwise(F.lit(0.0))
    return long.groupBy(*keys, "model").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.avg(err).alias("mae"),
        F.avg(sterm).alias("smape"),
    )


def select_best_model(
    backtest: DataFrame, keys: list[str], metric: str = "mae"
) -> DataFrame:
    """Per-series winner from a :func:`backtest_models` frame (the
    "tune" step's argmin): lowest ``metric``, model name breaking ties
    deterministically. One window over the series key."""
    w = Window.partitionBy(*keys).orderBy(F.col(metric).asc(), F.col("model").asc())
    return (
        backtest.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def ensemble_forecast(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    horizon: int = 7,
    season: int = 7,
    backtest: DataFrame | None = None,
    metric: str = "mae",
    eps: float = 1e-3,
) -> DataFrame:
    """Inverse-error-weighted ensemble of the closed-form forecasters —
    the reference's forecast-ensembling step
    (``darts_single_runs_ensemble_stats.py`` /
    ``darts_tuner_ensemble_nn.py`` average tuned per-series models; here
    the combination is one aggregate + one explode, no model registry).

    Per series: one grouped aggregate collects the regression moments
    (decimal-accumulated, like :func:`linear_trend`), the trailing mean,
    the last ``season`` values (a bounded map — never the whole series),
    and the last timestamp; ``horizon`` future steps are exploded per
    key. Candidate predictions: seasonal-naive (value ``season`` back,
    null when history is shorter), trailing mean, linear trend. Weights
    are ``1/(metric+eps)`` from a :func:`backtest_models` frame (equal
    weights when ``backtest`` is None; series or models missing from
    the backtest fall back to weight 1); null candidates drop out of
    both numerator and denominator. ``eps`` floors the weight of an
    exactly-zero-error candidate at ``1/eps`` instead of infinity.

    Returns ``keys + k (1..horizon) + ds + yhat_snaive + yhat_mean +
    yhat_linear + yhat`` (the weighted ensemble)."""
    assert season >= horizon, "seasonal_naive would recycle within horizon"
    w_ord = Window.partitionBy(*keys).orderBy(order_col)
    w_all = Window.partitionBy(*keys)
    y = F.col(value_col).cast("double")
    b = (
        df.select(*keys, order_col, y.alias("__y"))
        .withColumn("__rn", F.row_number().over(w_ord))
        .withColumn("__maxrn", F.max("__rn").over(w_all))
    )
    tail = F.when(
        F.col("__rn") > F.col("__maxrn") - season,
        F.struct(F.col("__rn").alias("rn"), F.col("__y").alias("y")),
    )
    moments, slope, intercept = _least_squares("CAST(__rn AS DOUBLE)", "__y")
    agg = b.groupBy(*keys).agg(
        *moments,
        F.max(order_col).alias("__last"),
        F.map_from_entries(F.collect_list(tail)).alias("__tail"),
    )
    e = agg.select(
        *keys,
        "__n",
        "__sy",
        "__last",
        "__tail",
        slope.alias("__slope"),
        intercept.alias("__b0"),
        F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("k"),
    )
    p_sn = F.when(
        F.col("__n") >= season,
        F.element_at(
            F.col("__tail"),
            (F.col("__n") - season + F.col("k")).cast("int"),
        ),
    )
    p_mean = F.col("__sy") / F.col("__n")
    p_lin = F.col("__b0") + F.col("__slope") * (F.col("__n") + F.col("k"))
    e = e.select(
        *keys, "k", "__last",
        p_sn.alias("yhat_snaive"),
        p_mean.alias("yhat_mean"),
        p_lin.alias("yhat_linear"),
    )
    if backtest is not None:
        models = ["seasonal_naive", "trailing_mean", "linear_trend"]
        wt = (
            backtest.groupBy(*keys)
            .pivot("model", models)
            .agg(F.first(metric))
        )
        e = e.join(F.broadcast(wt), keys, "left")
        weights = {
            "yhat_snaive": F.col("seasonal_naive"),
            "yhat_mean": F.col("trailing_mean"),
            "yhat_linear": F.col("linear_trend"),
        }
    else:
        weights = {c: F.lit(None).cast("double")
                   for c in ("yhat_snaive", "yhat_mean", "yhat_linear")}
    num, den = F.lit(0.0), F.lit(0.0)
    for pred_col, m in weights.items():
        w = F.when(m.isNotNull(), 1.0 / (m + eps)).otherwise(F.lit(1.0))
        avail = F.col(pred_col).isNotNull()
        num = num + F.when(avail, w * F.col(pred_col)).otherwise(F.lit(0.0))
        den = den + F.when(avail, w).otherwise(F.lit(0.0))
    return e.select(
        *keys,
        "k",
        F.timestamp_add("DAY", F.col("k"), F.col("__last")).alias("ds"),
        "yhat_snaive",
        "yhat_mean",
        "yhat_linear",
        F.when(den > 0, num / den).alias("yhat"),
    )


def tune_seasonal_period(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    seasons: list[int] = (1, 7, 14, 28),
    eval_points: int = 28,
) -> DataFrame:
    """Hyperparameter grid search, Spark-first: backtest the seasonal-
    naive forecaster at every candidate period in ``seasons`` over every
    series in ONE windowed pass — each candidate is just a ``lag``
    expression, so the whole grid costs the same single shuffle the
    panel sort needs anyway. The distributed form of the reference's
    tuning sweeps (``darts_hyperopt_workflow.py`` /
    ``neural_forecast_tune.py`` schedule one trial per (series, param)
    on a cluster).

    One-step-ahead errors over the last ``eval_points`` rows; returns
    ``keys + season + n_eval + mae``. Chain :func:`select_best_model`
    (metric="mae") after renaming, or take the argmin by season."""
    w_ord = Window.partitionBy(*keys).orderBy(order_col)
    w_all = Window.partitionBy(*keys)
    y = F.col(value_col).cast("double")
    b = (
        df.select(*keys, order_col, y.alias("__y"))
        .withColumn("__rn", F.row_number().over(w_ord))
        .withColumn("__maxrn", F.max(F.col("__rn")).over(w_all))
    )
    preds = b.select(
        *keys,
        "__y",
        "__rn",
        "__maxrn",
        *[
            F.lag("__y", s).over(w_ord).alias(f"__p_{s}")
            for s in seasons
        ],
    ).filter(F.col("__rn") > F.col("__maxrn") - eval_points)
    pairs = ", ".join(f"{s}, __p_{s}" for s in seasons)
    long = preds.select(
        *keys,
        "__y",
        F.expr(f"stack({len(seasons)}, {pairs}) AS (season, yhat)"),
    ).filter(F.col("yhat").isNotNull())
    return long.groupBy(*keys, "season").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.avg(F.abs(F.col("yhat") - F.col("__y"))).alias("mae"),
    )


def mann_kendall_trend(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall trend test per series: exact
    ``S = Σ_{i<j} sign(y_j − y_i)``, tie-corrected variance, the
    continuity-corrected Z statistic, and Kendall's tau-b — the
    nonparametric "is this series monotonically drifting" detector
    (the rank-concordance arithmetic of the reference's Kendall-tau
    ranking metric, ``ray_train_pointwise.py:233-266``, applied to
    time-ordered panels).

    Pair counting is O(n²) per series but embarrassingly parallel
    ACROSS series — one shuffle on the key, a vectorized numpy triangle
    per group, dispatched through :func:`grouped_apply_packed` (same
    escape-hatch posture as :func:`cusum_changepoints`; per-group
    dispatch amortized per partition). For multi-year series swap the
    triangle for a merge-sort inversion count; slate/panel-sized groups
    don't need it."""
    import numpy as np
    import pandas as pd

    kk = list(keys)
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*kk).schema.fields
    )
    schema = (
        key_schema
        + ", n bigint, s_stat bigint, var_s double, z double, tau_b double"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        x = pdf[value_col].astype(float).to_numpy()
        n = len(x)
        diffs = np.sign(x[None, :] - x[:, None])
        s = int(np.triu(diffs, k=1).sum())
        _, counts = np.unique(x, return_counts=True)
        tie_term = float((counts * (counts - 1) * (2 * counts + 5)).sum())
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        if s > 0:
            z = (s - 1) / np.sqrt(var_s) if var_s > 0 else 0.0
        elif s < 0:
            z = (s + 1) / np.sqrt(var_s) if var_s > 0 else 0.0
        else:
            z = 0.0
        half = n * (n - 1) / 2.0
        t_ties = float((counts * (counts - 1) / 2).sum())
        denom = np.sqrt(half * (half - t_ties))
        tau = s / denom if denom > 0 else 0.0
        out = pdf[kk].iloc[:1].copy()
        out["n"], out["s_stat"] = n, s
        out["var_s"], out["z"], out["tau_b"] = var_s, float(z), float(tau)
        return out

    return grouped_apply_packed(
        df.select(*kk, order_col, value_col), kk, fn, schema
    )
