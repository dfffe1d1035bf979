"""Aggregation operators (SURVEY §2.4, §2.6 O5).

Everything is a single declarative ``groupBy().agg`` (map-side partial
aggregation for free) or a two-level agg composition — no UDAFs. The two
reference custom aggregates (entropy A7, zero-fraction A8) decompose into
built-in expressions, so they stay inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.functions.exact import (
    dec,
    exact_sum,
    sql_sum,
    sql_sum_wide,
    wide,
)
from azuredataengineering_deeplearning_spark.sources.readers import local_rows_df


def grouped_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """Group-by with arbitrary aggregate expressions (A1;
    ``count_target_onehot_encoder_spark.py:14-28``)."""
    return df.groupBy(*keys).agg(*aggs)


def global_agg(df: DataFrame, aggs: Sequence[Column]) -> DataFrame:
    """Ungrouped aggregate (A2; ``…:78`` ``df.groupBy().mean(y)``)."""
    return df.agg(*aggs)


def count_distinct_all(
    df: DataFrame, columns: Sequence[str] | None = None, approx: bool = False
) -> DataFrame:
    """Distinct cardinality of every column in one pass (A3;
    ``discover_schema.py:76``). ``approx=True`` switches to HLL sketches —
    the 100 TB path (single scan, no per-column shuffle)."""
    cols = columns or df.columns
    fn = F.approx_count_distinct if approx else F.countDistinct
    return df.agg(*[fn(c).alias(c) for c in cols])


def nunique(df: DataFrame, keys: Sequence[str], column: str, alias: str) -> DataFrame:
    """Per-group count distinct (A4; ``stats_forecast_predict.py:233``)."""
    return df.groupBy(*keys).agg(F.countDistinct(column).alias(alias))


def group_having(
    df: DataFrame, keys: Sequence[str], predicate_on_count
) -> DataFrame:
    """Filter whole groups by group size (A5; ``generate_data.py:57-60``).

    ``predicate_on_count`` maps the count Column to a boolean Column,
    e.g. ``lambda n: n > 5``. Returns surviving rows (not group keys):
    implemented as a windowed count so rows keep flowing without a
    join-back."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return (
        df.withColumn("__gs", n)
        .filter(predicate_on_count(F.col("__gs")))
        .drop("__gs")
    )


def group_size_broadcast(
    df: DataFrame, keys: Sequence[str], alias: str = "group_size"
) -> DataFrame:
    """Attach per-group size to every row (A6 transform('count');
    ``stats_forecast_predict.py:217``)."""
    return df.withColumn(
        alias, F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )


def entropy(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    alias: str = "entropy",
) -> DataFrame:
    """Shannon entropy of the value distribution per group (A7;
    ``generate_data.py:44-50``). Two chained aggregations — counts per
    (keys, value), then ``-Σ p·ln p`` per keys — both with map-side
    partials; no UDAF, no collect."""
    counts = df.groupBy(*keys, value).agg(F.count(F.lit(1)).alias("__n"))
    return (
        counts.withColumn(
            "__p", F.col("__n") / F.sum("__n").over(Window.partitionBy(*keys))
        )
        .groupBy(*keys)
        .agg((-F.sum(F.col("__p") * F.log("__p"))).alias(alias))
    )


def zero_fraction(
    df: DataFrame, keys: Sequence[str], value: str, alias: str = "zero_frac"
) -> DataFrame:
    """Share of zero values per group (A8;
    ``stats_forecast_predict.py:281-294``)."""
    return df.groupBy(*keys).agg(
        (
            F.sum(F.when(F.col(value) == 0, 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias(alias)
    )


def argmax_rows(
    df: DataFrame,
    keys: Sequence[str],
    order: str,
    descending: bool = True,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """One whole row per group at the max (min) of ``order`` — KQL
    ``arg_max(Rev, *)`` (A9; ``daily_eval.py:158``). Window row_number over
    one shuffle; ``tiebreak`` columns (same direction) make the winner
    deterministic."""
    cols = [F.col(order)] + [F.col(t) for t in tiebreak]
    ordering = [c.desc() if descending else c.asc() for c in cols]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def max_string_lengths(df: DataFrame, columns: Sequence[str], headroom: int = 5) -> DataFrame:
    """Max length per string column + headroom, one scan (A13;
    ``databricks_synapse_sql_writer.py:170-175``) — feeds varchar DDL."""
    return df.agg(
        *[(F.max(F.length(F.col(c))) + headroom).alias(c) for c in columns]
    )


def percentiles(
    df: DataFrame,
    column: str,
    probs: Sequence[float] = (0.5, 0.99, 0.999),
    approx: bool = False,
) -> DataFrame:
    """Quantiles of a column (O5; ``prepare_dataset.py:59-63``). Exact
    ``percentile`` for oracle parity; ``approx=True`` uses the
    KLL/GK-sketch ``percentile_approx`` — the 100 TB path."""
    fn = "percentile_approx" if approx else "percentile"
    return df.agg(
        *[
            F.expr(f"{fn}({column}, {p})").alias(f"p{str(p).replace('0.', '')}")
            for p in probs
        ]
    )


def weighted_mean(
    df: DataFrame, keys: Sequence[str], value: str, weight: str, alias: str
) -> DataFrame:
    """Σ(w·x)/Σw per group, order-independent: the per-row double product
    is IEEE-identical everywhere; accumulation is exact fixed-point, the
    products in the widened range (|x·w| < 1e22)."""
    return df.groupBy(*keys).agg(
        F.expr(
            f"{sql_sum_wide(f'`{value}` * `{weight}`')} / {sql_sum(f'`{weight}`')}"
        ).alias(alias)
    )


def weighted_percentile(
    df: DataFrame,
    value: str,
    weight: str,
    probs: Sequence[float],
    keys: Sequence[str] = (),
    prefix: str = "wp",
) -> DataFrame:
    """Weighted percentiles per group (Kusto ``percentilew``): the
    smallest ``value`` whose cumulative ``weight`` (in value order)
    reaches ``p`` of the group's total weight — the lower weighted
    empirical-CDF inverse. One row per group, one column per prob
    (``{prefix}{p*100}_{value}``).

    Plan shape: ONE window pass ordered by ``value`` inside each group
    (cumulative weight; total via the same window unbounded), then a
    conditional-min aggregate per prob — two shuffles total (window +
    groupBy), no per-prob jobs, no collect. Weights accumulate in
    decimal so the crossing point is order-independent (ties in
    ``value`` share a cumulative weight: the window frame is
    RANGE-by-value via rank, so equal values are one CDF step — the
    math a per-row ROWS frame would get wrong on duplicate values)."""
    if not probs:
        raise ValueError("probs must be non-empty")
    keys = list(keys)
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(value).asc())
        wd = dec(f"`{weight}`")
        # the DEFAULT ordered-window frame is RANGE UNBOUNDED
        # PRECEDING .. CURRENT ROW: duplicate values share one
        # cumulative-weight step (ties can't split a CDF step; for the
        # min-crossing pick below a ROWS frame would land on the same
        # value, but per-row CDFs stay meaningful this way)
        cum = F.sum(wd).over(w)
        tot = F.sum(wd).over(
            Window.partitionBy(*keys).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        staged = df.select(
            *keys,
            F.col(value).alias("__v"),
            (cum / tot).alias("__cdf"),
        )
    else:
        # GLOBAL percentile: never an unpartitioned window — the
        # distributed prefix-scan kernel (deterministic-bounds buckets)
        # computes the cumulative weight; the scalar total broadcasts.
        # A ROWS-style prefix over ties picks the same crossing value
        # (all tied rows carry the same __v).
        from azuredataengineering_deeplearning_spark.operators.windows import (
            global_cumsum,
        )

        staged = global_cumsum(
            df.select(F.col(value).alias("__v"), F.col(weight).alias("__w")),
            ["__v"],
            "__w",
            out="__cum",
        )
        # total weight from the SOURCE, not from the cumsum output:
        # `staged` rides the distributed prefix-scan kernel, and a
        # broadcast branch over it would recompute the whole kernel
        # (AQE does not reuse exchanges under broadcast branches) —
        # sum(weights) needs only one plain scan of df
        tot = df.agg(F.sum(dec(f"`{weight}`")).alias("__tot"))
        staged = staged.crossJoin(F.broadcast(tot)).select(
            "__v",
            (dec("__cum") / F.col("__tot")).alias("__cdf"),
        )
    aggs = [
        F.min(F.when(F.col("__cdf") >= p, F.col("__v"))).alias(
            f"{prefix}{str(round(p * 100, 4)).rstrip('0').rstrip('.')}_{value}"
        )
        for p in probs
    ]
    return staged.groupBy(*keys).agg(*aggs) if keys else staged.agg(*aggs)


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order: str,
    k: int,
    descending: bool = True,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Top-k whole rows per group by ``order`` (+ ``rank``) — the
    grouped generalization of :func:`argmax_rows` (k=1) and the
    per-partition analog of the global TakeOrderedAndProject top-k (O4).
    One shuffle on the group keys; rank assignment and the k-filter run
    inside the window pass, so only k rows per group survive the stage
    — no per-group sort materializes beyond the window sorter."""
    cols = [F.col(order)] + [F.col(t) for t in tiebreak]
    ordering = [c.desc() if descending else c.asc() for c in cols]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def quantile_buckets(
    df: DataFrame,
    column: str,
    n_buckets: int = 10,
    keys: Sequence[str] | None = None,
    tiebreak: Sequence[str] = (),
    out: str = "bucket",
) -> DataFrame:
    """Equal-frequency bucketing (``ntile``): assign each row its
    quantile bucket of ``column``, optionally per group — the curriculum
    /difficulty-tier primitive (e.g. quality-score deciles feeding a
    staged training mix). ``tiebreak`` columns make bucket assignment
    deterministic under ties. One window shuffle on the grouping keys;
    with no keys the tiling routes through
    :func:`~azuredataengineering_deeplearning_spark.operators.windows.global_ntile`
    (deterministic-bounds buckets + literal offsets; lazy tiling) — never an
    unpartitioned ``ntile`` window, which would sort the whole frame
    through one task. :func:`bucket_by_bounds` (map-only at fixed
    boundaries) remains the cheapest path when approximate edges do.

    The no-keys path inherits :func:`global_row_number`'s DETERMINISM
    PRECONDITION: a nondeterministic input plan (``rand()``/``sample``/
    un-ordered ``limit``) must be pinned with ``localCheckpoint`` first
    — the kernel's eager count jobs and lazy tiling scan it twice."""
    if keys:
        w = Window.partitionBy(*keys).orderBy(column, *tiebreak)
        return df.withColumn(out, F.ntile(n_buckets).over(w))
    from azuredataengineering_deeplearning_spark.operators.windows import global_ntile

    return global_ntile(df, [column, *tiebreak], n_buckets, out=out)


def bucket_by_bounds(
    df: DataFrame,
    column: str,
    bounds: Sequence[float],
    out: str = "bucket",
) -> DataFrame:
    """The scale path for quantile bucketing: cut at precomputed
    boundaries (e.g. from ``percentiles(approx=True)``) — a pure
    map-side CASE chain, no window, no shuffle. ``bounds`` are the
    right-exclusive upper edges of buckets 0..len(bounds)-1; values
    ≥ the last bound land in bucket len(bounds)."""
    expr = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        expr = F.when(F.col(column) < F.lit(bounds[i]), i).otherwise(expr)
    return df.withColumn(out, expr.cast("int"))


def hll_cardinality(
    df: DataFrame,
    keys: Sequence[str],
    column: str,
    alias: str = "approx_distinct",
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    ``hll_sketch_agg``): per-group cardinality whose *sketches* can be
    unioned across shards/days (``hll_union_agg``) without rescanning —
    the incremental-rollup pattern exact countDistinct can't do. Returns
    the estimate; keep :func:`sketch_cardinality` frames for reuse."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col(column), F.lit(lg_k))).alias(alias)
    )


def sketch_cardinality(
    df: DataFrame,
    keys: Sequence[str],
    column: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HLL sketch binaries (store these per partition/day;
    union with ``F.hll_union_agg`` then ``F.hll_sketch_estimate`` for
    any rollup grain later — scan once, roll up forever)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(column), F.lit(lg_k)).alias("hll_sketch")
    )


def histogram(
    df: DataFrame,
    column: str,
    n_bins: int,
    lo: float,
    hi: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Fixed-width histogram in one aggregate scan: (keys..., bin,
    bin_lo, n) for ``n_bins`` equal buckets over [lo, hi); values
    outside clamp to the edge bins. Map-side combine makes this
    O(keys x bins) shuffle rows — the profiling histogram at any scale,
    per segment when ``keys`` are given."""
    w = (hi - lo) / n_bins
    raw = F.floor((F.col(column) - lo) / w).cast("int")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.select(*keys, b.alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("n"))
        .select(*keys, "bin", (F.lit(lo) + F.col("bin") * w).alias("bin_lo"), "n")
    )


def rfm_segments(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 4,
    asof=None,
) -> DataFrame:
    """RFM segmentation: per entity, recency (days since last activity,
    relative to ``asof`` or the corpus max), frequency (activity count)
    and monetary (total amount), each quantile-coded 1..n (higher =
    better: more recent / more frequent / higher spend).

    Scale shape: one raw-table aggregate, then the per-entity frame
    only. The corpus-max date is a scalar aggregate cross-broadcast
    back (never an unpartitioned ``max`` window), and each score is a
    :func:`~azuredataengineering_deeplearning_spark.operators.windows.global_ntile`
    — range-partition + broadcast-offset row numbers + the SQL tile
    formula — never ``ntile`` over an unpartitioned window, which would
    serialize every distinct customer through one task at 100-TB
    interaction scale. Three bucket shuffles of the entity frame total; each
    ``global_ntile`` runs two cheap O(buckets) jobs at call time and
    tiles lazily at action."""
    from azuredataengineering_deeplearning_spark.operators.windows import global_ntile

    per = df.groupBy(id_col).agg(
        F.max(F.col(ts_col).cast("date")).alias("__last"),
        F.count("*").alias("frequency"),
        exact_sum(f"`{amount_col}`", "monetary"),
    )
    if asof is not None:
        per = per.withColumn(
            "recency_days", F.datediff(F.lit(asof).cast("date"), F.col("__last"))
        )
    else:
        # derive the as-of anchor from the SOURCE, not from `per`:
        # a broadcast branch over the per-key aggregate would recompute
        # its groupBy (no AQE exchange reuse under broadcast branches);
        # max(date) needs only a plain scan
        mx = df.agg(F.max(F.col(ts_col).cast("date")).alias("__mx"))
        per = per.crossJoin(F.broadcast(mx)).withColumn(
            "recency_days", F.datediff(F.col("__mx"), F.col("__last"))
        ).drop("__mx")
    per = per.select(id_col, "recency_days", "frequency", "monetary")
    scored = global_ntile(
        per, [F.col("recency_days").desc(), F.col(id_col)], n_tiles, out="r_score"
    )  # fewer days -> higher tile
    scored = global_ntile(
        scored, [F.col("frequency").asc(), F.col(id_col)], n_tiles, out="f_score"
    )
    scored = global_ntile(
        scored, [F.col("monetary").asc(), F.col(id_col)], n_tiles, out="m_score"
    )
    return scored.select(
        id_col, "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


def cms_build(
    df: DataFrame,
    column: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch of a column's value frequencies — the mergeable
    companion to the HLL cardinality sketches: ``depth × width`` counter
    cells as a DataFrame (``row_i, cell, cnt``), built in one map-side-
    combined aggregate over an exploded depth-array. Merge daily/shard
    sketches with :func:`cms_merge` (sum cells) instead of rescanning
    100 TB; query point frequencies with :func:`cms_estimate`
    (min over rows, classic overestimate-only error ≤ e·N/width with
    prob 1-(1/e)^depth)."""
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row_i"),
                F.pmod(F.xxhash64(F.col(column), F.lit(i)), F.lit(width)).alias("cell"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("rc"))
        .groupBy(F.col("rc.row_i").alias("row_i"), F.col("rc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(sketches: Sequence[DataFrame]) -> DataFrame:
    """Merge count-min sketches built with identical (depth, width):
    cell-wise sum. Exactly the property that makes per-partition /
    per-day sketches composable without touching row data."""
    from functools import reduce

    u = reduce(DataFrame.unionByName, sketches)
    return u.groupBy("row_i", "cell").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    column: str,
    depth: int = 4,
    width: int = 1024,
    alias: str = "est_cnt",
) -> DataFrame:
    """Point-frequency estimates for ``items.column``: recompute each
    item's depth cells, join the sketch (broadcast — it is at most
    depth×width rows), take the min over rows. Missing cells count 0."""
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row_i"),
                F.pmod(F.xxhash64(F.col(column), F.lit(i)), F.lit(width)).alias("cell"),
            )
            for i in range(depth)
        ]
    )
    probed = items.select(column, F.explode(rows).alias("rc")).select(
        column, F.col("rc.row_i").alias("row_i"), F.col("rc.cell").alias("cell")
    )
    joined = probed.join(F.broadcast(sketch), ["row_i", "cell"], "left").withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0))
    )
    return joined.groupBy(column).agg(F.min("cnt").cast("long").alias(alias))


def histogram_quantiles(
    hist: DataFrame,
    quantiles: Sequence[float],
    n_bins: int,
    lo: float,
    hi: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Approximate quantiles from a :func:`histogram` — the mergeable
    percentile path: histograms from shards/days merge by bin-count sum
    (same posture as the HLL/CMS sketches), then any quantile reads off
    the cumulative distribution with linear interpolation inside the
    bucket. Error ≤ one bucket width; O(bins) work.

    Returns one row per requested quantile (per key group when ``keys``
    are given): (keys..., q, estimate). The histogram table is
    O(keys x bins), so the window/cross-joins here never touch fact
    rows; it is persisted because totals, the cumulative window, and the
    q=0 backfill each consume it — without the pin every consumer
    re-aggregates the fact table (this build's AQE does not reuse
    exchanges under broadcast branches)."""
    keys = list(keys)
    hist = hist.persist()
    w = (hi - lo) / n_bins
    win = (
        Window.partitionBy(*keys).orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
        if keys
        else Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    )
    qdf = F.broadcast(
        local_rows_df(hist.sparkSession, [(float(q),) for q in quantiles], "q double")
    )
    totals = (
        hist.groupBy(*keys).agg(F.sum("n").alias("total"))
        if keys
        else hist.agg(F.sum("n").alias("total"))
    )
    cum = hist.withColumn("cum_before", F.coalesce(F.sum("n").over(win), F.lit(0))).crossJoin(qdf)
    cum = cum.join(F.broadcast(totals), keys) if keys else cum.crossJoin(F.broadcast(totals))
    need = F.col("q") * F.col("total")
    inside = (F.col("cum_before") < need) & (
        need <= F.col("cum_before") + F.col("n")
    )
    est = F.col("bin_lo") + ((need - F.col("cum_before")) / F.col("n")) * F.lit(w)
    # The per-bin (cum_before, cum_before + n] intervals partition
    # (0, total], so AT MOST one bin is `inside` per (keys, q) — one
    # aggregate picks it, and groups with none (q = 0, or empty buckets
    # before the first) clamp to the domain floor. This replaces the
    # former filter + distinct + anti-join + union backfill (four extra
    # jobs per run over the cached histogram) with a single aggregate;
    # identical rows: same estimate expression on the unique inside bin,
    # same `lo` fallback for the same missing (keys, q) universe.
    return cum.groupBy(*keys, "q").agg(
        F.coalesce(
            F.min(F.when(inside, est)), F.lit(float(lo))
        ).alias("estimate")
    )


def ab_welch(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    arm_a,
    arm_b,
) -> DataFrame:
    """Two-sample A/B comparison with Welch's unequal-variance t
    statistic — the experiment-readout aggregate: one conditional-
    aggregation pass over the facts emits n/mean/variance per arm, the
    lift, its standard error, the t statistic, and the
    Welch–Satterthwaite degrees of freedom. (The caller maps t and dof
    to a p-value; neither engine exposes erf in SQL, and the statistic
    is the distributed part.)

    Moments accumulate in fixed point (order-independent), so the
    emitted doubles are bit-identical across engines and partitionings."""
    x = F.col(metric_col).cast("double")
    in_a = F.col(group_col) == arm_a
    in_b = F.col(group_col) == arm_b
    arms = df.select(
        F.when(in_a, 1).otherwise(0).alias("__na"),
        F.when(in_a, x).alias("__xa"),
        F.when(in_b, 1).otherwise(0).alias("__nb"),
        F.when(in_b, x).alias("__xb"),
    )
    agg = arms.agg(
        F.sum("__na").alias("n_a"),
        exact_sum("__xa", "__sa"),
        exact_sum("__xa * __xa", "__ssa"),
        F.sum("__nb").alias("n_b"),
        exact_sum("__xb", "__sb"),
        exact_sum("__xb * __xb", "__ssb"),
    )
    ma = F.col("__sa") / F.col("n_a")
    mb = F.col("__sb") / F.col("n_b")
    va = (F.col("__ssa") - ma * ma * F.col("n_a")) / (F.col("n_a") - 1)
    vb = (F.col("__ssb") - mb * mb * F.col("n_b")) / (F.col("n_b") - 1)
    qa, qb = va / F.col("n_a"), vb / F.col("n_b")
    se = F.sqrt(qa + qb)
    dof = (qa + qb) * (qa + qb) / (
        qa * qa / (F.col("n_a") - 1) + qb * qb / (F.col("n_b") - 1)
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        (ma - mb).alias("lift"),
        se.alias("se"),
        ((ma - mb) / se).alias("t_stat"),
        dof.alias("dof"),
    )


def concentration(
    df: DataFrame,
    keys: Sequence[str],
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Concentration metrics of a measure across units within each
    group — the BI inequality panel: Gini coefficient (rank-weighted
    exact form over units sorted ascending), Herfindahl–Hirschman index
    (Σ share²), and the largest unit's share. One aggregate to unit
    grain, one window rank per group, one closing aggregate; decimal
    accumulation keeps the doubles engine-exact.

        ``gini = 2·Σ(rank·xᵢ) / (n·Σx) − (n+1)/n``

    Groups with a single unit report gini 0. Negative measures are the
    caller's problem (Gini assumes non-negative)."""
    units = df.groupBy(*keys, unit_col).agg(
        F.sum(dec(f"CAST(`{value_col}` AS DOUBLE)")).alias("__x")
    )
    w = Window.partitionBy(*keys).orderBy(F.col("__x").asc(), F.col(unit_col).asc())
    ranked = units.withColumn("__r", F.row_number().over(w))
    return (
        ranked.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum("__x").cast("double").alias("total"),
            F.sum(F.col("__r") * F.col("__x")).cast("double").alias("__rx"),
            F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__xx"),
            F.max("__x").cast("double").alias("__mx"),
        )
        .select(
            *keys,
            "n_units",
            "total",
            F.when(
                F.col("n_units") > 1,
                2 * F.col("__rx") / (F.col("n_units") * F.col("total"))
                - (F.col("n_units") + 1) / F.col("n_units"),
            )
            .otherwise(0.0)
            .alias("gini"),
            (F.col("__xx") / (F.col("total") * F.col("total"))).alias("hhi"),
            (F.col("__mx") / F.col("total")).alias("top_share"),
        )
    )


def abc_classification(
    df: DataFrame,
    keys: Sequence[str],
    unit_col: str,
    value_col: str,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """ABC / Pareto classification of units within each group: sort
    units by measure descending, class A while the RUNNING share (of
    rows strictly before, so the first unit is always A and a class
    never starts past its cut) is below ``a_cut``, B below ``b_cut``,
    else C — the inventory/revenue 80-15-5 split. One unit-grain
    aggregate + one window per group; decimal-exact shares."""
    units = df.groupBy(*keys, unit_col).agg(
        F.sum(dec(f"CAST(`{value_col}` AS DOUBLE)")).alias("__x")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__x").desc(), F.col(unit_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot_w = Window.partitionBy(*keys)
    before = F.coalesce(F.sum("__x").over(w), wide(F.lit(0)))
    # divide as doubles-of-exact-sums (not decimal division, whose
    # result scale rounds BEFORE the cast) so shares match any engine
    # computing double division of the same exact numerators
    share_before = before.cast("double") / F.sum("__x").over(tot_w).cast("double")
    cls = (
        F.when(share_before < a_cut, "A")
        .when(share_before < b_cut, "B")
        .otherwise("C")
    )
    return units.select(
        *keys,
        F.col(unit_col),
        F.col("__x").cast("double").alias("value"),
        share_before.alias("share_before"),
        cls.alias("abc_class"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Market-basket association rules over (basket, item) rows:
    support, confidence and lift for ordered item pairs —

        ``conf(a→b) = n(ab)/n(a)``, ``lift = conf · N / n(b)``

    with n(·) basket counts and N total baskets. The pair space is the
    within-basket self-join on DISTINCT items (quadratic in basket
    size — bounded by the largest basket, not the data; cap or sample
    pathological baskets upstream). Both marginals join the pinned
    pair table; output is the ``top_k`` rules with pair support ≥
    ``min_pair_support``, ordered by lift (pair tiebreak)."""
    b = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    n_baskets = b.select("__b").distinct().count()  # scalar, bounded
    item_n = b.groupBy("__i").agg(F.count("*").alias("n_item"))
    left = b.select("__b", F.col("__i").alias("item_a"))
    right = b.select("__b", F.col("__i").alias("item_b"))
    pairs = (
        left.join(right, "__b")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"))
        .persist()  # both marginals join it
    )
    na = item_n.select(F.col("__i").alias("item_a"), F.col("n_item").alias("n_a"))
    nb = item_n.select(F.col("__i").alias("item_b"), F.col("n_item").alias("n_b"))
    conf = F.col("n_ab") / F.col("n_a")
    lift = conf * F.lit(float(n_baskets)) / F.col("n_b")
    return (
        pairs.filter(F.col("n_ab") >= min_pair_support)
        .join(na, "item_a")
        .join(nb, "item_b")
        .select(
            "item_a",
            "item_b",
            "n_ab",
            (F.col("n_ab") / F.lit(float(n_baskets))).alias("support"),
            conf.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "item_a", "item_b")
        .limit(top_k)
    )


def group_mode(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    out: str = "mode",
) -> DataFrame:
    """Statistical mode per group with a DETERMINISTIC tiebreak
    (smallest value wins) — unlike ``F.mode``, whose tie winner is
    partition-order-dependent and therefore not oracle-checkable. Two
    chained aggregates + one row_number window over the (keys, value)
    count frame."""
    counts = df.filter(F.col(value).isNotNull()).groupBy(*keys, value).agg(
        F.count("*").alias("__n")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("__n").desc(), F.col(value).asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keys, F.col(value).alias(out), F.col("__n").alias("mode_count"))
    )


def mad_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    k: float = 3.0,
    scale: float = 1.4826,
) -> DataFrame:
    """Robust outlier flags via Median Absolute Deviation: per group,
    ``median`` and ``MAD = median(|x − median|)``; a row is an outlier
    when ``|x − median| > k · scale · MAD`` (1.4826 makes MAD σ-
    consistent under normality). Immune to the outliers it hunts —
    unlike z-scores, whose mean/σ the outliers drag. Two exact-
    percentile aggregates + two broadcast-friendly joins; zero-MAD
    groups (over half the values identical) flag any deviation."""
    med = df.groupBy(*keys).agg(
        F.expr(f"percentile({value}, 0.5)").alias("__med")
    )
    with_med = df.join(med, list(keys))
    mad = (
        with_med.withColumn("__ad", F.abs(F.col(value) - F.col("__med")))
        .groupBy(*keys)
        .agg(F.expr("percentile(__ad, 0.5)").alias("__mad"))
    )
    return (
        with_med.join(mad, list(keys))
        .withColumn(
            "is_outlier",
            F.abs(F.col(value) - F.col("__med"))
            > F.lit(k) * F.lit(scale) * F.col("__mad"),
        )
        .withColumnRenamed("__med", "median")
        .withColumnRenamed("__mad", "mad")
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cramér's V association between two categorical columns —
    chi-square over the contingency table normalized to [0, 1]:

        ``V = sqrt( χ² / (n · (min(r, c) − 1)) )``

    The EDA screen for 'are these columns related'. One contingency
    aggregate (r×c rows), marginals derived from it, expected counts
    under independence, one closing aggregate. Rows with a null in
    either column are excluded (no category to attribute them to)."""
    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    )
    ct = base.groupBy(col_a, col_b).agg(F.count("*").alias("n_ab")).persist()
    ra = ct.groupBy(col_a).agg(F.sum("n_ab").alias("n_a"))
    cb = ct.groupBy(col_b).agg(F.sum("n_ab").alias("n_b"))
    tot = F.broadcast(
        ct.agg(
            F.sum("n_ab").alias("__n"),
            F.countDistinct(col_a).alias("__r"),
            F.countDistinct(col_b).alias("__c"),
        )
    )
    # dense grid so zero cells contribute their expected mass
    grid = ra.crossJoin(cb).join(ct, [col_a, col_b], "left").crossJoin(tot)
    exp = F.col("n_a") * F.col("n_b") / F.col("__n")
    obs = F.coalesce(F.col("n_ab"), F.lit(0))
    chi = (obs - exp) * (obs - exp) / exp
    return grid.agg(
        F.sqrt(
            F.sum(chi)
            / (F.max("__n") * (F.least(F.max("__r"), F.max("__c")) - 1))
        ).alias("cramers_v"),
        F.sum(chi).alias("chi2"),
        F.max("__n").cast("long").alias("n"),
    )


def eta_squared(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """η² (correlation ratio): the numeric↔categorical association —
    between-group sum of squares over total sum of squares, the ANOVA
    effect size completing the EDA trio (CORR for num↔num,
    :func:`cramers_v` for cat↔cat). Exact fixed-point moments per group,
    grand stats derived from the (small) per-group frame — ONE scan.
    0 = group means identical, 1 = value determined by group."""
    x = f"CAST(`{value_col}` AS DOUBLE)"
    g = (
        df.filter(F.col(value_col).cast("double").isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_g"),
            exact_sum(x, "s_g"),
            F.expr(sql_sum_wide(f"{x} * {x}", "ss_g")),
        )
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.expr(sql_sum_wide("s_g", "s")),
        F.expr(sql_sum_wide("ss_g", "ss")),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("bss_raw"),
    )
    grand_mean = F.col("s") / F.col("n")
    ss_total = F.col("ss") - grand_mean * grand_mean * F.col("n")
    ss_between = F.col("bss_raw") - grand_mean * grand_mean * F.col("n")
    return tot.select(
        (ss_between / ss_total).alias("eta_squared"),
        F.col("n").cast("long").alias("n"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    ``MI = Σ p(a,b) · ln( p(a,b) / (p(a)·p(b)) )`` over observed cells
    (empty cells contribute 0 by the 0·ln0 convention, so no dense
    grid needed, unlike :func:`cramers_v`'s chi-square). The feature-
    selection screen: how many nats knowing A tells you about B. Also
    emits the normalized variant MI/min(H(A), H(B)) ∈ [0, 1]."""
    # ONE aggregate pass over the contingency table (|A|x|B| cells —
    # tiny by the categorical contract): marginals come from two
    # windows partitioned over the cell frame, the grand total from a
    # broadcast 1-row cross join, and BOTH entropies fold into the same
    # cell-level sum using sum_b n_ab = n_a (a cell contributes
    # (n_ab/n)·ln(n_a/n) to H(A), summing to the marginal form exactly).
    # Replaces the previous persist + 4-branch join shape — same math,
    # one action, ~2x faster at every SF.
    base = df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    ct = base.groupBy(col_a, col_b).agg(F.count("*").alias("n_ab"))
    tot = F.broadcast(ct.agg(F.sum("n_ab").alias("__n")))
    cells = (
        ct.withColumn("n_a", F.sum("n_ab").over(Window.partitionBy(col_a)))
        .withColumn("n_b", F.sum("n_ab").over(Window.partitionBy(col_b)))
        .crossJoin(tot)
    )
    p_ab = F.col("n_ab") / F.col("__n")
    mi_term = p_ab * F.log(
        (F.col("n_ab") * F.col("__n")) / (F.col("n_a") * F.col("n_b"))
    )
    h_a_term = -p_ab * F.log(F.col("n_a") / F.col("__n"))
    h_b_term = -p_ab * F.log(F.col("n_b") / F.col("__n"))
    return cells.agg(
        F.sum(mi_term).alias("mi"),
        F.sum(h_a_term).alias("h_a"),
        F.sum(h_b_term).alias("h_b"),
    ).select(
        "mi",
        (F.col("mi") / F.least("h_a", "h_b")).alias("mi_normalized"),
        "h_a",
        "h_b",
    )


def ks_two_sample(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic:
    ``D = max_x |F_a(x) − F_b(x)|`` over the pooled observed values —
    the distribution-equality test pairing with :func:`psi` (which
    quantizes) and :func:`ab_welch` (means only). Per distinct pooled
    value, cumulative counts from both samples — distributed via
    ``_ordered_running_sums`` (deterministic quantile-bounds buckets +
    literal-array offsets, ml.py), never a single-task global window:
    for continuous measures distinct cardinality ≈ row count, so the
    old one-partition CDF window was the rfm-class bottleneck. The
    bounds/totals jobs run on the pooled RAW union (indicator columns,
    O(buckets) groups), so the distinct-value aggregate runs once; the
    sample sizes ride the totals collect for free. Eager bounds/totals
    jobs at call time; the CDF frame stays lazy."""
    a = df_a.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    b = df_b.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    counts = (
        a.groupBy("v").agg(F.count("*").alias("ca"))
        .join(
            b.groupBy("v").agg(F.count("*").alias("cb")),
            "v",
            "full",
        )
        .select(
            "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    from azuredataengineering_deeplearning_spark.operators.ml import (
        _ordered_running_sums,
    )

    pooled = a.select(
        "v", F.lit(1.0).alias("__ia"), F.lit(0.0).alias("__ib")
    ).unionByName(
        b.select("v", F.lit(0.0).alias("__ia"), F.lit(1.0).alias("__ib"))
    )
    cum, tot = _ordered_running_sums(
        counts, "v", ["ca", "cb"], ascending=True,
        raw=(pooled, F.col("v"), {"ca": F.col("__ia"), "cb": F.col("__ib")}),
    )
    na, nb = tot["ca"], tot["cb"]
    return (
        cum.withColumn(
            "__d",
            F.abs(F.col("__cum_ca") / F.lit(na) - F.col("__cum_cb") / F.lit(nb)),
        )
        .agg(F.max("__d").alias("ks_d"))
        .select(
            "ks_d",
            F.lit(int(na)).cast("long").alias("n_a"),
            F.lit(int(nb)).cast("long").alias("n_b"),
        )
    )


def powerlaw_alpha(
    df: DataFrame,
    value_col: str,
    x_min: float,
) -> DataFrame:
    """Power-law tail exponent by the continuous MLE (Hill estimator):

        ``α = 1 + n / Σ ln(xᵢ / x_min)``  over values ≥ ``x_min``

    with the standard error ``(α−1)/√n`` — the heavy-tail screen for
    degree/frequency/size distributions (word counts, per-user event
    counts, file sizes). One filtered aggregate; choose ``x_min`` from
    the histogram knee."""
    x = F.col(value_col).cast("double")
    tail = df.filter(x >= x_min)
    return tail.agg(
        F.count("*").cast("long").alias("n_tail"),
        (
            F.lit(1.0)
            + F.count("*") / F.sum(F.log(x / F.lit(float(x_min))))
        ).alias("alpha"),
        (
            (F.count("*") / F.sum(F.log(x / F.lit(float(x_min)))))
            / F.sqrt(F.count("*"))
        ).alias("alpha_se"),
    )
