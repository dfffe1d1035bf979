"""Feature encoders and scalers (SURVEY §2.5 W8, §2.10 D7-D9).

Fit/transform split: ``fit_*`` returns a small mapping DataFrame (the
"model" — category stats, fold aggregates, scaler moments); ``apply``
is a broadcast join or a pure projection. Nothing ever collects row
data; the model frames are O(categories).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.functions.exact import exact_avg, exact_sum


def count_encode(
    df: DataFrame, column: str, out: str | None = None
) -> DataFrame:
    """Count encoder (``count_target_onehot_encoder_spark.py:14-28``):
    category → occurrence count, broadcast-joined back."""
    counts = df.groupBy(column).agg(F.count(F.lit(1)).alias(out or f"{column}_count"))
    return df.join(F.broadcast(counts), [column], "left")


def target_encode_oof(
    df: DataFrame,
    column: str,
    target: str,
    fold: str,
    smoothing: float = 20.0,
    out: str | None = None,
) -> DataFrame:
    """Out-of-fold smoothed target encoding (W8;
    ``count_target_onehot_encoder_spark.py:52-86``): each row's encoding
    uses every fold but its own — global per-category (sum, count) minus
    the row's fold contribution, smoothed toward the global prior:
    ``(sum_other + prior·m) / (count_other + m)``. Two aggregates + two
    broadcast joins; no window, no leakage."""
    out = out or f"{column}_te"
    g = df.groupBy(column).agg(
        exact_sum(f"`{target}`", "__gs"), F.count(target).alias("__gc")
    )
    f_ = df.groupBy(column, fold).agg(
        exact_sum(f"`{target}`", "__fs"), F.count(target).alias("__fc")
    )
    prior = df.agg(
        exact_avg(f"`{target}`", "p")
    ).collect()[0].p
    joined = df.join(F.broadcast(g), [column], "left").join(
        F.broadcast(f_), [column, fold], "left"
    )
    enc = (
        (F.col("__gs") - F.col("__fs") + F.lit(prior) * smoothing)
        / ((F.col("__gc") - F.col("__fc")).cast("double") + F.lit(smoothing))
    )
    return joined.withColumn(out, enc).drop("__gs", "__gc", "__fs", "__fc")


def onehot_encode(
    df: DataFrame,
    column: str,
    categories: Sequence[str] | None = None,
    max_categories: int = 10_000,
) -> DataFrame:
    """One-hot to tinyint columns
    (``count_target_onehot_encoder_spark.py:182-193`` vector→column
    explode, without the Spark-ML detour). ``categories`` pins the
    output schema; inferred (sorted) otherwise.

    Inference collects the distinct values to the driver, so it is
    guarded: more than ``max_categories`` distinct values raises
    instead of OOM-ing the driver (one-hot over a high-cardinality
    column is the wrong encoding anyway — use hashing or ordinal).
    Pass explicit ``categories`` to skip the inference entirely."""
    if categories is None:
        # limit(cap+1): the guard never pulls more than cap+1 rows,
        # whatever the true cardinality
        distinct = [
            r[0]
            for r in df.select(column)
            .filter(F.col(column).isNotNull())
            .distinct()
            .limit(max_categories + 1)
            .collect()
        ]
        if len(distinct) > max_categories:
            raise ValueError(
                f"onehot_encode({column!r}): more than {max_categories} "
                f"distinct values; one-hot would create that many columns "
                f"and the inference collect would not be driver-safe. "
                f"Pass explicit `categories`, raise `max_categories`, or "
                f"use hashing/ordinal encoding for high-cardinality keys."
            )
        categories = sorted(distinct)
    return df.withColumns(
        {
            f"{column}_{c}": (F.col(column) == c).cast("tinyint")
            for c in categories
        }
    )


def fit_ordinal(df: DataFrame, column: str) -> DataFrame:
    """D8 fit: value → code 1..N by sorted value (0 reserved for
    padding, deterministic unlike first-appearance order;
    ``generate_data.py:1104-1151``).

    The rank over the distinct-value frame is distributed via the
    surrogate-key pattern (deterministic-bounds buckets + literal
    offsets, scd.py/windows.py) rather than an unpartitioned ``dense_rank`` — for
    near-unique key-like columns distinct cardinality ≈ row count and
    a global-window rank would serialize onto one task. Values are
    distinct here, so rank ≡ row number."""
    from azuredataengineering_deeplearning_spark.operators.scd import with_surrogate_key

    distinct = (
        df.select(column).distinct().filter(F.col(column).isNotNull())
    )
    keyed = with_surrogate_key(distinct, [column], out="__code", start=1)
    return keyed.withColumn("__code", F.col("__code").cast("int"))


def apply_ordinal(
    df: DataFrame, mapping: DataFrame, column: str, out: str | None = None
) -> DataFrame:
    """D8 transform: unseen categories → N+1, NULL → 0 (padding)."""
    n = mapping.count()
    joined = df.join(F.broadcast(mapping), [column], "left")
    code = (
        F.when(F.col(column).isNull(), 0)
        .when(F.col("__code").isNull(), n + 1)
        .otherwise(F.col("__code"))
    )
    return joined.withColumn(out or f"{column}_ord", code.cast("int")).drop("__code")


def fit_scaler(
    df: DataFrame, columns: Sequence[str], strategy: str = "standard"
) -> dict[str, tuple[float, float]]:
    """D9 fit: per-column (center, scale) — mean/std for ``standard``,
    min/range for ``minmax``, median/1 for ``median_impute``. One
    aggregate, scalar result."""
    aggs = []
    for c in columns:
        if strategy == "standard":
            aggs += [F.avg(c).alias(f"a_{c}"), F.stddev_samp(c).alias(f"b_{c}")]
        elif strategy == "minmax":
            aggs += [F.min(c).alias(f"a_{c}"), F.max(c).alias(f"b_{c}")]
        elif strategy == "median":
            aggs += [
                F.expr(f"percentile({c}, 0.5)").alias(f"a_{c}"),
                F.lit(1.0).alias(f"b_{c}"),
            ]
        else:
            raise ValueError(strategy)
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"a_{c}"], row[f"b_{c}"]) for c in columns}


def apply_scaler(
    df: DataFrame,
    model: dict[str, tuple[float, float]],
    strategy: str = "standard",
    suffix: str = "_scaled",
) -> DataFrame:
    """D9 transform in one projection; fit-on-train / apply-to-all
    (``generate_data.py:1192-1220``)."""
    exprs = {}
    for c, (a, b) in model.items():
        if strategy == "standard":
            exprs[f"{c}{suffix}"] = (F.col(c) - F.lit(a)) / F.lit(b)
        elif strategy == "minmax":
            exprs[f"{c}{suffix}"] = (F.col(c) - F.lit(a)) / (F.lit(b) - F.lit(a))
        elif strategy == "median":
            exprs[f"{c}{suffix}"] = F.coalesce(F.col(c), F.lit(a))
    return df.withColumns(exprs)


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col,
    n_buckets: int = 10,
    tiebreak: str | None = None,
) -> DataFrame:
    """Decile lift table — the model-evaluation staple: rank rows by
    score descending into ``n_buckets`` equal-frequency tiers, then per
    tier report size, positives, response rate, cumulative capture of
    all positives, and lift vs the base rate. ``label_col`` is a
    boolean Column (or name). One distributed ntile + one aggregate +
    an O(buckets) cumulative window. ``tiebreak`` pins tier assignment
    under score ties. Tiering goes through
    :func:`~azuredataengineering_deeplearning_spark.operators.windows.global_ntile`
    (range-partition + broadcast-offset row numbers), never an
    unpartitioned ``ntile`` window — full-population score frames are
    row-scale, and a global window would sort them through one task.
    Two cheap O(buckets) jobs run at call time; the tiering itself is
    lazy. For map-only bucketing at fixed boundaries use
    `aggregates.bucket_by_bounds`."""
    from pyspark.sql import Window

    from azuredataengineering_deeplearning_spark.operators.windows import global_ntile

    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    order = [F.col(score_col).desc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    proj = [lbl.cast("int").alias("__y"), F.col(score_col)] + (
        [F.col(tiebreak)] if tiebreak else []
    )
    tiers = global_ntile(df.select(*proj), order, n_buckets, out="bucket").select(
        "__y", "bucket"
    )
    agg = tiers.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__y").cast("long").alias("positives"),
    )
    tot = F.broadcast(
        agg.agg(
            F.sum("n").alias("__n"), F.sum("positives").alias("__p")
        )
    )
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.crossJoin(tot)
        .withColumn("rate", F.col("positives") / F.col("n"))
        .withColumn(
            "cum_capture", F.sum("positives").over(cum) / F.col("__p")
        )
        .withColumn(
            "lift",
            (F.col("positives") / F.col("n"))
            / (F.col("__p") / F.col("__n")),
        )
        .select("bucket", "n", "positives", "rate", "cum_capture", "lift")
    )


def quantile_transform(
    df: DataFrame,
    keys,
    value: str,
    out: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Empirical-CDF (rank-uniform) transform per group: each value maps
    to its ``percent_rank`` in [0, 1] — the distribution-free
    normalization that makes heavy-tailed features comparable across
    groups (the feature-engineering sibling of the scalers). One window
    shuffle on the group keys; ``tiebreak`` pins ranks under equal
    values (without it, SQL percent_rank already gives ties equal
    rank, which is deterministic — pass a tiebreak only when you want
    strict ordering).

    With EMPTY ``keys`` the rank is global, and a bare
    ``Window.orderBy`` would funnel the frame through one task — so
    the global path computes ``rank(v) = 1 + #rows below v`` over the
    per-distinct-value counts via ``_ordered_running_sums``
    (deterministic buckets, parallel windows), exactly matching SQL
    ``percent_rank`` tie semantics; a ``tiebreak`` instead routes
    through ``global_row_number`` (strict total order)."""
    from pyspark.sql import Window

    out = out or f"{value}_q"
    keys = list(keys)
    order = [F.col(value).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    if keys:
        w = Window.partitionBy(*keys).orderBy(*order)
        return df.withColumn(out, F.percent_rank().over(w))
    if tiebreak:
        from azuredataengineering_deeplearning_spark.operators.windows import (
            _global_row_number_total,
        )

        numbered, total = _global_row_number_total(df, order, "__qrn", None)
        return numbered.withColumn(
            out, (F.col("__qrn") - 1) / F.lit(max(total - 1, 1))
        ).drop("__qrn")
    from azuredataengineering_deeplearning_spark.operators.ml import (
        _ordered_running_sums,
    )

    counts = df.groupBy(F.col(value).alias("__v")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    cum, tot = _ordered_running_sums(
        counts, "__v", ["__c"], ascending=True,
        raw=(df, F.col(value), {"__c": F.lit(1.0)}),
    )
    total = tot["__c"]
    ranks = cum.select(
        "__v",
        ((F.col("__cum___c") - F.col("__c")) / F.lit(max(total - 1, 1.0))).alias(out),
    )
    # Null-safe equi-join: a plain join on `value` would drop the NULL
    # group (NULL never equals NULL in a join key), leaving NULL ranks
    # for null inputs while the keyed percent_rank path ranks NULLs
    # first — eqNullSafe attaches the null group's computed cum rank so
    # both paths agree.
    return df.join(
        ranks, F.col(value).eqNullSafe(F.col("__v")), "left"
    ).drop("__v")
