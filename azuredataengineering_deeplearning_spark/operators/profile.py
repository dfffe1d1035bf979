"""Profiling-driven schema operators (P7/P10; reference
``DataEngineering/DataBricks/discover_schema.py``).

Both profilers run ONE aggregate over the data (all columns in a single
pass, map-side combined), collect a scalar-sized result to the driver,
and derive a plan (casts / classifications) applied as one projection —
the 100 TB-safe shape: never per-column jobs, never row data on the
driver.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.sources.readers import local_rows_df

_INT_BOUNDS = [
    ("tinyint", -128, 127),
    ("smallint", -32768, 32767),
    ("int", -2147483648, 2147483647),
    ("bigint", -(2**63), 2**63 - 1),
]


def plan_shrink_types(df: DataFrame, columns: Sequence[str] | None = None) -> dict[str, str]:
    """P7 planning: smallest integer type per column by observed min/max
    (``discover_schema.py:40-48`` downcast discipline). One aggregate."""
    num_cols = columns or [
        f.name for f in df.schema.fields
        if f.dataType.simpleString() in ("int", "bigint", "smallint", "long", "integer")
    ]
    if not num_cols:
        return {}
    row = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in num_cols],
        *[F.max(c).alias(f"hi_{c}") for c in num_cols],
    ).collect()[0]
    plan: dict[str, str] = {}
    for c in num_cols:
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None:  # all-NULL column → smallest type
            plan[c] = "tinyint"
            continue
        for t, tlo, thi in _INT_BOUNDS:
            if lo >= tlo and hi <= thi:
                plan[c] = t
                break
    return plan


def shrink_types(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """P7: apply the downcast plan in one projection (cuts shuffle width
    — the reference's motivation for the whole exercise)."""
    plan = plan_shrink_types(df, columns)
    return df.withColumns({c: F.col(c).cast(t) for c, t in plan.items()})


def classify_columns(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    categorical_ratio: float = 0.05,
) -> DataFrame:
    """P10: binary / categorical / continuous classification by
    cardinality (``discover_schema.py:76-106``: binary = 2 distinct,
    categorical when distinct/rows < ratio). Returns a tiny DataFrame
    (column, n_distinct, n_rows, class) built from one aggregate —
    swap ``approx_count_distinct`` in at scale."""
    cols = columns or df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.countDistinct(c).alias(c) for c in cols],
    ).collect()[0]
    n = row["__n"]
    spark = df.sparkSession
    data = []
    for c in cols:
        d = row[c]
        if d <= 2:
            cls = "binary"
        elif d / max(n, 1) < categorical_ratio:
            cls = "categorical"
        else:
            cls = "continuous"
        data.append((c, d, n, cls))
    return local_rows_df(
        spark, data, "column string, n_distinct bigint, n_rows bigint, class string"
    )


def with_expectations(
    df: DataFrame,
    checks: Mapping[str, Column],
    out: str = "violations",
) -> DataFrame:
    """Row-level data-quality expectations (the DLT-expectations shape):
    attach an array of failed check names per row. NULL check results
    count as failures (an expectation you can't evaluate didn't pass).
    Pure map-side expression — audit without a second scan."""
    failed = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in sorted(checks.items())
    ]
    return df.withColumn(
        out, F.filter(F.array(*failed), lambda x: x.isNotNull())
    )


def quarantine_split(
    df: DataFrame,
    checks: Mapping[str, Column],
) -> tuple[DataFrame, DataFrame]:
    """Route rows by expectations: (good, quarantined). Good rows pass
    every check; quarantined rows keep the ``violations`` array for
    triage. Both sides derive from one expectations projection — at
    scale write them in one pass via partitionBy on a pass/fail flag
    rather than two filtered writes."""
    flagged = with_expectations(df, checks)
    good = flagged.filter(F.size("violations") == 0).drop("violations")
    bad = flagged.filter(F.size("violations") > 0)
    return good, bad


def expectation_metrics(
    df: DataFrame,
    checks: Mapping[str, Column],
) -> DataFrame:
    """Per-check pass rates in one aggregate scan: (check, n_failed,
    fail_rate) — the quality dashboard feed."""
    total = F.count(F.lit(1))
    aggs = []
    for name, cond in sorted(checks.items()):
        failed = F.sum(F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0))
        aggs.append(failed.alias(f"__f_{name}"))
    wide = df.agg(total.alias("__n"), *aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(name).alias("check"),
            F.col(f"__f_{name}").alias("n_failed"),
            (F.col(f"__f_{name}") / F.col("__n")).alias("fail_rate"),
        )
        for name in sorted(checks)
    ])
    return wide.select(F.explode(pairs).alias("e")).select(
        "e.check", "e.n_failed", "e.fail_rate"
    )


def key_skew_profile(
    df: DataFrame,
    keys: Sequence[str],
    top_n: int = 20,
) -> DataFrame:
    """Key-distribution diagnosis for shuffle planning: the heavy
    hitters of ``keys`` plus global skew statistics.

    Returns ``keys + cnt + rank + share + skew_ratio`` for the top-N
    keys (deterministic tie-break on the key values). ``skew_ratio`` =
    max_key_count / mean_key_count — >10 says "salt this window / let
    AQE split this join" (the ``salt_cumsum.py`` situation); ``share``
    near 1.0 on one key says "broadcast everything else".

    Shape at scale: one groupBy over the keys (map-side combined), a
    scalar global aggregate, and TakeOrderedAndProject for the top-N —
    no global window over the counts table.
    """
    from pyspark.sql import Window

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
        F.max("cnt").alias("__max_cnt"),
    )
    order = [F.col("cnt").desc(), *[F.col(k).asc() for k in keys]]
    top = counts.orderBy(*order).limit(top_n)
    # rank over the already-limited (tiny) frame — not over all keys
    ranked = top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    return ranked.crossJoin(F.broadcast(stats)).select(
        *keys,
        "cnt",
        "rank",
        (F.col("cnt").cast("double") / F.col("__total")).alias("share"),
        (
            F.col("__max_cnt").cast("double")
            * F.col("__n_keys")
            / F.col("__total")
        ).alias("skew_ratio"),
    )


_NUMERIC_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "integer", "long", "short", "byte",
}


def profile_table(
    df: DataFrame,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """One-pass table profile (the ETL landing report): per column —
    row count, nulls, exact distincts, numeric min/max/mean (exact
    fixed-point), string min/max. ONE aggregate over all columns
    (map-side combined), then a map-only explode to long format — never
    a per-column job, the same single-scan discipline as
    ``discover_schema.py``'s profilers. Swap ``approx_count_distinct``
    in for the distinct counts at extreme cardinalities."""
    from azuredataengineering_deeplearning_spark.functions.exact import sql_avg

    cols = list(columns or df.columns)
    types = dict(df.dtypes)
    aggs, structs = [], []
    for c in cols:
        is_num = types[c] in _NUMERIC_TYPES
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
        ]
        if is_num:
            aggs += [
                F.min(c).cast("double").alias(f"__lo_{c}"),
                F.max(c).cast("double").alias(f"__hi_{c}"),
                F.expr(sql_avg(f"CAST(`{c}` AS DOUBLE)", f"`__mean_{c}`")),
            ]
        elif types[c] == "string":
            aggs += [
                F.min(c).alias(f"__slo_{c}"),
                F.max(c).alias(f"__shi_{c}"),
            ]
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").alias("n"),
                F.col(f"__nn_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                (F.col(f"__lo_{c}") if is_num else F.lit(None).cast("double")).alias("min_num"),
                (F.col(f"__hi_{c}") if is_num else F.lit(None).cast("double")).alias("max_num"),
                (F.col(f"__mean_{c}") if is_num else F.lit(None).cast("double")).alias("mean"),
                (F.col(f"__slo_{c}") if types[c] == "string" else F.lit(None).cast("string")).alias("min_str"),
                (F.col(f"__shi_{c}") if types[c] == "string" else F.lit(None).cast("string")).alias("max_str"),
            )
        )
    wide = df.agg(*aggs)
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def psi(
    base: DataFrame,
    new: DataFrame,
    column: str,
    bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index — THE tabular drift metric between a
    baseline and a new snapshot of a numeric column:

        ``PSI = Σ_bins (p_new − p_base) · ln(p_new / p_base)``

    with bin edges = the BASE period's exact quantiles (so the baseline
    distributes ~uniformly across bins and drift shows as mass moving
    between them) and add-``smoothing`` counts so empty bins never
    produce log(0). Rule of thumb: <0.1 stable, 0.1–0.25 drifting,
    >0.25 shifted.

    Shape: one exact-percentile aggregate on base (edges are
    O(bins) scalars on the driver — the bounded-collect pattern), one
    map-only bucket assignment + count per side, one O(bins) join.
    Returns a single row (psi, n_base, n_new)."""
    probs = [i / bins for i in range(1, bins)]
    edges = (
        base.agg(
            F.expr(
                f"percentile({column}, array({', '.join(str(p) for p in probs)}))"
            ).alias("__e")
        ).collect()[0]["__e"]
    )
    earr = F.array(*[F.lit(float(e)) for e in edges])

    def bucketed(df):
        b = F.size(F.filter(earr, lambda e: F.col(column) > e))
        return (
            df.filter(F.col(column).isNotNull())
            .select(b.alias("__b"))
            .groupBy("__b")
            .agg(F.count("*").alias("c"))
        )

    cb = bucketed(base).select(F.col("__b"), F.col("c").alias("cb"))
    cn = bucketed(new).select(F.col("__b"), F.col("c").alias("cn"))
    spark = base.sparkSession
    grid = spark.range(bins).select(F.col("id").cast("int").alias("__b"))
    sm = F.lit(float(smoothing))
    joined = (
        grid.join(cb, "__b", "left")
        .join(cn, "__b", "left")
        .select(
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    tot = joined.agg(
        F.sum("cb").alias("nb"), F.sum("cn").alias("nn")
    ).collect()[0]
    nb, nn = tot["nb"], tot["nn"]
    p = (F.col("cb") + sm) / (nb + sm * bins)
    q = (F.col("cn") + sm) / (nn + sm * bins)
    return joined.agg(
        F.sum((q - p) * F.log(q / p)).alias("psi"),
        F.lit(nb).cast("long").alias("n_base"),
        F.lit(nn).cast("long").alias("n_new"),
    )
