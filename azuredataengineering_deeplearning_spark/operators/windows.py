"""Window / ordered-feature operators (SURVEY §2.5 W1-W12, §2.4 A10).

Scale notes: every operator here is one shuffle on its partition keys.
The skew killer is the *salted* cumulative sum — an ordered window over a
hot key serializes onto one task; salting splits the key's timeline into
buckets, computes within-bucket running sums in parallel, then adds the
(tiny) per-bucket totals via a second two-level window. AQE fixes skewed
*joins* but not skewed *windows*, so this stays a first-class operator
(reference: ``DataEngineering/DataBricks/salt_cumsum.py:1-27``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.functions.exact import dec, sql_avg, sql_sum, wide


def _partition_sql(keys: Sequence[str]) -> str:
    """``PARTITION BY`` clause of a SQL window over ``keys`` ("" if none)."""
    return f"PARTITION BY {', '.join(f'`{k}`' for k in keys)}" if keys else ""


# ---------------------------------------------------------------------------
# W1 — partitioned max flag
# ---------------------------------------------------------------------------


def flag_partition_max(
    df: DataFrame, keys: Sequence[str], value: str, flag: str = "is_max"
) -> DataFrame:
    """Flag rows holding their group's max (W1; ``apply_scd2.py:17-27``
    current-version pattern). Unordered frame → single pass, no sort."""
    m = F.max(value).over(Window.partitionBy(*keys))
    return df.withColumn(flag, F.when(F.col(value) == m, 1).otherwise(0).cast("int"))


# ---------------------------------------------------------------------------
# W2 — cumulative sum, plain and salted
# ---------------------------------------------------------------------------


def cumsum(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    out: str = "cumsum",
) -> DataFrame:
    """Running sum per key (W2 baseline). Accumulates in exact fixed
    point so results are order-independent and salting-invariant."""
    w = f"{_partition_sql(keys)} ORDER BY `{order_by}` ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return df.withColumn(out, F.expr(sql_sum(f"`{value}`", over=w)))


def salted_cumsum(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    out: str = "cumsum",
    salt_size: int = 86_400_000_000_000,  # 1 day of nanoseconds
) -> DataFrame:
    """Skew-proof running sum (W2; ``salt_cumsum.py:1-27`` two-level
    pattern, clean-room).

    1. bucket the ordering column: ``salt = floor(order/salt_size)``;
    2. running sum *within* (keys, salt) — parallel across buckets;
    3. per-bucket totals, then the running total of all *previous*
       buckets per key (lag over a tiny per-bucket frame);
    4. final = within-bucket running sum + previous-buckets offset.

    Identical to :func:`cumsum` for any salt size (property-tested);
    the per-key sequential dependency shrinks from O(rows) to O(buckets).
    """
    salt = F.floor(F.col(order_by) / F.lit(salt_size)).alias("__salt")
    df = df.withColumn("__salt", salt)

    v = dec(f"`{value}`")
    w_in = (
        Window.partitionBy(*keys, "__salt")
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = df.withColumn("__in_bucket", F.sum(v).over(w_in))

    # previous-buckets offset: one row per (keys, salt) — O(buckets), tiny —
    # running total of strictly-earlier bucket sums, joined back on the
    # same (keys, salt) partitioning the window just established (no extra
    # shuffle of the fact side)
    totals = df.groupBy(*keys, "__salt").agg(F.sum(v).alias("__bt"))
    w_prev = (
        Window.partitionBy(*keys).orderBy("__salt").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *keys,
        "__salt",
        F.coalesce(F.sum("__bt").over(w_prev), dec("0")).alias("__offset"),
    )
    joined = df.join(offsets, [*keys, "__salt"], "left")

    result = F.col("__in_bucket") + F.col("__offset")
    return joined.withColumn(out, result.cast("double")).drop(
        "__salt", "__in_bucket", "__offset"
    )


# ---------------------------------------------------------------------------
# W3/W4/W11 — lag/lead/diff
# ---------------------------------------------------------------------------


def lag_over(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    offset: int = 1,
    default=None,
    out: str | None = None,
) -> DataFrame:
    """``lag``/``lead`` with default (W3/W4; ``apply_scd2.py:30-33``,
    ``salt_cumsum.py:16``). Negative offset = lead."""
    w = Window.partitionBy(*keys).orderBy(order_by)
    fn = F.lag(value, offset, default) if offset >= 0 else F.lead(value, -offset, default)
    return df.withColumn(out or f"lag_{value}", fn.over(w))


def diff(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    out: str = "diff",
    forward: bool = False,
) -> DataFrame:
    """Difference to previous (or next) row (W11; ``generate_data.py:123-124``)."""
    w = Window.partitionBy(*keys).orderBy(order_by)
    expr = (
        F.lead(value).over(w) - F.col(value)
        if forward
        else F.col(value) - F.lag(value).over(w)
    )
    return df.withColumn(out, expr)


# ---------------------------------------------------------------------------
# W5 — sessionization
# ---------------------------------------------------------------------------


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    gap: int,
    out: str = "session_id",
) -> DataFrame:
    """Gap-based session ids (W5; ``generate_data.py:120-144``): a new
    session starts where the gap to the previous row exceeds ``gap``
    (same units as ``order_by``; use int64 nanoseconds for exactness).
    ``session_id`` is 1-based per key. Streaming analog:
    ``F.session_window`` (streaming module)."""
    w = Window.partitionBy(*keys).orderBy(order_by)
    new_session = F.when(
        F.col(order_by) - F.lag(order_by).over(w) > gap, 1
    ).otherwise(0)
    run = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.sum(new_session).over(run) + 1)


# ---------------------------------------------------------------------------
# W6 — cumulative count
# ---------------------------------------------------------------------------


def cumcount(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    out: str = "cumcount",
    offset: int = 0,
    descending: bool = False,
) -> DataFrame:
    """0-based running count per group (W6; ``generate_data.py:572`` et
    al); ``descending=True`` gives the inversion-resort variant (`:1231`)."""
    ordering = [F.col(c).desc() if descending else F.col(c) for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return df.withColumn(out, F.row_number().over(w) - 1 + offset)


# ---------------------------------------------------------------------------
# W7 — expanding mean excluding current row
# ---------------------------------------------------------------------------


def expanding_mean_excluding_current(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    out: str = "expanding_mean",
) -> DataFrame:
    """Leakage-free expanding mean (W7; ``generate_data.py:596-610``):
    mean of all *strictly previous* values per key — the target-encoding
    primitive. First row per key is NULL (no history)."""
    w = f"{_partition_sql(keys)} ORDER BY `{order_by}` ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    return df.withColumn(out, F.expr(sql_avg(f"`{value}`", over=w)))


# ---------------------------------------------------------------------------
# W9 — sliding fixed-size windows
# ---------------------------------------------------------------------------


def sliding_windows(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    size: int,
    out: str = "window",
) -> DataFrame:
    """Fixed-size forward-looking windows per key (W9;
    ``generate_data.py:52-80`` stride tricks): each row yields the array
    of the next ``size`` values; rows too close to the group end (partial
    windows) are dropped, replicating the group-boundary mask."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.currentRow, size - 1)
    )
    return (
        df.withColumn(out, F.collect_list(value).over(w))
        .filter(F.size(out) == size)
    )


# ---------------------------------------------------------------------------
# W10 — forward / backward fill
# ---------------------------------------------------------------------------


def ffill(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    out: str | None = None,
) -> DataFrame:
    """Per-group forward fill (W10; ``generate_data.py:601``):
    last non-null over the unbounded-preceding frame."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out or value, F.last(value, ignorenulls=True).over(w))


def bfill(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    out: str | None = None,
) -> DataFrame:
    """Per-group backward fill: first non-null over the following frame."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return df.withColumn(out or value, F.first(value, ignorenulls=True).over(w))


def rolling_time_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    preceding: int,
    out: str = "rolling",
) -> DataFrame:
    """Rolling range-frame aggregate: sum of the last ``preceding``+1
    units of ``order_by`` (a numeric time key, e.g. epoch days) per key —
    the 7-day-rolling-sum shape. RANGE frame, not ROWS: gaps in the
    series shrink the window, exactly like a time-based rolling join."""
    w = (
        f"{_partition_sql(keys)} ORDER BY `{order_by}`"
        f" RANGE BETWEEN {int(preceding)} PRECEDING AND CURRENT ROW"
    )
    return df.withColumn(out, F.expr(sql_sum(f"`{value}`", over=w)))


# ---------------------------------------------------------------------------
# W12 — per-series tail split
# ---------------------------------------------------------------------------


def tail_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    n: int,
    flag: str | None = None,
) -> DataFrame:
    """Last ``n`` rows per key (W12; ``stats_forecast_predict.py:422-424``
    train/val split). With ``flag`` set, returns all rows with a 0/1
    in-tail marker instead of filtering."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).desc())
    marked = df.withColumn("__rn", F.row_number().over(w))
    if flag:
        return marked.withColumn(flag, (F.col("__rn") <= n).cast("int")).drop("__rn")
    return marked.filter(F.col("__rn") <= n).drop("__rn")


# ---------------------------------------------------------------------------
# A10 — most-common-value-so-far (cumulative mode)
# ---------------------------------------------------------------------------


def cumulative_mode(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    out: str = "prev_mode",
) -> DataFrame:
    """Mode of all *strictly previous* values per key (A10;
    ``generate_data.py:514-548`` shift+cumcount+transform chain → two
    windows). Row i's answer is the value whose running occurrence count
    among rows ≤ j (j < i) is highest; ties go to the most recently seen
    value (deterministic; the pandas reference's tie order is
    insertion-dependent — documented deviation). First row per key: NULL.

    The (count, recency) tiebreak is packed into one BIGINT
    (``occ * 2^31 + row_number``) because ``max_by`` over a struct is not
    portable across engines; valid for groups under 2^31 rows."""
    w_seq = Window.partitionBy(*keys).orderBy(order_by)
    w_val = (
        Window.partitionBy(*keys, value)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rank = (
        F.count(F.lit(1)).over(w_val) * F.lit(2_147_483_648).cast("long")
        + F.row_number().over(w_seq)
    )
    return (
        df.withColumn("__rank", rank)
        .withColumn(out, F.max_by(F.col(value), F.col("__rank")).over(w_prev))
        .drop("__rank")
    )


def rolling_zscore(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    value: str,
    lookback: int = 20,
    out: str = "zscore",
) -> DataFrame:
    """Per-key anomaly score: how many trailing-window standard
    deviations the current value sits from the trailing mean. The
    window excludes the current row (a point can't vouch for itself);
    ROWS frame over the previous ``lookback`` observations. Emits NULL
    until ≥2 prior points exist or when the window is constant (σ=0) —
    downstream filters treat NULL as "no verdict". One shuffle on the
    keys; the stddev/mean pair shares a single window sorter."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_by))
        .rowsBetween(-lookback, -1)
    )
    mu = F.avg(value).over(w)
    sd = F.stddev_samp(value).over(w)
    return df.withColumn(
        out, F.try_divide(F.col(value) - mu, F.when(sd > 0, sd))
    )


def funnel_steps(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: Sequence[str],
    out_prefix: str = "t_step",
) -> DataFrame:
    """Ordered funnel: for each user, the earliest time step i occurred
    AFTER step i-1's time (strict sequence, earliest-completion
    semantics). Returns one row per user with ``t_step0..n`` timestamps
    (NULL once the funnel stalls) and ``steps_completed``.

    One aggregate: per user, collect each step's sorted event times
    (bounded by session/funnel cardinality, same boundedness the
    sessionizer assumes), then fold through array lookups — no joins,
    no per-step passes over the corpus, one shuffle total.

    Each step's time is bound once per row (``text.bind_once``) before
    the next step's filter references it: a HOF lambda inlines captured
    expressions per ELEMENT, so without the binding step i re-evaluates
    the entire step-0..i-1 chain for every candidate event time —
    multiplicative in per-user event counts at depth."""
    arrays = [
        F.array_sort(
            F.collect_list(F.when(F.col(event_col) == s, F.col(ts_col)))
        ).alias(f"__a{i}")
        for i, s in enumerate(steps)
    ]
    from azuredataengineering_deeplearning_spark.operators.text import bind_once

    g = df.groupBy(user_col).agg(*arrays)

    def _next_step(arr, prev_t):
        # earliest element strictly after the previous step's time;
        # bind that time once per row (unary lambda: pyspark treats a
        # binary lambda as (element, index))
        return bind_once(
            prev_t,
            lambda p: F.try_element_at(F.filter(arr, lambda x: x > p), F.lit(1)),
        )

    prev = None
    cols = []
    for i in range(len(steps)):
        arr = F.col(f"__a{i}")
        t = F.try_element_at(arr, F.lit(1)) if prev is None else _next_step(arr, prev)
        cols.append(t.alias(f"{out_prefix}{i}"))
        prev = t
    done = sum((F.when(F.col(f"{out_prefix}{i}").isNotNull(), 1).otherwise(0))
               for i in range(len(steps)))
    g = g.select(user_col, *cols)
    return g.withColumn("steps_completed", done.cast("int"))


def cumulative_distinct(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    value_col: str,
    out: str = "cum_distinct",
) -> DataFrame:
    """Running count of distinct ``value_col`` seen so far per key
    (distinct-users-to-date style). Two stacked windows, no join-back:
    flag each value's first occurrence (row_number over key+value), then
    running-sum the flags over the key's time order. Both windows share
    the key partitioning, so this is one shuffle; state per group is a
    single counter — contrast with a naive ``collect_set`` running
    window whose state is O(distinct values) per row."""
    first_w = Window.partitionBy(*keys, value_col).orderBy(*order)
    cum_w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag = F.when(F.row_number().over(first_w) == 1, 1).otherwise(0)
    return df.withColumn("__first", flag).withColumn(
        out, F.sum("__first").over(cum_w).cast("long")
    ).drop("__first")


def _order_specs(order):
    """Normalize order entries to (expression, ascending) pairs.

    Accepts plain column names, plain Columns, and Column sort specs
    (``F.col(c).desc()``). Sort specs are deconstructed from the
    Column's string form (``Column<'x DESC NULLS LAST'>``) — the inner
    text minus the direction suffix re-parses via ``F.expr`` — because
    the bucketing kernel needs the BARE expression for literal
    comparisons, not just something orderable."""
    specs = []
    for c in order:
        if isinstance(c, str):
            specs.append((F.col(c), True))
            continue
        s = str(c)
        inner = s[len("Column<'"):-2] if s.startswith("Column<'") and s.endswith("'>") else None
        expr, asc = c, True
        if inner is not None:
            for suf, a in (
                (" DESC NULLS LAST", False),
                (" DESC NULLS FIRST", False),
                (" ASC NULLS FIRST", True),
                (" ASC NULLS LAST", True),
            ):
                if inner.endswith(suf):
                    bare = inner[: -len(suf)]
                    # plain identifiers go through F.col (tolerates
                    # names SQL parsing would reject); anything with
                    # operator characters re-parses as an expression
                    import re as _re

                    expr = (
                        F.expr(bare)
                        if _re.search(r"[()+\-*/]", bare)
                        else F.col(bare)
                    )
                    asc = a
                    break
        specs.append((expr, asc))
    return specs


_NUMERIC_TYPES = {
    "byte", "short", "integer", "long", "float", "double", "decimal",
}


def _bucket_bounds(df: DataFrame, first, n: int) -> list:
    """Deterministic bucket boundaries for the leading order expression:
    an approx-quantile sketch over a 5% sample for numeric types, an
    evenly-spaced pick from a capped sorted sample otherwise. Bounds
    steer bucket BALANCE only — bucket id is ``#bounds < value``, a
    pure function of the value, so ANY bound set yields a correct
    (monotone, recompute-stable) bucketing."""
    full = df.select(first.alias("__v"))
    probe = full.sample(fraction=0.05, seed=7)
    dt = probe.schema[0].dataType.typeName()
    probs = [i / n for i in range(1, n)]
    if dt in _NUMERIC_TYPES or dt.startswith("decimal"):
        bounds = sorted(
            {float(b) for b in probe.approxQuantile("__v", probs, 0.02) if b is not None}
        )
        if not bounds:
            # small frame: the sample missed — one full-frame sketch is
            # cheap there, and without it the single constant bucket
            # folds into an unpartitioned window
            bounds = sorted(
                {float(b) for b in full.approxQuantile("__v", probs, 0.02) if b is not None}
            )
        return bounds

    def _pick(vals: list) -> list:
        if len(vals) <= n:
            return vals[:-1] if len(vals) > 1 else []
        step = len(vals) / n
        return sorted({vals[int(i * step)] for i in range(1, n)})

    vals = sorted({r[0] for r in probe.limit(50_000).collect() if r[0] is not None})
    if len(vals) < 2:
        vals = sorted({r[0] for r in full.limit(50_000).collect() if r[0] is not None})
    return _pick(vals)


def _with_bucket(df: DataFrame, first, bounds) -> DataFrame:
    """Attach ``__rb`` = count of bounds strictly below the leading
    order value (nulls → bucket 0, matching NULLS FIRST asc / NULLS
    LAST desc once buckets are walked in direction order)."""
    from functools import reduce

    bucket = reduce(
        lambda a, b: a + F.when(first > F.lit(b), 1).otherwise(0),
        bounds,
        F.lit(0),
    )
    return df.withColumn("__rb", bucket)


def global_row_number(
    df: DataFrame,
    order: Sequence[str | Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 1-based global row numbers in total ``order`` WITHOUT the
    single-reducer global window (``Window.orderBy`` with no partition
    key funnels 100 TB through one task) — the ``zipWithIndex`` pattern
    in pure DataFrames, built on DETERMINISTIC-BOUNDS bucketing:

    1. bucket boundaries for the leading order column from a sampled
       quantile sketch (numeric) or sorted-sample pick (other types);
       the bucket id is a pure function of the value, so recomputation
       is always consistent — no ``spark_partition_id`` pinning, no
       persist, no checkpoint, ordinary lineage fault tolerance;
    2. per-bucket row counts from one O(buckets)-group aggregate,
       collected; exclusive prefix sums become literal offsets;
    3. the returned frame is LAZY: ``row_number`` inside each bucket
       (parallel windows partitioned by ``__rb``) plus the bucket's
       offset via an O(buckets) literal-array lookup.

    ``order`` should be a total order (add a unique tiebreak column);
    rows with equal leading values land in one bucket, so numbering
    stays deterministic. Entries may be Column sort specs
    (``F.col(c).desc()``).

    Contract note: the bounds/counts jobs run at call time (two cheap
    scans of the input — persist upstream if it is expensive to
    recompute); the numbering itself runs at the caller's action.

    DETERMINISM PRECONDITION: the input plan must be deterministic.
    The eager counts and the lazy numbering evaluate the input
    SEPARATELY; a plan containing ``rand()``/``sample``/un-ordered
    ``limit`` can produce different rows per scan, yielding wrong
    offsets or duplicated/skipped numbers. Pin such inputs with
    ``localCheckpoint(eager=True)`` before calling (applies equally to
    ``global_ntile``, ``with_surrogate_key`` and ``quantile_buckets``,
    which build on this kernel)."""
    result, _ = _global_row_number_total(df, order, out, num_partitions)
    return result


def _global_row_number_total(
    df: DataFrame,
    order: Sequence[str | Column],
    out: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    """:func:`global_row_number` core, additionally returning the total
    row count — free from the per-bucket size collect, so callers like
    :func:`global_ntile` never pay a second counting job."""
    specs = _order_specs(order)
    ocols = [F.col(c) if isinstance(c, str) else c for c in order]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    first, first_asc = specs[0]
    bounds = _bucket_bounds(df, first, n)
    bucketed = _with_bucket(df, first, bounds)
    sizes = {
        int(r["__rb"]): r["cnt"]
        for r in bucketed.groupBy("__rb").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n_b = len(bounds) + 1
    offsets, acc = [0] * n_b, 0
    walk = range(n_b) if first_asc else reversed(range(n_b))
    for b in walk:
        offsets[b] = acc
        acc += sizes.get(b, 0)
    off_arr = F.array(*[F.lit(v) for v in offsets])
    w = Window.partitionBy("__rb").orderBy(*ocols)
    numbered = bucketed.withColumn(
        out,
        (F.row_number().over(w) + F.element_at(off_arr, F.col("__rb") + 1)).cast(
            "long"
        ),
    ).drop("__rb")
    return numbered, acc


def global_ntile(
    df: DataFrame,
    order: Sequence[str | Column],
    n_tiles: int,
    out: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(n)`` over a TOTAL order without the single-reducer
    global window — the distributed twin of
    ``F.ntile(n).over(Window.orderBy(...))``, which funnels the whole
    frame through one task at scale. Built on
    :func:`global_row_number` (deterministic-bounds buckets + literal
    offsets; lazy result, two cheap scans at call time) plus the
    SQL-standard tile formula: with total ``T`` rows, the first
    ``T % n`` buckets hold ``T//n + 1`` rows and the rest ``T//n`` —
    bit-identical to Spark's and DuckDB's ``NTILE`` (larger buckets
    first), so oracle parity holds for any ``T``/``n``.

    ``order`` must be a total order (add a unique tiebreak) for the
    tiles to be deterministic, and the input plan must itself be
    deterministic (see :func:`global_row_number`'s precondition — the
    count jobs and the lazy tiling scan the input separately)."""
    numbered, total = _global_row_number_total(df, order, "__gnt_rn", num_partitions)
    base, rem = divmod(total, n_tiles)
    rn = F.col("__gnt_rn")
    cut = rem * (base + 1)  # rows living in the size-(base+1) buckets
    first = F.floor((rn - 1) / (base + 1)) + 1
    if base > 0:
        tile = F.when(rn <= cut, first).otherwise(
            rem + F.floor((rn - cut - 1) / base) + 1
        )
    else:  # T < n: every bucket holds at most one row
        tile = first
    return numbered.withColumn(out, tile.cast("int")).drop("__gnt_rn")


def global_cumsum(
    df: DataFrame,
    order: Sequence[str | Column],
    value_col: str,
    out: str = "cumsum",
    restart_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running total over a TOTAL order WITHOUT the single-reducer
    global window (``Window.orderBy`` with no partition key funnels
    100 TB through one task) — the prefix-scan twin of
    :func:`global_row_number`, and the engine behind KQL
    ``row_cumsum``:

    1. deterministic-bounds buckets on the leading order column (same
       kernel as the numbering: bucket id is a pure function of the
       value — recompute-stable, ordinary lineage fault tolerance);
    2. one O(buckets) aggregate collects per-bucket DECIMAL sums;
       exclusive prefix sums (computed exactly in Python ``Decimal``)
       become literal offsets;
    3. the result is LAZY: a within-bucket running decimal sum
       (parallel windows partitioned by ``__rb``) plus the bucket's
       literal offset. Output cast to double.

    ``restart_col`` (KQL ``row_cumsum(term, restart)`` semantics): a
    true row RESETS the running total to its own term. Implemented as
    segment arithmetic on top of the same scan — segment id = running
    count of restart flags (one extra within-bucket window over the
    same bucketing, same literal-offset trick), then one per-segment
    aggregate join subtracts the prefix before each segment's first
    row. Everything stays distributed; the extra join shuffles on
    segment id.

    Null terms follow SQL SUM-OVER semantics: they add nothing, and the
    output is NULL only before the first non-null term in the total
    order (verified bucket-boundary-independent). Restart-form nuance:
    a segment opened by a null-term restart row starts at 0 rather than
    the NULL a per-segment SUM OVER would emit until the segment's
    first value — the reset is the point of the flag, so the empty
    total is 0 by design.

    ``order`` must be a total order (unique tiebreak) and the input
    plan deterministic — same preconditions as
    :func:`global_row_number`."""
    from decimal import Decimal

    specs = _order_specs(order)
    ocols = [F.col(c) if isinstance(c, str) else c for c in order]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    first, first_asc = specs[0]
    bounds = _bucket_bounds(df, first, n)
    bucketed = _with_bucket(df, first, bounds)
    flag = (
        F.when(F.col(restart_col).cast("boolean"), 1).otherwise(0)
        if restart_col
        else None
    )
    aggs = [
        F.sum(dec(f"`{value_col}`")).alias("__s"),
        F.count(value_col).alias("__c"),
    ]
    if flag is not None:
        aggs.append(F.sum(flag).alias("__f"))
    per_bucket = {
        int(r["__rb"]): r
        for r in bucketed.groupBy("__rb").agg(*aggs).collect()
    }
    n_b = len(bounds) + 1
    sum_off = [Decimal(0)] * n_b
    cnt_off = [0] * n_b
    flag_off = [0] * n_b
    acc_s, acc_c, acc_f = Decimal(0), 0, 0
    walk = range(n_b) if first_asc else reversed(range(n_b))
    for b in walk:
        sum_off[b], cnt_off[b], flag_off[b] = acc_s, acc_c, acc_f
        r = per_bucket.get(b)
        if r is not None:
            acc_s += r["__s"] if r["__s"] is not None else Decimal(0)
            acc_c += r["__c"]
            acc_f += r["__f"] if flag is not None else 0
    s_arr = F.array(*[wide(F.lit(str(v))) for v in sum_off])
    c_arr = F.array(*[F.lit(v) for v in cnt_off])
    w = (
        Window.partitionBy("__rb")
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # SQL SUM-OVER semantics independent of where bucket boundaries
    # fall: NULL only while NO non-null term has occurred yet globally
    # (within-bucket window NULL *and* zero values in earlier buckets);
    # otherwise nulls add nothing and the total carries forward.
    wsum = F.sum(dec(f"`{value_col}`")).over(w)
    run = F.when(
        wsum.isNull() & (F.element_at(c_arr, F.col("__rb") + 1) == 0),
        F.lit(None).cast("decimal(29,6)"),
    ).otherwise(
        F.coalesce(wsum, wide(F.lit(0)))
        + F.element_at(s_arr, F.col("__rb") + 1)
    )
    if flag is None:
        return bucketed.withColumn(out, run.cast("double")).drop("__rb")
    f_arr = F.array(*[F.lit(v) for v in flag_off])
    seg = (F.sum(flag).over(w) + F.element_at(f_arr, F.col("__rb") + 1)).cast(
        "long"
    )
    with_seg = (
        bucketed.withColumn("__gcs_c", run)
        .withColumn("__gcs_seg", seg)
        .drop("__rb")
    )
    # each segment s >= 1 starts at its UNIQUE restart row (the flag
    # increments the segment id there), so the prefix to subtract is
    # (inclusive cum - own term) AT that row — no ordering needed to
    # find it, works for negative terms; segment 0 subtracts nothing.
    # Null-safe on BOTH operands: a restart row with a NULL term (SUM
    # skips it, so inclusive cum = the prefix itself) or sitting before
    # any non-null value (cum still NULL = empty prefix) must not
    # poison the segment's prefix into NULL -> coalesce(0) -> unreset
    # global sums downstream.
    zero = wide(F.lit(0))
    seg_base = with_seg.filter(F.col(restart_col).cast("boolean")).select(
        "__gcs_seg",
        (
            F.coalesce(F.col("__gcs_c"), zero)
            - F.coalesce(dec(f"`{value_col}`"), zero)
        ).alias("__gcs_p"),
    )
    return (
        with_seg.join(seg_base, "__gcs_seg", "left")
        .withColumn(
            out,
            (
                F.col("__gcs_c")
                - F.coalesce(F.col("__gcs_p"), zero)
            ).cast("double"),
        )
        .drop("__gcs_seg", "__gcs_c", "__gcs_p")
    )


def funnel_progress(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    steps: Sequence[tuple[str, Column]],
) -> DataFrame:
    """Ordered funnel analysis (product-analytics staple; KQL
    ``funnel_sequence`` analog): per user, the FIRST time each step was
    reached *at or after* the previous step's first completion —
    ``t_<step>`` columns (null from the first missed step on, nulls are
    monotone by construction) plus ``furthest_step`` (count of steps
    completed).

    Shape: one filtered min-aggregate per step, each conditioned on the
    previous step's frame via an equi-join on the user key — k-1 joins of
    user-sized frames for a k-step funnel, never a self-join of raw
    events. Each intermediate is persisted: it feeds both the next
    step's condition and the final report (this build's AQE does not
    reuse exchanges), and the frames are one narrow row per converted
    user, shrinking monotonically down the funnel."""
    name0, cond0 = steps[0]
    cur = (
        df.filter(cond0)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias(f"t_{name0}"))
        .persist()
    )
    prev = f"t_{name0}"
    for name, cond in steps[1:]:
        nxt = (
            df.filter(cond)
            .select(user_col, F.col(ts_col).alias("__ts"))
            .join(cur.select(user_col, F.col(prev).alias("__p")), user_col)
            .filter(F.col("__ts") >= F.col("__p"))
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"t_{name}"))
        )
        cur = cur.join(nxt, user_col, "left").persist()
        prev = f"t_{name}"
    done = sum(
        (F.col(f"t_{n}").isNotNull().cast("int") for n, _ in steps),
        F.lit(0),
    )
    return cur.withColumn("furthest_step", done)


def funnel_summary(progress: DataFrame, steps: Sequence[str]) -> DataFrame:
    """Conversion report from :func:`funnel_progress` output → one row
    per step: (rank, step, n_reached, frac_of_first). One aggregate."""
    agg = progress.agg(
        *[
            F.sum(F.col(f"t_{s}").isNotNull().cast("long")).alias(f"__n{i}")
            for i, s in enumerate(steps)
        ]
    )
    stacked = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("rank"),
                        F.lit(s).alias("step"),
                        F.col(f"__n{i}").alias("n_reached"),
                        (
                            F.col(f"__n{i}") / F.col("__n0")
                        ).alias("frac_of_first"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("r")
    )
    return stacked.select("r.*")


def event_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order transition matrix over per-key event sequences →
    (from_event, to_event, n, prob): how users move between states —
    the Markov-chain view of a clickstream (next-event analysis).

    One lag window over the (key, ts) ordering + one pair aggregate;
    ``prob`` normalizes per from-state. ``tiebreak_col`` pins the order
    of same-timestamp events (pass the event id for determinism)."""
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (
        df.withColumn("__next", F.lead(event_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(event_col).alias("from_event"),
            F.col("__next").alias("to_event"),
        )
        .agg(F.count("*").alias("n"))
    )
    w_from = Window.partitionBy("from_event")
    return pairs.withColumn(
        "prob", F.col("n") / F.sum("n").over(w_from)
    )


def paths_to_conversion(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    target_event: str,
    k: int = 3,
    tiebreak_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Most common event paths leading to conversion: for each user who
    ever fires ``target_event``, the last ``k`` events STRICTLY BEFORE
    their first conversion, joined into a path string, counted across
    users — the 'what do people do right before buying' report.

    One min-aggregate for first conversions, one descending-rank window
    to keep k pre-events per user, one ordered reassembly + count.
    Users converting with no prior events contribute the empty path."""
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    first = (
        df.filter(F.col(event_col) == target_event)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t1"))
    )
    pre = (
        df.join(first, user_col)
        .filter(F.col(ts_col) < F.col("__t1"))
    )
    w = Window.partitionBy(user_col).orderBy(*[c.desc() for c in order])
    lastk = pre.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    assembled = (
        lastk.groupBy(user_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("t"),
                                *(
                                    [F.col(tiebreak_col).alias("tb")]
                                    if tiebreak_col
                                    else []
                                ),
                                F.col(event_col).alias("e"),
                            )
                        )
                    ),
                    lambda s: s["e"],
                ),
                sep,
            ).alias("path")
        )
    )
    # converters with no prior events: empty path
    empty = first.join(
        assembled.select(user_col), user_col, "left_anti"
    ).select(F.col(user_col), F.lit("").alias("path"))
    return (
        assembled.select(user_col, "path")
        .unionByName(empty)
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def frequent_sequences(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    n: int = 3,
    min_count: int = 2,
    top_k: int = 50,
    tiebreak_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Frequent consecutive event n-grams across per-key timelines —
    the sequential-pattern miner generalizing
    :func:`event_transitions` (n=2) to longer motifs: every window of
    ``n`` consecutive events per key becomes a path string, counted
    corpus-wide, top-``top_k`` by count (path tiebreak). ``n−1`` lead
    windows over one (key, ts) shuffle."""
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    cols = [F.col(event_col)]
    for i in range(1, n):
        cols.append(F.lead(event_col, i).over(w))
    seq = df.select(
        F.concat_ws(sep, *cols).alias("path"),
        cols[-1].isNotNull().alias("__full"),
    ).filter(F.col("__full"))
    return (
        seq.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(top_k)
    )


def global_run_ranks(
    df: DataFrame,
    order: Sequence[str | Column],
    term_col: str,
    dense_out: str = "run_rank",
    min_out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Kusto ``row_rank_dense`` / ``row_rank_min`` over a TOTAL order
    without an unpartitioned window: dense advances whenever the term
    differs from the PREVIOUS row (consecutive runs — not a sort-based
    dense_rank); min repeats the global row number of the run's first
    row.

    Same deterministic-bounds bucket design as :func:`global_cumsum`:
    one bounds sketch + ONE per-bucket aggregate collect (row count,
    internal change count, last internal change position, boundary
    terms), then a Python walk turns bucket boundaries into literal
    per-bucket offsets — dense = within-bucket change prefix sum +
    offset; min = within-bucket running max of (change · global rn)
    with a literal carry for runs that crossed in from earlier
    buckets. The result is LAZY (parallel within-bucket windows);
    nothing is checkpointed. DETERMINISM PRECONDITION matches
    :func:`global_row_number`: pin nondeterministic inputs first."""
    specs = _order_specs(order)
    ocols = [F.col(c) if isinstance(c, str) else c for c in order]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    first, first_asc = specs[0]
    bounds = _bucket_bounds(df, first, n)
    bucketed = _with_bucket(df, first, bounds)
    wb = Window.partitionBy("__rb").orderBy(*ocols)
    wcum = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tc = F.col(term_col)
    flagged = bucketed.withColumn(
        "__lrn", F.row_number().over(wb)
    ).withColumn(
        "__chg_in",
        F.when(
            (F.col("__lrn") > 1) & ~tc.eqNullSafe(F.lag(tc).over(wb)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wrap = F.struct(F.col("__lrn").alias("r"), tc.alias("t"))
    stats = {
        int(r["__rb"]): r
        for r in flagged.groupBy("__rb").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("__chg_in").alias("nchg"),
            F.max(
                F.when(F.col("__chg_in") == 1, F.col("__lrn"))
            ).alias("lastchg"),
            F.min(wrap).alias("first_t"),
            F.max(wrap).alias("last_t"),
        ).collect()
    }
    n_b = len(bounds) + 1
    cnt_off = [0] * n_b
    chg_off = [0] * n_b
    bchg = [0] * n_b
    carry = [0] * n_b
    acc_cnt, acc_chg = 0, 0
    have_prev, last_term, last_chg_rn = False, None, 0
    walk = range(n_b) if first_asc else reversed(range(n_b))
    for b in walk:
        cnt_off[b], chg_off[b], carry[b] = acc_cnt, acc_chg, last_chg_rn
        r = stats.get(b)
        if r is None or r["cnt"] == 0:
            continue
        ft = r["first_t"]["t"]
        # Boundary comparison must MATCH the within-bucket eqNullSafe
        # semantics: Spark treats NaN as equal to NaN (and NULL-safe
        # equal to NULL), while Python has nan != nan — without the
        # explicit NaN clause a NaN run spanning a bucket boundary
        # would get a spurious dense-rank increment and a wrong
        # row_rank_min carry.
        same = (
            (ft == last_term)
            or (ft is None and last_term is None)
            or (ft != ft and last_term != last_term)
        )
        boundary = 0 if (have_prev and same) else 1
        bchg[b] = boundary
        if r["lastchg"] is not None:
            last_chg_rn = acc_cnt + r["lastchg"]
        elif boundary:
            last_chg_rn = acc_cnt + 1
        acc_chg += (r["nchg"] or 0) + boundary
        acc_cnt += r["cnt"]
        last_term, have_prev = r["last_t"]["t"], True

    def _lut(vals):
        return F.element_at(
            F.array(*[F.lit(int(v)) for v in vals]), F.col("__rb") + 1
        )

    c = F.when(F.col("__lrn") == 1, _lut(bchg)).otherwise(
        F.col("__chg_in")
    )
    out = flagged.withColumn("__c", c).withColumn(
        dense_out,
        (F.sum("__c").over(wcum) + _lut(chg_off)).cast("long"),
    )
    if min_out is not None:
        rn_g = F.col("__lrn") + _lut(cnt_off)
        out = out.withColumn(
            min_out,
            F.coalesce(
                F.max(
                    F.when(F.col("__c") == 1, rn_g)
                ).over(wcum),
                _lut(carry),
            ).cast("long"),
        )
    return out.drop("__rb", "__lrn", "__chg_in", "__c")
