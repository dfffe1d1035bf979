"""Incremental maintenance operators — CDC-flavored scale machinery.

At 100 TB the single most expensive recurring job is re-aggregating a
full fact table to refresh a gold rollup. The reference re-runs its
generated MERGE + full reload per batch
(``DataEngineering/DataBricks/merge_generator.py``,
``databricks_synapse_sql_writer.py``); here the rollup itself is
maintained from each changeset in O(changeset):

1. ``aggregate_batch`` — aggregate ONLY the incoming batch (map-side
   combine over the small delta);
2. ``merge_states`` — re-aggregate the union of partial states with the
   merge function of each aggregate (count/sum merge by SUM, min/max by
   MIN/MAX). One shuffle sized by the *state* table (distinct keys), not
   the fact table.

Sums accumulate in exact decimal (see ``functions.exact``) so the
incremental result is bit-identical to a full recompute regardless of
merge order. min/max states assume insert-only changesets (a delete can
retract a current extremum — that needs a per-key recompute, out of
scope here and documented).

``table_diff`` is the companion snapshot-CDC operator: classify rows of
two table versions as added/removed/changed with one key-partitioned
full-outer join. Both sides are pre-projected to ``keys + one 8-byte
row fingerprint`` so the shuffle carries ~16 bytes/row no matter how
wide the table is. The fingerprint hashes ``to_json(struct(cols))`` —
field names ride along, so NULL shifting between columns cannot alias
two different rows the way ``xxhash64(a, b)``'s null-skipping would.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.functions.exact import dec

# spec: out_column -> (kind, source_column); source ignored for "count"
AggSpec = Mapping[str, tuple[str, str | None]]

_MERGE_FN = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def _hist_bucket(col: str, bounds: Sequence[float]):
    """Bucket index 0..len(bounds): number of boundaries <= x."""
    x = F.col(col).cast("double")
    b = F.lit(0)
    for t in bounds:
        b = b + (x >= F.lit(float(t))).cast("int")
    return b


def aggregate_batch(df: DataFrame, keys: Sequence[str], spec: AggSpec) -> DataFrame:
    """Partial-aggregate one changeset batch into mergeable state rows."""
    aggs = []
    for out, (kind, col) in spec.items():
        if kind == "count":
            aggs.append(F.count(F.lit(1)).alias(out))
        elif kind == "sum":
            aggs.append(F.sum(dec(f"`{col}`")).alias(out))
        elif kind in ("min", "max"):
            aggs.append(getattr(F, kind)(col).alias(out))
        elif kind == "hist":
            # col is (source_column, fixed bucket boundaries); state is
            # an array<bigint> of len(bounds)+1 counts — integer vector
            # addition merges it, so it folds batch-by-batch like a sum
            # and finalizes to approximate quantiles (hist_quantiles).
            src, bounds = col
            bucket = _hist_bucket(src, bounds)
            aggs.append(
                F.array(*[
                    F.sum(F.when(bucket == i, F.lit(1)).otherwise(F.lit(0)))
                    for i in range(len(bounds) + 1)
                ]).alias(out)
            )
        elif kind == "hll":
            # mergeable distinct-count state: a DataSketches HLL binary
            # that unions across batches (hll_union_agg) — streaming
            # COUNT(DISTINCT) without retaining the keys.
            aggs.append(F.hll_sketch_agg(F.col(col), F.lit(12)).alias(out))
        else:
            raise ValueError(f"unsupported incremental aggregate kind {kind!r}")
    return df.groupBy(*keys).agg(*aggs)


def merge_states(
    states: Sequence[DataFrame], keys: Sequence[str], spec: AggSpec
) -> DataFrame:
    """Merge partial-aggregate states (any number of batches) into one.

    Cost is one shuffle over the union of state rows — O(distinct keys
    × batches), independent of fact-table size.
    """
    unioned = reduce(DataFrame.unionByName, states)
    aggs = []
    for out, (kind, col) in spec.items():
        if kind == "hist":
            n = len(col[1]) + 1
            aggs.append(
                F.array(*[F.sum(F.col(out)[i]) for i in range(n)]).alias(out)
            )
        elif kind == "hll":
            aggs.append(F.hll_union_agg(F.col(out)).alias(out))
        else:
            aggs.append(_MERGE_FN[kind](out).alias(out))
    return unioned.groupBy(*keys).agg(*aggs)


def incremental_update(
    base_state: DataFrame, batch: DataFrame, keys: Sequence[str], spec: AggSpec
) -> DataFrame:
    """Fold one new raw batch into an existing aggregate state."""
    return merge_states([base_state, aggregate_batch(batch, keys, spec)], keys, spec)


def finalize_state(state: DataFrame, spec: AggSpec) -> DataFrame:
    """User-facing projection of a state table: counts as BIGINT, sums
    back to DOUBLE (the decimal accumulator is an internal detail)."""
    cols = {}
    for out, (kind, _) in spec.items():
        if kind == "count":
            cols[out] = F.col(out).cast("long")
        elif kind == "sum":
            cols[out] = F.col(out).cast("double")
        elif kind == "hist":
            cols[out] = F.col(out).cast("array<bigint>")
        elif kind == "hll":
            # finalize to the cardinality estimate (the sketch itself
            # stays mergeable in the stored state)
            cols[out] = F.hll_sketch_estimate(F.col(out))
    return state.withColumns(cols)


def hist_quantiles(
    state: DataFrame,
    hist_col: str,
    bounds: Sequence[float],
    probs: Sequence[float],
    prefix: str = "q",
) -> DataFrame:
    """Approximate quantiles from a mergeable histogram state column —
    the finalize step that turns streamed/incremental bucket counts
    into percentile estimates (linear interpolation inside the hit
    bucket; unbounded edge buckets clamp to the nearest boundary, so
    estimates are always within [bounds[0], bounds[-1]]). Error is
    bounded by bucket width — pick boundaries for the precision the
    readout needs. Adds one ``{prefix}<prob>`` double per requested
    quantile; pure column arithmetic, no shuffle."""
    h = F.col(hist_col)
    n = len(bounds) + 1
    total = reduce(lambda a, b: a + b, [h[i] for i in range(n)])
    out = state.withColumn("__tot", total.cast("double"))
    cols = {}
    for p_ in probs:
        target = F.col("__tot") * float(p_)
        # walk buckets low->high, keep the FIRST bucket whose cumulative
        # count reaches the target; built by wrapping in reverse so the
        # earliest hit wins
        cases = []
        for i in range(n):
            lo = float(bounds[i - 1]) if i > 0 else float(bounds[0])
            hi = float(bounds[i]) if i < len(bounds) else float(bounds[-1])
            cases.append((i, lo, hi))
        expr = None
        cum_exprs = []
        run = F.lit(0).cast("double")
        for i, _, _ in cases:
            cum_exprs.append(run)
            run = run + h[i].cast("double")
        for i, lo, hi in reversed(cases):
            cnt = h[i].cast("double")
            before = cum_exprs[i]
            frac = F.when(cnt > 0, (target - before) / cnt).otherwise(F.lit(0.0))
            est = F.lit(lo) + frac * (F.lit(hi) - F.lit(lo))
            est = F.least(F.greatest(est, F.lit(lo)), F.lit(hi))
            hit = (before + cnt) >= target
            expr = est if expr is None else F.when(hit, est).otherwise(expr)
        name = f"{prefix}{str(p_).replace('0.', '')}"
        cols[name] = F.when(F.col("__tot") > 0, expr)
    return out.withColumns(cols).drop("__tot")


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_columns: Sequence[str] | None = None,
    include_unchanged: bool = False,
    status_column: str = "diff_status",
) -> DataFrame:
    """Snapshot CDC: rows of ``right`` relative to ``left`` per key.

    Returns ``keys + status_column`` with values ``added`` (key only in
    right), ``removed`` (only in left), ``changed`` (both, compared
    columns differ — null-safe), and optionally ``unchanged``.
    """
    compare = list(
        compare_columns
        if compare_columns is not None
        else [c for c in left.columns if c not in keys]
    )

    def fingerprint(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            *keys, F.xxhash64(F.to_json(F.struct(*compare))).alias(out)
        )

    j = fingerprint(left, "__lh").join(
        fingerprint(right, "__rh"), list(keys), "full_outer"
    )
    status = (
        F.when(F.col("__rh").isNull(), F.lit("removed"))
        .when(F.col("__lh").isNull(), F.lit("added"))
        .when(F.col("__lh") != F.col("__rh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(*keys, status.alias(status_column))
    if not include_unchanged:
        out = out.filter(F.col(status_column) != "unchanged")
    return out


def table_checksum(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    portable: bool = True,
) -> DataFrame:
    """Order-independent table fingerprint for replication/sync checks
    (the scalar companion to :func:`table_diff`): one row with
    ``n_rows`` and ``checksum`` — the exact sum of a per-row 60-bit
    hash, so two environments can compare a 100 TB table by exchanging
    two numbers. Any row difference shifts the sum.

    ``portable=True`` hashes an explicit string encoding (columns cast
    to string, NUL for NULL, unit separator between fields) with the
    md5-60bit scheme DuckDB reproduces bit-for-bit; ``portable=False``
    uses xxhash64 (cheaper, Spark-to-Spark only). The sum accumulates in
    DECIMAL(38,0) — overflow-free past 1e12 rows."""
    cols = list(columns or df.columns)
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    row_str = F.concat_ws("\x1f", *parts)
    if portable:
        row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    else:
        row_hash = F.xxhash64(row_str)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).cast("string").alias("checksum"),
    )


def partition_checksums(
    df: DataFrame,
    partition_cols: Sequence[str],
    columns: Sequence[str] | None = None,
    portable: bool = True,
) -> DataFrame:
    """Per-partition :func:`table_checksum` — the incremental-sync
    planner: checksum each partition on both sides, :func:`table_diff`
    the two checksum tables, and re-sync only partitions whose sums
    moved. One map-side-combined aggregate; output is O(partitions)."""
    cols = list(columns or [c for c in df.columns if c not in partition_cols])
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    row_str = F.concat_ws("\x1f", *parts)
    if portable:
        row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    else:
        row_hash = F.xxhash64(row_str)
    return df.groupBy(*partition_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).cast("string").alias("checksum"),
    )


def psi_from_hists(
    ref: DataFrame,
    cur: DataFrame,
    keys: Sequence[str],
    hist_col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two mergeable histogram
    states over the same boundaries — the streaming face of the
    batch PSI profiler: the reference histogram is computed once, the
    current one folds micro-batch by micro-batch (``"hist"`` AggSpec),
    and the drift readout is an O(keys) join + O(bins) column math.
    ``PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)`` with ``eps`` floor on
    both rates (the standard guard for empty buckets). Returns
    ``keys + n_ref + n_cur + psi``."""
    r = ref.select(*keys, F.col(hist_col).alias("__hr"))
    c = cur.select(*keys, F.col(hist_col).alias("__hc"))
    j = r.join(c, list(keys))
    n = F.size("__hr")
    tot_r = F.aggregate("__hr", F.lit(0).cast("long"), lambda a, b: a + b)
    tot_c = F.aggregate("__hc", F.lit(0).cast("long"), lambda a, b: a + b)
    j = j.withColumn("__tr", tot_r.cast("double")).withColumn(
        "__tc", tot_c.cast("double")
    )
    terms = F.zip_with(
        "__hr",
        "__hc",
        lambda a, b: (
            (
                F.greatest(a.cast("double") / F.col("__tr"), F.lit(eps))
                - F.greatest(b.cast("double") / F.col("__tc"), F.lit(eps))
            )
            * (
                F.log(
                    F.greatest(a.cast("double") / F.col("__tr"), F.lit(eps))
                )
                - F.log(
                    F.greatest(b.cast("double") / F.col("__tc"), F.lit(eps))
                )
            )
        ),
    )
    psi = F.aggregate(terms, F.lit(0.0), lambda a, b: a + b)
    return j.select(
        *keys,
        F.col("__tr").cast("long").alias("n_ref"),
        F.col("__tc").cast("long").alias("n_cur"),
        F.when((F.col("__tr") > 0) & (F.col("__tc") > 0), psi).alias("psi"),
    )


def ks_from_hists(
    ref: DataFrame,
    cur: DataFrame,
    keys: Sequence[str],
    hist_col: str,
) -> DataFrame:
    """Binned Kolmogorov-Smirnov statistic between two histogram states
    over the same bounds: ``max_i |CDF_ref(i) − CDF_cur(i)|`` at bucket
    edges — the streaming companion to the exact batch KS (which needs
    both samples' full value sets; this needs only the O(bins) states).
    A lower bound on the exact KS (within-bucket differences are
    invisible); tighten by adding boundaries. Returns ``keys + n_ref +
    n_cur + ks``."""
    r = ref.select(*keys, F.col(hist_col).alias("__hr"))
    c = cur.select(*keys, F.col(hist_col).alias("__hc"))
    j = r.join(c, list(keys))
    tot = lambda col: F.aggregate(col, F.lit(0).cast("long"), lambda a, b: a + b)  # noqa: E731
    j = j.withColumn("__tr", tot("__hr").cast("double")).withColumn(
        "__tc", tot("__hc").cast("double")
    )
    n = "size(__hr)"
    # cumulative rate difference at each bucket edge, then max — array
    # expressions over O(bins) elements, no shuffle
    diffs = F.expr(
        "transform(sequence(1, size(__hr)), i -> "
        " abs(aggregate(slice(__hr, 1, i), 0L, (a, b) -> a + b) / __tr"
        "    - aggregate(slice(__hc, 1, i), 0L, (a, b) -> a + b) / __tc))"
    )
    ks = F.array_max(diffs)
    return j.select(
        *keys,
        F.col("__tr").cast("long").alias("n_ref"),
        F.col("__tc").cast("long").alias("n_cur"),
        F.when((F.col("__tr") > 0) & (F.col("__tc") > 0), ks).alias("ks"),
    )
