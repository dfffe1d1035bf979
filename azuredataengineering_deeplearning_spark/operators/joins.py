"""Join operators (SURVEY §2.3).

Strategy notes for 100 TB: dimension joins are *explicitly* broadcast
(J1) — at cluster scale the fact side never shuffles for a dim lookup.
Fact-fact joins shuffle on their keys; AQE converts to broadcast at
runtime when a side turns out small, and splits skewed partitions
(skew-join enabled in the session profile). As-of joins are one ordered
window over a single shuffle by key — not a self-join: `lag` against a
table's own history, the union trick (:func:`asof_join`) against a second
table for every merge_asof direction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_join(
    df: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """Broadcast equi-join for small dims (J1; ``spark_randomforest.py:54``)."""
    return df.join(F.broadcast(dim), on, how)


def equi_join(
    df: DataFrame,
    other: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Multi-key equi join (J2; ``salt_cumsum.py:20``)."""
    return df.join(other, on, how)


def semi_join(df: DataFrame, keys: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Inner-join-as-filter without duplication (J3;
    ``generate_data.py:259`` merge-on-drop_duplicates → left_semi)."""
    return df.join(keys, on, "left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Complement of :func:`semi_join` (free in Spark; no reference analog)."""
    return df.join(keys, on, "left_anti")


def multi_join(
    base: DataFrame,
    others: Sequence[tuple[DataFrame, Column | Sequence[str], str]],
) -> DataFrame:
    """Chained multi-way join (J7; ``generate_data.py:235-245``). Catalyst
    reorders/plans; caller wraps small sides in ``F.broadcast``."""
    out = base
    for other, on, how in others:
        out = out.join(other, on, how)
    return out


def date_dim_lookup(
    fact: DataFrame,
    dim_date: DataFrame,
    date_key_columns: Sequence[str],
    date_key: str = "dateKey",
    prefix_sep: str = "_",
) -> DataFrame:
    """Star-schema date-dimension lookup per dateKey column (J4;
    ``databricks_synapse_sql_writer.py:87-99``). Each lookup broadcasts the
    calendar; sentinel keys (<= 0 — "not yet occurred"/missing) stay null,
    matching the generated ``CASE WHEN dateKey > 0`` view SQL."""
    out = fact
    for c in date_key_columns:
        renamed = dim_date.select(
            F.col(date_key).alias(f"__dk_{c}"),
            *[
                F.col(x).alias(f"{c}{prefix_sep}{x}")
                for x in dim_date.columns
                if x != date_key
            ],
        )
        out = out.join(
            F.broadcast(renamed),
            (F.col(c) > 0) & (F.col(c) == F.col(f"__dk_{c}")),
            "left",
        ).drop(f"__dk_{c}")
    return out


def asof_previous(
    df: DataFrame,
    key: Sequence[str],
    order_by: str,
    value: str,
    out: str | None = None,
) -> DataFrame:
    """Nearest-prior value per key — as-of join against own history (J8;
    ``generate_data.py:551-555`` groupby-shift). One shuffle on ``key``,
    no self-join."""
    w = Window.partitionBy(*key).orderBy(F.col(order_by))
    return df.withColumn(out or f"prev_{value}", F.lag(value).over(w))


def range_clamp(
    df: DataFrame,
    bounds: DataFrame,
    key: Sequence[str],
    ts: str,
    lo: str,
    hi: str,
) -> DataFrame:
    """Keep rows whose ``ts`` falls in per-key [lo, hi] (J9;
    ``stats_forecast_predict.py:181-202``). ``bounds`` is one row per key —
    broadcast when small, shuffle-join otherwise (Catalyst decides)."""
    return df.join(bounds, list(key), "inner").filter(
        F.col(ts).between(F.col(lo), F.col(hi))
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    by: Sequence[str] = (),
    bucket_size: int | None = None,
) -> DataFrame:
    """Point-in-interval join without a cartesian product.

    Spark plans a bare ``p.t BETWEEN i.lo AND i.hi`` join as
    broadcast-nested-loop (or worse, cartesian) — quadratic row visits.
    This bucketizes: each interval is exploded to the coarse buckets it
    covers, each point maps to exactly one bucket, and the match becomes
    an equi-join on (``by``…, bucket) plus a residual BETWEEN filter.
    Every (point, interval) pair meets in exactly one bucket (the
    point's), so no dedup is needed. Cost: |intervals| × avg-buckets-
    per-interval extra rows on the build side — pick ``bucket_size``
    near the median interval width so that factor stays ~2.

    ``point_col``/``lo_col``/``hi_col`` must be numeric (cast timestamps
    to epoch first). Defaults ``bucket_size`` to the average interval
    width (one tiny agg) when not given."""
    if bucket_size is None:
        row = intervals.agg(
            F.ceil(F.avg(F.col(hi_col) - F.col(lo_col))).alias("w")
        ).first()
        bucket_size = int(max(row["w"] or 1, 1))
    b = F.lit(bucket_size)
    pts = points.withColumn("__bkt", F.floor(F.col(point_col) / b))
    ivs = intervals.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / b), F.floor(F.col(hi_col) / b)
            )
        ),
    )
    return (
        pts.join(ivs, [*by, "__bkt"])
        .filter(F.col(point_col).between(F.col(lo_col), F.col(hi_col)))
        .drop("__bkt")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """True two-table as-of join (pandas ``merge_asof`` semantics):
    for every left row, the nearest right row per ``by`` key at or
    before (``backward``), at or after (``forward``), or closest to
    (``nearest``) the left ``on`` value; unmatched rows keep nulls
    (left-join semantics). Right columns colliding with left names get
    ``suffix``; the right ``on`` column survives as ``on + suffix``.

    Spark has no native as-of join; a window `lag` only works against a
    table's own history (:func:`asof_previous`). Union trick: tag and
    union both inputs, then one ordered window per key carries the
    nearest right ROW (packed as a struct so a null field inside a
    matched right row stays null, exactly like merge_asof) onto every
    left row:

    - ``backward``: last right-struct over (t asc, left-after-right at
      equal t) → nearest right at-or-before; ties at equal t match.
    - ``forward``: same with t desc → nearest right at-or-after.
    - ``nearest``: both of the above, the forward window re-sorting the
      same shuffled partitions; the backward row wins when
      ``t - t_back <= t_fwd - t``. That is pandas' tie rule: at equal
      distance the earlier row is taken, and an exact match (distance
      0, the same row on both sides) always wins.

    One shuffle on ``by`` + one sort + one window (two of each sort and
    window for ``nearest``, still one shuffle) — no Python, no Arrow
    transfer, whole-stage codegen end to end, and no per-key memory
    bound: every frame runs from the partition start to the current
    row, so the window streams. (A ``first`` over ``(0,
    unboundedFollowing)`` would buffer the whole key and re-aggregate
    its tail for every row — quadratic per key.) A key's history still
    sorts inside one task; :func:`asof_join_salted` is the hot-key path.
    Like merge_asof, deterministic tie-breaks need a right side unique
    per (``by``, ``on``)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("asof_join supports backward/forward/nearest")
    by = list(by)
    unified, r_value_cols = _asof_unified(left, right, on, by, suffix)

    def carried(t_order: Column) -> Column:
        w = Window.partitionBy(*by).orderBy(t_order, F.col("__is_left").asc())
        return F.last("__r", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )

    back, fwd = carried(F.col("__t").asc()), carried(F.col("__t").desc())
    if direction == "nearest":
        t, r_t = F.col("__t"), on + suffix
        matched = (
            unified.withColumn("__b", back)
            .withColumn("__f", fwd)
            .filter(F.col("__is_left") == 1)
            .withColumn("__m", F.when(
                F.col("__b").isNull()
                | (t - F.col("__b")[r_t] > F.col("__f")[r_t] - t),
                F.col("__f"),
            ).otherwise(F.col("__b")))
        )
    else:
        matched = unified.withColumn(
            "__m", back if direction == "backward" else fwd
        ).filter(F.col("__is_left") == 1)
    return matched.select(
        *left.columns,
        *[F.col("__m").getField(c).alias(c) for c in r_value_cols],
    )


def _asof_unified(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    suffix: str,
) -> tuple[DataFrame, list[str]]:
    """Shared construction for the union-trick as-of joins: tag both
    inputs, pack the right row as a nullable struct ``__r``, align
    schemas, union. Returns (unified frame with ``__t``/``__is_left``/
    ``__r``, right value column names)."""
    left_names = set(left.columns)
    rename = {
        c: c + suffix
        for c in right.columns
        if c not in by and c != on and c in left_names
    }
    r = right
    for old, new in rename.items():
        r = r.withColumnRenamed(old, new)
    r = r.withColumnRenamed(on, on + suffix)
    r_value_cols = [c for c in r.columns if c not in by]

    l_tag = left.withColumn("__r", F.lit(None).cast(
        "struct<" + ",".join(
            f"`{f.name}`:{f.dataType.simpleString()}"
            for f in r.select(*r_value_cols).schema.fields
        ) + ">"
    )).withColumn("__t", F.col(on)).withColumn("__is_left", F.lit(1))
    r_tag = r.withColumn("__r", F.struct(*r_value_cols)).select(
        *by,
        F.col(on + suffix).alias("__t"),
        F.lit(0).alias("__is_left"),
        "__r",
    )
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(l_tag.dtypes)[c]))
    unified = l_tag.select(*left.columns, "__t", "__is_left", "__r").unionByName(
        r_tag.select(*left.columns, "__t", "__is_left", "__r")
    )
    return unified, r_value_cols


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    bucket_width: int | None = None,
    direction: str = "backward",
    suffix: str = "_right",
    target_buckets: int = 256,
) -> DataFrame:
    """Skew-resistant as-of join — the hot-key path.

    :func:`asof_join` sorts each ``by`` key inside ONE task; a
    key owning most of the table (one hot user, a global as-of with
    ``by=()``) serializes the whole join. This variant salts the time
    axis the way ``windows.salted_cumsum`` salts cumulative sums:

    1. bucket every row by ``floor(t / bucket_width)`` and run the
       within-(key, bucket) ordered window — hot keys now parallelize
       across their time buckets;
    2. reduce the right side to one "latest row" struct per (key,
       bucket) — an O(buckets) table;
    3. carry that seed across buckets with a second window over the
       TINY per-bucket table (partitioned by key, ordered by bucket),
       giving each bucket the nearest right row from any earlier
       bucket;
    4. join the carry back on (key, bucket) — AQE broadcasts the
       spine — and ``coalesce(within_bucket_match, carry)``.

    Same result set as :func:`asof_join` (equivalence-tested; same
    DuckDB ASOF oracle in the catalog), backward/forward only. Requires
    a numeric ``on`` column and — like :func:`asof_join` — a right side
    unique per
    (``by``, ``on``) for deterministic tie-breaks. Pick
    ``bucket_width`` so a hot key spreads over 10–1000 buckets
    (e.g. 1h of epoch-micros for a day-scale table); ``None`` sizes it
    from the left side's global time span (one tiny agg) to
    ``target_buckets`` buckets."""
    if direction not in ("backward", "forward"):
        raise ValueError("asof_join_salted supports backward/forward")
    by = list(by)
    if bucket_width is None:
        row = left.agg(
            F.min(F.col(on)).alias("lo"), F.max(F.col(on)).alias("hi")
        ).first()
        span = (row["hi"] or 0) - (row["lo"] or 0)
        bucket_width = int(max(span // max(target_buckets, 1), 1))
    unified, r_value_cols = _asof_unified(left, right, on, by, suffix)
    left_cols = [c for c in unified.columns if c not in ("__t", "__is_left", "__r")]

    b = F.lit(int(bucket_width))
    u = unified.withColumn("__bkt", F.floor(F.col("__t") / b))
    back = direction == "backward"
    order = [
        F.col("__t").asc() if back else F.col("__t").desc(),
        F.col("__is_left").asc(),
    ]
    w_local = (
        Window.partitionBy(*by, "__bkt")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn("__m_local", F.last("__r", ignorenulls=True).over(w_local))

    # per-(key, bucket) nearest-to-boundary right row: max __t for
    # backward (last in bucket), min for forward (first in bucket) —
    # struct comparison orders on __t first, deterministic because the
    # right side is unique per (by, on)
    seed_struct = F.struct(F.col("__t"), F.col("__r"))
    seed_agg = F.max(seed_struct) if back else F.min(seed_struct)
    seeds = (
        u.filter(F.col("__is_left") == 0)
        .groupBy(*by, "__bkt")
        .agg(seed_agg.alias("__s"))
        .select(*by, "__bkt", F.col("__s").getField("__r").alias("__seed"))
    )
    spine = u.select(*by, "__bkt").distinct()
    w_carry = (
        Window.partitionBy(*by)
        .orderBy(F.col("__bkt").asc() if back else F.col("__bkt").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        spine.join(seeds, [*by, "__bkt"], "left")
        .withColumn("__carry", F.last("__seed", ignorenulls=True).over(w_carry))
        .select(*by, "__bkt", "__carry")
    )
    matched = (
        u.join(carry, [*by, "__bkt"], "left")
        .withColumn("__m", F.coalesce("__m_local", "__carry"))
        .filter(F.col("__is_left") == 1)
    )
    return matched.select(
        *left_cols,
        *[F.col("__m").getField(c).alias(c) for c in r_value_cols],
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot fact key over
    ``n_salts`` sub-partitions and replicate the (small) right side once
    per salt, so no single reducer owns a hot key's entire payload.

    AQE's skew-join split covers most batch cases; this explicit form is
    for where AQE cannot re-plan — streaming joins, joins feeding a
    window that must keep the salt, or fixed-parallelism jobs (the
    reference pins AQE off for its big RandomForest prep,
    ``spark_randomforest.py:10-12``). The fact-side salt derives from a
    whole-row hash (deterministic, uniform); result multiset equals the
    plain join — for inner/left/semi/anti ONLY. Right/full outer would
    emit each unmatched dim row once per salt (it exists under every
    salt value), so those modes are rejected. Right-side replication
    costs |dim| × n_salts rows — keep it for dimension-sized rights."""
    ok = {"inner", "left", "leftouter", "left_outer", "semi", "leftsemi",
          "left_semi", "anti", "leftanti", "left_anti", "cross"}
    if how.lower() not in ok:
        raise ValueError(
            f"salted_join(how={how!r}): right/full outer joins would "
            f"duplicate unmatched dim rows n_salts times; use a plain "
            f"join (AQE skew handling) for those modes"
        )
    salt = F.pmod(F.xxhash64(F.struct(*facts.columns)), F.lit(n_salts))
    f = facts.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, [*keys, "__salt"], how).drop("__salt")
