"""Changeset-merge engine: SCD2 upserts without SQL strings (SURVEY §7
step 5; reference ``DataEngineering/DataBricks/merge_generator.py``).

The reference composes a giant ``MERGE INTO`` string with a UNION-ALL
"NULL MERGEKEY" source so one statement can both UPDATE the expiring
current row and INSERT its replacement (``merge_generator.py:123-206``).
Here the same semantics are a *functional* DataFrame transform:

    new_target = apply_changeset(target, changeset, ...)

built as ONE full-outer join of the current slice with the changeset:
every joined row emits its kept-or-expired current row plus, for a new
or changed key, the inserted version — the UNION-ALL source as a
generator rather than a second join — while history rows pass through
in a union outside every exchange. On Delta the transform becomes two
``DeltaTable.merge`` passes (expire, insert) — the builder is gated on
delta-spark — and on parquet a full rewrite (``txlog.overwrite``),
which at lake scale you'd partition-prune with the data-skipping
predicate exactly like the reference's injected ``c.{col} >=
'{scalar}'`` conditions (``merge_generator.py:68-78``).

Change detection is a null-safe row hash over the non-housekeeping
columns (J6): the reference's generated ``WHERE NOT (c.a = cs.a AND …)``
misses NULL→value transitions (SQL NULL semantics); xxhash64 of a struct
treats NULL as a distinct value — deliberate, documented improvement.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.functions.dates import (
    DATE_KEY_OPEN_END,
    date_key,
)
from azuredataengineering_deeplearning_spark.functions.strings import sql_ident

HOUSEKEEPING = ("effectiveDate", "expirationDate", "currentVersion")


def row_change_hash(columns: Sequence[str]) -> F.Column:
    """J6: null-safe row fingerprint over attribute columns."""
    return F.xxhash64(F.struct(*[F.col(c) for c in columns]))


def reconcile_schema(target: DataFrame, changeset: DataFrame, ignore: Sequence[str] = ()) -> DataFrame:
    """Schema-drift reconciliation (``merge_generator.py:42-65``): add
    changeset-only columns to the target as typed NULLs — the functional
    analog of ``ALTER TABLE … ADD COLUMNS``."""
    existing = set(target.columns)
    drifted = [
        f for f in changeset.schema.fields
        if f.name not in existing and f.name not in ignore
    ]
    out = target
    for f in drifted:
        out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


def initial_load(
    changeset: DataFrame,
    natural_key: Sequence[str],
    change_ts: str,
    open_end: int = DATE_KEY_OPEN_END,
) -> DataFrame:
    """Batch 0: every changeset row becomes the current version."""
    return (
        changeset.withColumn("effectiveDate", date_key(change_ts))
        .withColumn("expirationDate", F.lit(open_end))
        .withColumn("currentVersion", F.lit(1).cast("tinyint"))
    )


def apply_changeset(
    target: DataFrame,
    changeset: DataFrame,
    natural_key: Sequence[str],
    change_ts: str,
    compare_cols: Sequence[str] | None = None,
    open_end: int = DATE_KEY_OPEN_END,
) -> DataFrame:
    """One SCD2 merge batch → the new target table.

    Row fates (``merge_generator.py:123-206`` semantics):
    - history rows (currentVersion = 0): pass through untouched;
    - current row with a *changed* incoming key: expired — expiration =
      incoming effective - 1 day, currentVersion = 0;
    - current row with unchanged/absent incoming key: pass through;
    - changed/new incoming rows: inserted as the new current version.

    ONE full-outer join of the current slice with the changeset on the
    natural key (one shuffle per side); each joined row emits its
    kept-or-expired current row and, for a new or changed key, its
    insert — the reference's UNION-ALL "NULL MERGEKEY" source as one
    generator instead of a second join. History is a pass-through union
    outside every exchange (at scale: partition-prune it away entirely
    with the data-skip predicate)."""
    if compare_cols is None:
        compare_cols = [
            c for c in changeset.columns
            if c not in set(natural_key) | {change_ts} | set(HOUSEKEEPING)
        ]

    cols = target.columns
    history = target.filter(F.col("currentVersion") != 1)
    current = target.filter(F.col("currentVersion") == 1)

    eff = date_key(change_ts)
    cs = changeset.select(
        *[F.col(k).alias(f"__k_{k}") for k in natural_key],
        eff.alias("__cs_eff"),
        date_key(F.date_sub(F.to_date(eff.cast("string"), "yyyyMMdd"), 1)).alias("__cs_exp"),
        row_change_hash(compare_cols).alias("__cs_hash"),
        F.struct(*[c for c in cols if c not in HOUSEKEEPING]).alias("__cs"),
    )
    joined = current.withColumn("__t_hash", row_change_hash(compare_cols)).join(
        cs,
        [F.col(k) == F.col(f"__k_{k}") for k in natural_key],
        "full_outer",
    )
    # the two emitted rows are one SQL expression (built column by column
    # the Py4J calls cost more than the join); xxhash64 is never NULL, so
    # a NULL hash means "no row on that side"
    changed = "(__cs_hash IS NOT NULL AND __cs_hash != __t_hash)"
    kept = {c: sql_ident(c) for c in cols} | {
        "expirationDate": f"IF({changed}, __cs_exp, expirationDate)",
        "currentVersion": f"CAST(IF({changed}, 0, currentVersion) AS TINYINT)",
    }
    inserted = {c: f"__cs.{sql_ident(c)}" for c in cols if c not in HOUSEKEEPING} | {
        "effectiveDate": "__cs_eff",
        "expirationDate": str(open_end),
        "currentVersion": "CAST(1 AS TINYINT)",
    }

    def row(values: dict) -> str:
        return "struct(" + ", ".join(f"{values[c]} AS {sql_ident(c)}" for c in cols) + ")"

    merged = joined.selectExpr(
        f"inline(filter(array(IF(__t_hash IS NOT NULL, {row(kept)}, NULL), "
        f"IF(__cs_hash IS NOT NULL AND (__t_hash IS NULL OR {changed}), "
        f"{row(inserted)}, NULL)), r -> r IS NOT NULL))"
    )
    return history.select(*cols).unionByName(merged)


def apply_changeset_path(
    spark,
    target_path: str,
    changeset: DataFrame,
    natural_key: Sequence[str],
    change_ts: str,
    compare_cols: Sequence[str] | None = None,
    skip_predicate: str | None = None,
    open_end: int = DATE_KEY_OPEN_END,
) -> None:
    """Parquet-backed merge-in-place: the SAME clause logic as the
    Delta path (``apply_changeset_delta``), executable without
    delta-spark — read target, reconcile schema drift (the ALTER-ADD
    analog, ``merge_generator.py:42-65``), scope the merge with the
    data-skipping predicate (``merge_generator.py:68-78``: rows the
    predicate excludes provably cannot match and bypass the join
    entirely), apply the SCD2 changeset, atomically swap the rewritten
    table into place.

    On Delta the skip predicate prunes files via the transaction log's
    min/max stats; here it prunes ROWS from the join scope — the same
    contract (predicate must be satisfied by every row that could
    match; tested) with parquet's coarser granularity. The rewrite is
    staged then ``os.rename``-swapped so a crash never leaves a
    half-written target."""
    import os
    import shutil

    target = spark.read.parquet(target_path)
    target = reconcile_schema(target, changeset, ignore=(change_ts,))
    if skip_predicate is not None:
        scope = target.filter(F.expr(skip_predicate))
        exempt = target.filter(
            ~F.coalesce(F.expr(skip_predicate), F.lit(False))
        )
    else:
        scope, exempt = target, None
    merged = apply_changeset(
        scope, changeset, natural_key, change_ts, compare_cols, open_end
    )
    if exempt is not None:
        merged = merged.unionByName(exempt.select(*merged.columns))
    staging = f"{target_path}__staging"
    merged.write.mode("overwrite").parquet(staging)
    old = f"{target_path}__old"
    os.rename(target_path, old)
    os.rename(staging, target_path)
    shutil.rmtree(old)


def apply_changeset_delta(
    spark,
    target_path: str,
    changeset: DataFrame,
    natural_key: Sequence[str],
    change_ts: str,
    compare_cols: Sequence[str] | None = None,
    skip_predicate: str | None = None,
) -> None:
    """Delta-native variant: expire-then-insert as two ``DeltaTable``
    operations (the UNION-ALL trick decomposed), with an optional
    data-skipping predicate ANDed into the match condition
    (``merge_generator.py:68-78``). No-op guarded when delta-spark is
    absent (this container)."""
    from azuredataengineering_deeplearning_spark.sources.writers import HAS_DELTA

    if not HAS_DELTA:
        raise NotImplementedError(
            "delta-spark not installed; use apply_changeset() on DataFrames"
        )
    from delta.tables import DeltaTable  # pragma: no cover (delta-only path)

    t = DeltaTable.forPath(spark, target_path)
    if compare_cols is None:
        compare_cols = [
            c for c in changeset.columns
            if c not in set(natural_key) | {change_ts} | set(HOUSEKEEPING)
        ]
    on = " AND ".join(f"t.{k} = s.{k}" for k in natural_key)
    if skip_predicate:
        on += f" AND ({skip_predicate})"
    cs = changeset.withColumn("__eff", date_key(change_ts)).withColumn(
        "__hash", row_change_hash(compare_cols)
    )
    # pass 1: expire changed current rows
    (
        t.alias("t")
        .merge(cs.alias("s"), f"{on} AND t.currentVersion = 1")
        .whenMatchedUpdate(
            condition=f"xxhash64(struct({', '.join('t.' + c for c in compare_cols)})) != s.__hash",
            set={
                "expirationDate": "cast(date_format(date_sub(to_date(cast(s.__eff as string), 'yyyyMMdd'), 1), 'yyyyMMdd') as int)",
                "currentVersion": "0",
            },
        )
        .execute()
    )
    # pass 2: insert new current versions (new keys or changed rows —
    # the changed row's old version was flipped to 0 in pass 1, so it no
    # longer matches). Housekeeping columns are set explicitly:
    # insertAll would leave them NULL (the source has no such columns).
    values = {c: f"s.{c}" for c in changeset.columns if c != change_ts}
    values[change_ts] = f"s.{change_ts}"
    values["effectiveDate"] = "s.__eff"
    values["expirationDate"] = str(DATE_KEY_OPEN_END)
    values["currentVersion"] = "cast(1 as tinyint)"
    (
        t.alias("t")
        .merge(cs.alias("s"), f"{on} AND t.currentVersion = 1")
        .whenNotMatchedInsert(values=values)
        .execute()
    )
