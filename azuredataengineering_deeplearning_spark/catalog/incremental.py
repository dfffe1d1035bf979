"""Catalog: incremental aggregate maintenance, snapshot CDC diff, and
key-skew profiling.

The maintenance query proves the core claim — folding a changeset into
a pre-aggregated state equals a full recompute (the oracle aggregates
the whole table in one pass; the Spark side never does).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import dec, sql_sum
from azuredataengineering_deeplearning_spark.operators import incremental as I
from azuredataengineering_deeplearning_spark.operators.profile import key_skew_profile
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, read_parquet

_SPEC = {
    "n_orders": ("count", None),
    "total_price": ("sum", "o_totalprice"),
    "last_order": ("max", "o_orderdate"),
}


@query(
    "inc_agg_maintenance",
    f"""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_sum("o_totalprice", "total_price")},
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_order
    FROM orders GROUP BY o_custkey
    """,
)
def inc_agg_maintenance(spark, sf_dir):
    """Maintain a per-customer rollup across three changeset batches and
    match a full recompute bit-for-bit (decimal sum accumulation makes
    the merge order irrelevant). Batches are date slices of orders; the
    merge shuffles state rows only — O(distinct keys), not O(facts)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    b1 = o.filter(F.col("o_orderdate") < "1995-01-01")
    b2 = o.filter((F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01"))
    b3 = o.filter(F.col("o_orderdate") >= "1997-01-01")
    keys = ["o_custkey"]
    state = I.aggregate_batch(b1, keys, _SPEC)
    state = I.incremental_update(state, b2, keys, _SPEC)
    state = I.incremental_update(state, b3, keys, _SPEC)
    return I.finalize_state(state, _SPEC).withColumn(
        "last_order", F.col("last_order").cast("timestamp")
    )


@query(
    "cdc_table_diff",
    """
    WITH l AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    r AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
           CASE WHEN r.o_orderkey IS NULL THEN 'removed'
                WHEN l.o_orderkey IS NULL THEN 'added'
                WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice
                  OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                THEN 'changed'
                ELSE 'unchanged' END AS diff_status
    FROM l FULL JOIN r ON l.o_orderkey = r.o_orderkey
    WHERE l.o_orderkey IS NULL OR r.o_orderkey IS NULL
       OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
       OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
    """,
)
def cdc_table_diff(spark, sf_dir):
    """Snapshot CDC between two synthetic versions of orders (rows
    dropped, added, and price-bumped by key arithmetic): classify every
    key as added/removed/changed with a fingerprint join that shuffles
    ~16 bytes/row regardless of table width."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    left = o.filter(F.col("o_orderkey") % 10 != 0)
    right = o.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    return I.table_diff(left, right, ["o_orderkey"])


@query(
    "prof_key_skew",
    """
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             MAX(cnt) AS max_cnt
      FROM c
    ),
    t AS (
      SELECT user_id, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank
      FROM c QUALIFY rank <= 15
    )
    SELECT t.user_id, t.cnt, t.rank,
           CAST(t.cnt AS DOUBLE) / s.total AS share,
           CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.total AS skew_ratio
    FROM t CROSS JOIN s
    """,
)
def prof_key_skew(spark, sf_dir):
    """Heavy-hitter / skew diagnosis over events.user_id — the input to
    every salt-or-broadcast decision the engine makes."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return key_skew_profile(ev, ["user_id"], top_n=15)


@query(
    "cdc_table_checksum",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST('0x' || substr(md5(
                 concat_ws(chr(31),
                   COALESCE(CAST(o_orderkey AS VARCHAR), chr(0)),
                   COALESCE(o_orderstatus, chr(0)),
                   COALESCE(o_orderpriority, chr(0))
                 )), 1, 15) AS BIGINT) AS HUGEINT)) AS VARCHAR) AS checksum
    FROM orders
    """,
)
def cdc_table_checksum(spark, sf_dir):
    """Portable order-independent table checksum: two environments
    compare a whole table by exchanging (n_rows, checksum) — the
    md5-60bit row hash sums identically here and in DuckDB."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return I.table_checksum(o, ["o_orderkey", "o_orderstatus", "o_orderpriority"])


@query(
    "cdc_partition_sync_plan",
    """
    WITH l AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(CAST('0x' || substr(md5(
                   COALESCE(CAST(o_orderkey AS VARCHAR), chr(0))
                 ), 1, 15) AS BIGINT) AS HUGEINT)) AS VARCHAR) AS checksum
      FROM orders GROUP BY o_orderpriority
    ),
    r AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(CAST('0x' || substr(md5(
                   COALESCE(CAST(o_orderkey AS VARCHAR), chr(0))
                 ), 1, 15) AS BIGINT) AS HUGEINT)) AS VARCHAR) AS checksum
      FROM orders WHERE o_orderkey % 11 <> 0 GROUP BY o_orderpriority
    )
    SELECT COALESCE(l.o_orderpriority, r.o_orderpriority) AS o_orderpriority,
           CASE WHEN r.o_orderpriority IS NULL THEN 'removed'
                WHEN l.o_orderpriority IS NULL THEN 'added'
                WHEN l.checksum IS DISTINCT FROM r.checksum
                  OR l.n_rows IS DISTINCT FROM r.n_rows THEN 'changed'
                ELSE 'unchanged' END AS diff_status
    FROM l FULL JOIN r ON l.o_orderpriority = r.o_orderpriority
    WHERE l.o_orderpriority IS NULL OR r.o_orderpriority IS NULL
       OR l.checksum IS DISTINCT FROM r.checksum
       OR l.n_rows IS DISTINCT FROM r.n_rows
    """,
)
def cdc_partition_sync_plan(spark, sf_dir):
    """Incremental sync planning end-to-end: checksum each priority
    partition of two table versions (one with rows dropped), diff the
    O(partitions) checksum tables, and emit only partitions needing
    re-sync — metadata-sized output for a 100 TB comparison."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    left = I.partition_checksums(o, ["o_orderpriority"], ["o_orderkey"])
    right = I.partition_checksums(
        o.filter(F.col("o_orderkey") % 11 != 0), ["o_orderpriority"], ["o_orderkey"]
    )
    return I.table_diff(left, right, ["o_orderpriority"])


@query(
    "inc_cdf_gold",
    f"""
    WITH changed AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT o_custkey,
           {sql_sum("price", "total_price")}
    FROM changed GROUP BY o_custkey
    """,
)
def inc_cdf_gold(spark, sf_dir):
    """The lakehouse capstone round trip: bronze orders land in a
    transaction-logged table, a MERGE doubles the price of every 97th
    order, and the GOLD per-customer revenue is maintained
    INCREMENTALLY from the merge's change data feed — add postimages,
    subtract preimages — never re-scanning bronze. The oracle recomputes
    gold from scratch on the changed data; exact-decimal sums make the
    incremental path bit-identical to the recompute."""
    import os as _os
    import tempfile as _tf

    from azuredataengineering_deeplearning_spark.sources import txlog as TX

    src = f"{sf_dir}/orders.parquet"
    base = read_parquet(
        spark, src, columns=["o_orderkey", "o_custkey", "o_totalprice"]
    )
    st = _os.stat(src)
    tag = f"{_os.path.basename(sf_dir.rstrip('/'))}_{int(st.st_mtime)}_{st.st_size}"
    table = _os.path.join(_tf.gettempdir(), f"ades_cdfgold_{tag}")
    if not _os.path.isdir(_os.path.join(table, "_txlog")):
        TX.overwrite(base, table, target_files=4)
        changeset = base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        TX.merge(spark, table, changeset, ["o_orderkey"])
    # gold state BEFORE the merge (from the pre-merge snapshot)...
    gold0 = (
        TX.read(spark, table, version=0)
        .groupBy("o_custkey")
        .agg(
            F.sum(dec("o_totalprice")).alias("__t")
        )
    )
    # ...maintained forward with ONLY the change feed
    ch = TX.read_changes(spark, table, from_version=1)
    signed = ch.withColumn(
        "__d",
        F.when(
            F.col("_change_type") == "update_preimage",
            -dec("o_totalprice"),
        ).otherwise(dec("o_totalprice")),
    )
    delta = signed.groupBy("o_custkey").agg(F.sum("__d").alias("__d"))
    return (
        gold0.join(delta, "o_custkey", "left")
        .select(
            "o_custkey",
            (
                F.col("__t") + F.coalesce(F.col("__d"), dec("0"))
            )
            .cast("double")
            .alias("total_price"),
        )
    )


_HQ_BOUNDS = [50_000.0, 100_000.0, 200_000.0, 300_000.0, 400_000.0]


def _hq_oracle() -> str:
    """Generate the DuckDB mirror of incremental.hist_quantiles for the
    o_totalprice histogram: same bucket CASE, same first-hit
    interpolation, same edge clamps."""
    bounds = _HQ_BOUNDS
    n = len(bounds) + 1
    bucket = " + ".join(
        f"(CASE WHEN CAST(o_totalprice AS DOUBLE) >= {b} THEN 1 ELSE 0 END)"
        for b in bounds
    )
    counts = ",\n".join(
        f"SUM(CASE WHEN ({bucket}) = {i} THEN 1 ELSE 0 END) AS c{i}"
        for i in range(n)
    )
    total = " + ".join(f"c{i}" for i in range(n))

    def est(prob: str) -> str:
        expr = None
        for i in reversed(range(n)):
            lo = bounds[i - 1] if i > 0 else bounds[0]
            hi = bounds[i] if i < len(bounds) else bounds[-1]
            before = " + ".join(f"c{j}" for j in range(i)) or "0"
            frac = (
                f"(CASE WHEN c{i} > 0 THEN (({prob}) * tot - ({before})) * 1.0 / c{i} "
                f"ELSE 0.0 END)"
            )
            e = f"LEAST(GREATEST({lo} + {frac} * ({hi} - {lo}), {lo}), {hi})"
            if expr is None:
                expr = e
            else:
                expr = (
                    f"CASE WHEN ({before}) + c{i} >= ({prob}) * tot "
                    f"THEN {e} ELSE {expr} END"
                )
        return expr

    return f"""
    WITH c AS (
      SELECT o_orderpriority, {counts}
      FROM orders GROUP BY o_orderpriority
    ),
    t AS (SELECT *, CAST({total} AS DOUBLE) AS tot FROM c)
    SELECT o_orderpriority,
           CAST(tot AS BIGINT) AS n,
           CASE WHEN tot > 0 THEN {est('0.5')} END AS q5,
           CASE WHEN tot > 0 THEN {est('0.9')} END AS q9
    FROM t
    """


@query("inc_hist_quantiles", _hq_oracle())
def inc_hist_quantiles(spark, sf_dir):
    """Approximate per-priority price percentiles from the mergeable
    histogram state — the streaming/incremental percentile path: bucket
    counts fold batch-by-batch (integer vector add), quantiles finalize
    by in-bucket interpolation. Oracle mirrors the exact arithmetic."""
    from azuredataengineering_deeplearning_spark.operators import (
        incremental as INC,
    )

    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    spec = {"n": ("count", None), "h": ("hist", ("o_totalprice", _HQ_BOUNDS))}
    state = INC.aggregate_batch(o, ["o_orderpriority"], spec)
    q = INC.hist_quantiles(state, "h", _HQ_BOUNDS, [0.5, 0.9])
    return q.select(
        "o_orderpriority", F.col("n").cast("long").alias("n"), "q5", "q9"
    )


def _psi_oracle() -> str:
    """DuckDB mirror of psi_from_hists over the o_totalprice histogram
    (ref = even orderkeys, cur = odd), same bounds as inc_hist_quantiles."""
    bounds = _HQ_BOUNDS
    n = len(bounds) + 1
    bucket = " + ".join(
        f"(CASE WHEN CAST(o_totalprice AS DOUBLE) >= {b} THEN 1 ELSE 0 END)"
        for b in bounds
    )

    def counts(side: str, parity: int) -> str:
        cs = ",\n".join(
            f"SUM(CASE WHEN ({bucket}) = {i} THEN 1 ELSE 0 END) AS {side}{i}"
            for i in range(n)
        )
        return (
            f"SELECT o_orderpriority, {cs} FROM orders "
            f"WHERE o_orderkey % 2 = {parity} GROUP BY o_orderpriority"
        )

    tot_r = " + ".join(f"r{i}" for i in range(n))
    tot_c = " + ".join(f"c{i}" for i in range(n))
    terms = " + ".join(
        f"(GREATEST(r{i} * 1.0 / tr, 1e-6) - GREATEST(c{i} * 1.0 / tc, 1e-6))"
        f" * (LN(GREATEST(r{i} * 1.0 / tr, 1e-6)) - LN(GREATEST(c{i} * 1.0 / tc, 1e-6)))"
        for i in range(n)
    )
    return f"""
    WITH r AS ({counts('r', 0)}),
    c AS ({counts('c', 1)}),
    j AS (
      SELECT r.o_orderpriority,
             CAST({tot_r} AS DOUBLE) AS tr, CAST({tot_c} AS DOUBLE) AS tc,
             {', '.join(f'r{i}' for i in range(n))},
             {', '.join(f'c{i}' for i in range(n))}
      FROM r JOIN c ON r.o_orderpriority = c.o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(tr AS BIGINT) AS n_ref, CAST(tc AS BIGINT) AS n_cur,
           CASE WHEN tr > 0 AND tc > 0 THEN {terms} END AS psi
    FROM j
    """


@query("inc_psi_drift", _psi_oracle())
def inc_psi_drift(spark, sf_dir):
    """PSI drift between two mergeable price histograms (even vs odd
    orderkeys per priority) — the streaming drift readout: reference
    state fixed, current state folds per batch, drift is an O(keys)
    join + O(bins) arithmetic."""
    from azuredataengineering_deeplearning_spark.operators import (
        incremental as INC,
    )

    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    spec = {"h": ("hist", ("o_totalprice", _HQ_BOUNDS))}
    ref = INC.aggregate_batch(
        o.filter(F.col("o_orderkey") % 2 == 0), ["o_orderpriority"], spec
    )
    cur = INC.aggregate_batch(
        o.filter(F.col("o_orderkey") % 2 == 1), ["o_orderpriority"], spec
    )
    return INC.psi_from_hists(ref, cur, ["o_orderpriority"], "h")


def _ks_oracle() -> str:
    """DuckDB mirror of ks_from_hists on the same ref/cur split as
    inc_psi_drift."""
    bounds = _HQ_BOUNDS
    n = len(bounds) + 1
    bucket = " + ".join(
        f"(CASE WHEN CAST(o_totalprice AS DOUBLE) >= {b} THEN 1 ELSE 0 END)"
        for b in bounds
    )

    def counts(side: str, parity: int) -> str:
        cs = ",\n".join(
            f"SUM(CASE WHEN ({bucket}) = {i} THEN 1 ELSE 0 END) AS {side}{i}"
            for i in range(n)
        )
        return (
            f"SELECT o_orderpriority, {cs} FROM orders "
            f"WHERE o_orderkey % 2 = {parity} GROUP BY o_orderpriority"
        )

    tot_r = " + ".join(f"r{i}" for i in range(n))
    tot_c = " + ".join(f"c{i}" for i in range(n))
    edges = ", ".join(
        "ABS(("
        + " + ".join(f"r{j}" for j in range(i + 1))
        + ") * 1.0 / tr - ("
        + " + ".join(f"c{j}" for j in range(i + 1))
        + ") * 1.0 / tc)"
        for i in range(n)
    )
    return f"""
    WITH r AS ({counts('r', 0)}),
    c AS ({counts('c', 1)}),
    j AS (
      SELECT r.o_orderpriority,
             CAST({tot_r} AS DOUBLE) AS tr, CAST({tot_c} AS DOUBLE) AS tc,
             {', '.join(f'r{i}' for i in range(n))},
             {', '.join(f'c{i}' for i in range(n))}
      FROM r JOIN c ON r.o_orderpriority = c.o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(tr AS BIGINT) AS n_ref, CAST(tc AS BIGINT) AS n_cur,
           CASE WHEN tr > 0 AND tc > 0 THEN GREATEST({edges}) END AS ks
    FROM j
    """


@query("inc_ks_drift", _ks_oracle())
def inc_ks_drift(spark, sf_dir):
    """Binned KS drift between the two mergeable price histograms —
    max CDF gap at bucket edges from O(bins) state, no value rescan."""
    from azuredataengineering_deeplearning_spark.operators import (
        incremental as INC,
    )

    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    spec = {"h": ("hist", ("o_totalprice", _HQ_BOUNDS))}
    ref = INC.aggregate_batch(
        o.filter(F.col("o_orderkey") % 2 == 0), ["o_orderpriority"], spec
    )
    cur = INC.aggregate_batch(
        o.filter(F.col("o_orderkey") % 2 == 1), ["o_orderpriority"], spec
    )
    return INC.ks_from_hists(ref, cur, ["o_orderpriority"], "h")
