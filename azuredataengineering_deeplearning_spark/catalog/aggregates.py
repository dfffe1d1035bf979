"""Catalog: aggregation operators A2-A13 over the driver testdata."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import (
    exact_avg,
    sql_avg,
    sql_dec,
    sql_sum,
    sql_sum_wide,
)
from azuredataengineering_deeplearning_spark.operators import aggregates as A
from azuredataengineering_deeplearning_spark.sources.readers import (
    load_tables,
    read_parquet,
)


@query(
    "a2_global_mean",
    f"SELECT {sql_avg('c_acctbal', 'mean_acctbal')}, COUNT(*) AS n FROM customer",
)
def a2_global_mean(spark, sf_dir):
    """A2: ungrouped aggregate."""
    c = read_parquet(spark, f"{sf_dir}/customer.parquet")
    return A.global_agg(
        c, [exact_avg("c_acctbal", "mean_acctbal"), F.count(F.lit(1)).alias("n")]
    )


@query(
    "a4_nunique_per_group",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def a4_nunique_per_group(spark, sf_dir):
    """A4: per-group count distinct."""
    ev = read_parquet(spark, f"{sf_dir}/events.parquet", columns=["event_type", "user_id"])
    return A.nunique(ev, ["event_type"], "user_id", "n_users")


@query(
    "a5_group_having",
    """
    SELECT c_custkey, c_nationkey FROM customer
    QUALIFY COUNT(*) OVER (PARTITION BY c_nationkey) > 6
    """,
)
def a5_group_having(spark, sf_dir):
    """A5: keep rows of groups larger than a threshold (windowed count,
    no join-back)."""
    c = read_parquet(spark, f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"])
    return A.group_having(c, ["c_nationkey"], lambda n: n > 6)


@query(
    "a6_group_size_broadcast",
    """
    SELECT event_id, user_id, COUNT(*) OVER (PARTITION BY user_id) AS group_size
    FROM events
    """,
)
def a6_group_size_broadcast(spark, sf_dir):
    """A6: transform('count') — group size attached to every row."""
    ev = read_parquet(spark, f"{sf_dir}/events.parquet", columns=["event_id", "user_id"])
    return A.group_size_broadcast(ev, ["user_id"], "group_size")


@query(
    "a7_entropy",
    """
    WITH counts AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
    ), probs AS (
      SELECT lang, n / SUM(n) OVER (PARTITION BY lang) AS p FROM counts
    )
    SELECT lang, -SUM(p * LN(p)) AS entropy FROM probs GROUP BY lang
    """,
)
def a7_entropy(spark, sf_dir):
    """A7: Shannon entropy of the source mix per language — two chained
    aggregations, no UDAF (``generate_data.py:44-50`` parity)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet", columns=["lang", "source"])
    return A.entropy(d, ["lang"], "source", "entropy")


@query(
    "a8_zero_fraction",
    """
    SELECT l_returnflag,
           SUM(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) / COUNT(*) AS zero_frac
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a8_zero_fraction(spark, sf_dir):
    """A8: conditional count ratio per group
    (``stats_forecast_predict.py:281-294``)."""
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_tax"])
    return A.zero_fraction(li, ["l_returnflag"], "l_tax", "zero_frac")


@query(
    "a11_profile_aggregates",
    f"""
    WITH ent AS (
      WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY user_id, event_type
      ), probs AS (
        SELECT user_id, n / SUM(n) OVER (PARTITION BY user_id) AS p FROM counts
      )
      SELECT user_id, -SUM(p * LN(p)) AS type_entropy FROM probs GROUP BY user_id
    ),
    base AS (
      SELECT user_id, COUNT(*) AS n_events,
             COUNT(DISTINCT event_type) AS n_types,
             {sql_avg('value', 'mean_value')},
             quantile_cont(value, 0.5) AS median_value
      FROM events GROUP BY user_id
    )
    SELECT base.user_id, n_events, n_types, mean_value, median_value, type_entropy
    FROM base JOIN ent ON base.user_id = ent.user_id
    """,
)
def a11_profile_aggregates(spark, sf_dir):
    """A11: per-entity profile — count, nunique, mean, median, entropy
    (``generate_data.py:733-774``). Entropy joins back on the group key;
    both sides share the same shuffle partitioning."""
    ev = read_parquet(
        spark, f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "value"]
    )
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        exact_avg("value", "mean_value"),
        F.expr("percentile(value, 0.5)").alias("median_value"),
    )
    ent = A.entropy(ev, ["user_id"], "event_type", "type_entropy")
    return base.join(ent, ["user_id"], "inner").select(
        "user_id", "n_events", "n_types", "mean_value", "median_value", "type_entropy"
    )


@query(
    "a12_weighted_mean",
    f"""
    SELECT l_returnflag,
           {sql_sum_wide("l_extendedprice * l_quantity")}
           / {sql_sum("l_quantity")} AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a12_weighted_mean(spark, sf_dir):
    """A12-adjacent: weighted mean in exact fixed-point arithmetic."""
    li = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice", "l_quantity"],
    )
    return A.weighted_mean(li, ["l_returnflag"], "l_extendedprice", "l_quantity", "wavg_price")


@query(
    "a13_max_string_lengths",
    """
    SELECT MAX(LENGTH(p_name)) + 5 AS p_name,
           MAX(LENGTH(p_brand)) + 5 AS p_brand,
           MAX(LENGTH(p_type)) + 5 AS p_type
    FROM part
    """,
)
def a13_max_string_lengths(spark, sf_dir):
    """A13: varchar-DDL length profiling in one scan
    (``databricks_synapse_sql_writer.py:170-175``)."""
    p = read_parquet(spark, f"{sf_dir}/part.parquet")
    return A.max_string_lengths(p, ["p_name", "p_brand", "p_type"])


@query(
    "o_topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
      FROM orders
    ) WHERE rank <= 3
    """,
)
def o_topk_per_group(spark, sf_dir):
    """Top-3 orders by value per priority class — grouped top-k via one
    window pass (argmax_rows generalized to k rows + rank)."""
    t = load_tables(spark, sf_dir, ["orders"])
    return A.topk_per_group(
        t["orders"],
        ["o_orderpriority"],
        "o_totalprice",
        k=3,
        tiebreak=["o_orderkey"],
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")


@query(
    "a_quantile_buckets",
    """
    SELECT doc_id, lang, n_chars,
           CAST(NTILE(4) OVER (PARTITION BY lang
                ORDER BY n_chars, doc_id) AS INT) AS bucket
    FROM documents
    """,
)
def a_quantile_buckets(spark, sf_dir):
    """Per-language length quartiles (curriculum tiers) — ntile with a
    deterministic tiebreak."""
    t = load_tables(spark, sf_dir, ["documents"])
    return A.quantile_buckets(
        t["documents"], "n_chars", 4, keys=["lang"], tiebreak=["doc_id"]
    ).select("doc_id", "lang", "n_chars", "bucket")


@query(
    "a_bucket_by_bounds",
    """
    SELECT doc_id, n_chars,
           CAST(CASE WHEN n_chars < 150 THEN 0
                     WHEN n_chars < 300 THEN 1
                     WHEN n_chars < 450 THEN 2
                     ELSE 3 END AS INT) AS bucket
    FROM documents
    """,
)
def a_bucket_by_bounds(spark, sf_dir):
    """Boundary-cut bucketing — the map-only scale path for quantile
    tiers (bounds precomputed via approx percentiles)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return A.bucket_by_bounds(t["documents"], "n_chars", [150, 300, 450]).select(
        "doc_id", "n_chars", "bucket"
    )


@query(
    "a_hll_cardinality",
    """
    SELECT o_orderpriority, 1 AS within_bound
    FROM orders GROUP BY o_orderpriority
    """,
)
def a_hll_cardinality(spark, sf_dir):
    """Mergeable HLL distinct-count per group (Apache DataSketches):
    the scan-once-roll-up-forever cardinality path. The sketch value is
    engine-specific, so the oracle checks the accuracy CONTRACT instead
    of the raw estimate: per group, |est − exact| ≤ 5·rsd·exact (HLL
    lgK=12 has rsd ≈ 1.6%; 5σ headroom makes the flag deterministic in
    practice on any regenerated dataset). Tight accuracy is also
    pytest-pinned against exact countDistinct."""
    t = load_tables(spark, sf_dir, ["orders"])
    est = A.hll_cardinality(t["orders"], ["o_orderpriority"], "o_custkey")
    exact = t["orders"].groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("__exact")
    )
    rsd = 0.016
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        (
            F.abs(F.col("approx_distinct") - F.col("__exact"))
            <= 5 * rsd * F.col("__exact")
        ).cast("int").alias("within_bound"),
    )


@query(
    "a_histogram",
    """
    WITH b AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0) / 30000.0) AS INT), 0), 9) AS bin
      FROM orders
    )
    SELECT bin, bin * 30000.0 AS bin_lo, CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bin
    """,
)
def a_histogram(spark, sf_dir):
    """Fixed-width 10-bin histogram of order totals — O(bins) shuffle
    rows, edge-clamped."""
    t = load_tables(spark, sf_dir, ["orders"])
    return A.histogram(t["orders"], "o_totalprice", 10, 0.0, 300000.0)


@query(
    "a_rfm_segments",
    f"""
    WITH per AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             {sql_sum("o_totalprice", "monetary")}
      FROM orders GROUP BY o_custkey
    ), mxd AS (SELECT MAX(last_d) AS mx FROM per)
    SELECT o_custkey,
           CAST(date_diff('day', last_d, mx) AS INT) AS recency_days,
           frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY date_diff('day', last_d, mx) DESC, o_custkey) AS INT) AS r_score,
           CAST(NTILE(4) OVER (ORDER BY frequency ASC, o_custkey) AS INT) AS f_score,
           CAST(NTILE(4) OVER (ORDER BY monetary ASC, o_custkey) AS INT) AS m_score
    FROM per CROSS JOIN mxd
    """,
)
def a_rfm_segments(spark, sf_dir):
    """RFM quartile segmentation over orders (recency / frequency /
    monetary, higher = better) — one raw-table aggregate, then windows
    over the per-entity frame only."""
    t = load_tables(spark, sf_dir, ["orders"])
    return A.rfm_segments(t["orders"], "o_custkey", "o_orderdate", "o_totalprice")


@query(
    "a_cms_user_counts",
    """
    SELECT user_id, 1 AS is_upper_bound
    FROM events GROUP BY user_id
    """,
)
def a_cms_user_counts(spark, sf_dir):
    """Count-min sketch point estimates for every user's event count.
    The oracle checks the sketch's DETERMINISTIC guarantee — the
    estimate never undercounts (est >= true for every key) — rather
    than exact equality, which would depend on no full-depth collision
    occurring in this particular dataset (testdata regenerates between
    rounds; a collision would be a spurious gate failure, not a bug).
    The tight-bound behavior (est <= true + eps*N w.h.p.) is covered by
    a fixed-seed pytest invariant. The point at scale: the sketch is
    O(depth*width) regardless of key cardinality and merges across
    shards by cell-sum."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    sketch = A.cms_build(ev, "user_id")
    items = ev.select("user_id").distinct()
    est = A.cms_estimate(sketch, items, "user_id")
    true = ev.groupBy("user_id").agg(F.count("*").alias("__true"))
    return est.join(true, "user_id").select(
        "user_id",
        (F.col("est_cnt") >= F.col("__true")).cast("int").alias("is_upper_bound"),
    )


@query(
    "a_histogram_quantiles",
    """
    WITH h AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0) / 6000.0) AS INT), 0), 99) AS bin,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT bin, 0.0 + bin * 6000.0 AS bin_lo, n,
             COALESCE(SUM(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM h
    ),
    t AS (SELECT SUM(n) AS total FROM h),
    qs AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS v(q))
    SELECT q, bin_lo + ((q * total - cum_before) / n) * 6000.0 AS estimate
    FROM c CROSS JOIN t CROSS JOIN qs
    WHERE cum_before < q * total AND q * total <= cum_before + n
    """,
)
def a_histogram_quantiles(spark, sf_dir):
    """Mergeable approximate percentiles: p50/p90/p99 of order totals
    read off a 100-bucket histogram CDF with in-bucket interpolation —
    shard histograms merge by bin-count sum, so the percentile state
    composes across days/partitions like the HLL and CMS sketches."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    h = A.histogram(o, "o_totalprice", 100, 0.0, 600000.0)
    return A.histogram_quantiles(h, [0.5, 0.9, 0.99], 100, 0.0, 600000.0)


@query(
    "a_grouped_histogram_quantiles",
    """
    WITH h AS (
      SELECT event_type,
             LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 1.0) AS INT), 0), 99) AS bin,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bin, 0.0 + bin * 1.0 AS bin_lo, n,
             COALESCE(SUM(n) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM h
    ),
    t AS (SELECT event_type, SUM(n) AS total FROM h GROUP BY event_type),
    qs AS (SELECT * FROM (VALUES (0.5), (0.95)) AS v(q))
    SELECT c.event_type, q,
           bin_lo + ((q * total - cum_before) / n) * 1.0 AS estimate
    FROM c JOIN t ON c.event_type = t.event_type CROSS JOIN qs
    WHERE cum_before < q * total AND q * total <= cum_before + n
    """,
)
def a_grouped_histogram_quantiles(spark, sf_dir):
    """Per-segment mergeable percentiles: p50/p95 of event value per
    event type off 100-bucket histograms — O(keys x bins) state, fact
    rows touched exactly once."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    h = A.histogram(ev, "value", 100, 0.0, 100.0, keys=["event_type"])
    return A.histogram_quantiles(
        h, [0.5, 0.95], 100, 0.0, 100.0, keys=["event_type"]
    )


@query(
    "a_ab_welch",
    f"""
    WITH base AS (
      SELECT CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             {sql_sum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", "sa")},
             {sql_sum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice * o_totalprice END", "ssa")},
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             {sql_sum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", "sb")},
             {sql_sum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * o_totalprice END", "ssb")}
      FROM orders
    ),
    m AS (
      SELECT *, sa / n_a AS ma, sb / n_b AS mb FROM base
    ),
    v AS (
      SELECT *,
             (ssa - ma * ma * n_a) / (n_a - 1) / n_a AS qa,
             (ssb - mb * mb * n_b) / (n_b - 1) / n_b AS qb
      FROM m
    )
    SELECT n_a, n_b, ma AS mean_a, mb AS mean_b,
           ma - mb AS lift,
           sqrt(qa + qb) AS se,
           (ma - mb) / sqrt(qa + qb) AS t_stat,
           (qa + qb) * (qa + qb)
             / (qa * qa / (n_a - 1) + qb * qb / (n_b - 1)) AS dof
    FROM v
    """,
)
def a_ab_welch(spark, sf_dir):
    """A/B experiment readout: Welch unequal-variance t statistic for
    o_totalprice between open ('O') and fulfilled ('F') orders — one
    conditional-aggregation pass, exact moments."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.ab_welch(o, "o_orderstatus", "o_totalprice", "O", "F")


@query(
    "a_concentration",
    f"""
    WITH units AS (
      SELECT o_orderstatus, o_custkey,
             SUM({sql_dec("o_totalprice")}) AS x
      FROM orders GROUP BY o_orderstatus, o_custkey
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus ORDER BY x ASC, o_custkey ASC
      ) AS r FROM units
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_units,
           CAST(SUM(x) AS DOUBLE) AS total,
           CASE WHEN COUNT(*) > 1 THEN
             2 * CAST(SUM(r * x) AS DOUBLE) / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
               - (COUNT(*) + 1) * 1.0 / COUNT(*)
           ELSE 0.0 END AS gini,
           CAST(SUM(x * x) AS DOUBLE)
             / (CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) AS hhi,
           CAST(MAX(x) AS DOUBLE) / CAST(SUM(x) AS DOUBLE) AS top_share
    FROM ranked GROUP BY o_orderstatus
    """,
)
def a_concentration(spark, sf_dir):
    """Revenue-concentration panel per order status: Gini, HHI, and the
    top customer's share."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.concentration(o, ["o_orderstatus"], "o_custkey", "o_totalprice")


@query(
    "a_abc_classification",
    f"""
    WITH units AS (
      SELECT o_orderstatus, o_custkey,
             SUM({sql_dec("o_totalprice")}) AS x
      FROM orders GROUP BY o_orderstatus, o_custkey
    ),
    shares AS (
      SELECT o_orderstatus, o_custkey, CAST(x AS DOUBLE) AS value,
             CAST(COALESCE(SUM(x) OVER (
               PARTITION BY o_orderstatus ORDER BY x DESC, o_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS DOUBLE)
             / CAST(SUM(x) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
               AS share_before
      FROM units
    )
    SELECT o_orderstatus, o_custkey, value, share_before,
           CASE WHEN share_before < 0.8 THEN 'A'
                WHEN share_before < 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM shares
    """,
)
def a_abc_classification(spark, sf_dir):
    """ABC/Pareto split of customers by revenue within each order
    status — the 80-15-5 classification."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.abc_classification(o, ["o_orderstatus"], "o_custkey", "o_totalprice")


@query(
    "a_association_rules",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT bk) AS n FROM b),
    item_n AS (SELECT it, COUNT(*) AS n_item FROM b GROUP BY it),
    pairs AS (
      SELECT a.it AS item_a, c.it AS item_b, COUNT(*) AS n_ab
      FROM b a JOIN b c ON a.bk = c.bk AND a.it <> c.it
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
           n_ab / CAST(nb.n AS DOUBLE) AS support,
           n_ab * 1.0 / na.n_item AS confidence,
           n_ab * 1.0 / na.n_item * CAST(nb.n AS DOUBLE) / nbi.n_item AS lift
    FROM pairs
    JOIN item_n na ON pairs.item_a = na.it
    JOIN item_n nbi ON pairs.item_b = nbi.it
    CROSS JOIN nb
    WHERE n_ab >= 3
    ORDER BY lift DESC, item_a, item_b LIMIT 100
    """,
)
def a_association_rules(spark, sf_dir):
    """Market-basket association rules over order line items:
    support/confidence/lift for co-purchased part pairs, top-100 by
    lift."""
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return A.association_rules(
        li, "l_orderkey", "l_partkey", min_pair_support=3, top_k=100
    )


@query(
    "a_group_mode",
    """
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS n
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id
    ),
    r AS (
      SELECT event_type, user_id, n,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY n DESC, user_id ASC
             ) AS rn
      FROM c
    )
    SELECT event_type, user_id AS mode, CAST(n AS BIGINT) AS mode_count
    FROM r WHERE rn = 1
    """,
)
def a_group_mode(spark, sf_dir):
    """Deterministic mode: the most active user per event type
    (smallest id tiebreak)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return A.group_mode(ev, ["event_type"], "user_id")


@query(
    "a_mad_outliers",
    """
    WITH med AS (
      SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS median
      FROM orders GROUP BY o_orderstatus
    ),
    wm AS (
      SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, med.median
      FROM orders o JOIN med ON o.o_orderstatus = med.o_orderstatus
    ),
    mad AS (
      SELECT o_orderstatus,
             quantile_cont(abs(o_totalprice - median), 0.5) AS mad
      FROM wm GROUP BY o_orderstatus
    )
    SELECT wm.o_orderkey, wm.o_orderstatus, wm.o_totalprice,
           wm.median, mad.mad,
           abs(wm.o_totalprice - wm.median) > 3.0 * 1.4826 * mad.mad AS is_outlier
    FROM wm JOIN mad ON wm.o_orderstatus = mad.o_orderstatus
    """,
)
def a_mad_outliers(spark, sf_dir):
    """MAD-based robust outlier flags on order amounts per status."""
    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    return A.mad_outliers(o, ["o_orderstatus"], "o_totalprice")


@query(
    "p_winsorize",
    """
    WITH b AS (
      SELECT o_orderstatus,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
           LEAST(GREATEST(o.o_totalprice, b.lo), b.hi) AS o_totalprice_wins
    FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
    """,
)
def p_winsorize(spark, sf_dir):
    """Winsorize order amounts to the per-status [5%, 95%] band."""
    from azuredataengineering_deeplearning_spark.operators.relational import (
        winsorize,
    )

    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    return winsorize(o, ["o_orderstatus"], "o_totalprice", 0.05, 0.95)


@query(
    "a_cramers_v",
    """
    WITH base AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
    ),
    ct AS (SELECT a, b, COUNT(*) AS n_ab FROM base GROUP BY a, b),
    ra AS (SELECT a, SUM(n_ab) AS n_a FROM ct GROUP BY a),
    cb AS (SELECT b, SUM(n_ab) AS n_b FROM ct GROUP BY b),
    t AS (SELECT SUM(n_ab) AS n, COUNT(DISTINCT a) AS r,
                 COUNT(DISTINCT b) AS c FROM ct),
    grid AS (
      SELECT ra.n_a, cb.n_b, COALESCE(ct.n_ab, 0) AS obs, t.n, t.r, t.c
      FROM ra CROSS JOIN cb
      LEFT JOIN ct ON ct.a = ra.a AND ct.b = cb.b
      CROSS JOIN t
    )
    SELECT sqrt(SUM((obs - n_a * n_b * 1.0 / n) * (obs - n_a * n_b * 1.0 / n)
                    / (n_a * n_b * 1.0 / n))
                / (MAX(n) * (LEAST(MAX(r), MAX(c)) - 1))) AS cramers_v,
           SUM((obs - n_a * n_b * 1.0 / n) * (obs - n_a * n_b * 1.0 / n)
               / (n_a * n_b * 1.0 / n)) AS chi2,
           CAST(MAX(n) AS BIGINT) AS n
    FROM grid
    """,
)
def a_cramers_v(spark, sf_dir):
    """Cramér's V between order status and priority — the categorical
    association screen."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.cramers_v(o, "o_orderstatus", "o_orderpriority")


@query(
    "a_eta_squared",
    f"""
    WITH g AS (
      SELECT o_orderstatus,
             COUNT(*) AS n_g,
             {sql_sum("o_totalprice", "s_g")},
             {sql_sum_wide("o_totalprice * o_totalprice", "ss_g")}
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
      GROUP BY o_orderstatus
    ),
    t AS (
      SELECT SUM(n_g) AS n,
             {sql_sum_wide("s_g", "s")},
             {sql_sum_wide("ss_g", "ss")},
             SUM(s_g * s_g / n_g) AS bss_raw
      FROM g
    )
    SELECT (bss_raw - (s / n) * (s / n) * n)
             / (ss - (s / n) * (s / n) * n) AS eta_squared,
           CAST(n AS BIGINT) AS n
    FROM t
    """,
)
def a_eta_squared(spark, sf_dir):
    """η² of order amount explained by order status — the numeric↔
    categorical association."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.eta_squared(o, "o_orderstatus", "o_totalprice")


@query(
    "a_mutual_information",
    """
    WITH base AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
    ),
    ct AS (SELECT a, b, COUNT(*) AS n_ab FROM base GROUP BY a, b),
    ra AS (SELECT a, SUM(n_ab) AS n_a FROM ct GROUP BY a),
    cb AS (SELECT b, SUM(n_ab) AS n_b FROM ct GROUP BY b),
    t AS (SELECT SUM(n_ab) AS n FROM ct),
    mi AS (
      SELECT SUM((n_ab * 1.0 / t.n)
                 * ln((n_ab * t.n) * 1.0 / (ra.n_a * cb.n_b))) AS mi
      FROM ct JOIN ra ON ct.a = ra.a JOIN cb ON ct.b = cb.b CROSS JOIN t
    ),
    ha AS (SELECT SUM(-(n_a * 1.0 / t.n) * ln(n_a * 1.0 / t.n)) AS h_a
           FROM ra CROSS JOIN t),
    hb AS (SELECT SUM(-(n_b * 1.0 / t.n) * ln(n_b * 1.0 / t.n)) AS h_b
           FROM cb CROSS JOIN t)
    SELECT mi.mi, mi.mi / LEAST(ha.h_a, hb.h_b) AS mi_normalized,
           ha.h_a, hb.h_b
    FROM mi CROSS JOIN ha CROSS JOIN hb
    """,
)
def a_mutual_information(spark, sf_dir):
    """Mutual information between order status and priority (nats +
    normalized)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.mutual_information(o, "o_orderstatus", "o_orderpriority")


@query(
    "enc_quantile_transform",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           PERCENT_RANK() OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice ASC
           ) AS o_totalprice_q
    FROM orders
    """,
)
def enc_quantile_transform(spark, sf_dir):
    """Per-status empirical-CDF transform of order amounts."""
    from azuredataengineering_deeplearning_spark.operators.encoders import (
        quantile_transform,
    )

    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    return quantile_transform(o, ["o_orderstatus"], "o_totalprice")


@query(
    "a_ks_two_sample",
    """
    WITH a AS (SELECT o_totalprice AS v FROM orders
               WHERE o_orderstatus = 'O' AND o_totalprice IS NOT NULL),
    b AS (SELECT o_totalprice AS v FROM orders
          WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL),
    ca AS (SELECT v, COUNT(*) AS ca FROM a GROUP BY v),
    cb AS (SELECT v, COUNT(*) AS cb FROM b GROUP BY v),
    m AS (
      SELECT COALESCE(ca.v, cb.v) AS v,
             COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
      FROM ca FULL JOIN cb ON ca.v = cb.v
    ),
    t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM m),
    d AS (
      SELECT abs(SUM(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / t.na
               - SUM(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / t.nb)
             AS dd, t.na, t.nb
      FROM m CROSS JOIN t
    )
    SELECT MAX(dd) AS ks_d,
           CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b
    FROM d
    """,
)
def a_ks_two_sample(spark, sf_dir):
    """Exact KS statistic between open and fulfilled order amounts."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return A.ks_two_sample(
        o.filter(F.col("o_orderstatus") == "O"),
        o.filter(F.col("o_orderstatus") == "F"),
        "o_totalprice",
    )


@query(
    "a_powerlaw_alpha",
    """
    WITH counts AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    tail AS (SELECT CAST(c AS DOUBLE) AS x FROM counts WHERE c >= 5)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
           1.0 + COUNT(*) / SUM(ln(x / 5.0)) AS alpha,
           (COUNT(*) / SUM(ln(x / 5.0))) / sqrt(COUNT(*)) AS alpha_se
    FROM tail
    """,
)
def a_powerlaw_alpha(spark, sf_dir):
    """Hill/MLE power-law exponent of the per-user event-count
    distribution (x_min = 5)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    counts = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    return A.powerlaw_alpha(counts, "c", 5.0)


@query(
    "a_behavior_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    p AS (
      SELECT user_id, n * 1.0 / SUM(n) OVER (PARTITION BY user_id) AS p
      FROM c
    )
    SELECT user_id, -SUM(p * ln(p)) AS entropy
    FROM p GROUP BY user_id
    """,
)
def a_behavior_entropy(spark, sf_dir):
    """Behavioral diversity per user: Shannon entropy of each user's
    event-type mix (0 = single-minded, ln(5) = uniform across types) —
    the A7 entropy operator applied at user grain."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return A.entropy(ev, ["user_id"], "event_type")


@query(
    "a_weighted_percentile",
    """
    WITH s AS (
      SELECT l_returnflag AS k, l_quantity AS v, l_extendedprice AS w
      FROM lineitem
    ), c AS (
      SELECT k, v,
             SUM(w) OVER (PARTITION BY k ORDER BY v
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(w) OVER (PARTITION BY k) AS cdf
      FROM s
    )
    SELECT k AS l_returnflag,
           MIN(CASE WHEN cdf >= 0.5 THEN v END) AS wp50_l_quantity,
           MIN(CASE WHEN cdf >= 0.95 THEN v END) AS wp95_l_quantity
    FROM c GROUP BY 1
    """,
)
def a_weighted_percentile(spark, sf_dir):
    """Weighted percentiles (Kusto ``percentilew``): smallest value
    whose cumulative weight reaches p of the group total (lower
    weighted-CDF inverse). One window pass + one aggregate — two
    shuffles for ANY number of probs; the global (ungrouped) form
    routes through the distributed prefix-scan kernel instead of an
    unpartitioned window. Weights accumulate in decimal."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return A.weighted_percentile(
        t["lineitem"],
        "l_quantity",
        "l_extendedprice",
        [0.5, 0.95],
        keys=["l_returnflag"],
    )
