"""Catalog: profilers (P7/P10) and encoders (W8, D7-D9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import sql_avg, sql_sum
from azuredataengineering_deeplearning_spark.operators import encoders as E
from azuredataengineering_deeplearning_spark.operators import profile as P
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, read_parquet


@query(
    "p7_shrink_types",
    """
    SELECT l_orderkey, CAST(l_suppkey AS TINYINT) AS l_suppkey_small,
           CAST(l_linenumber AS TINYINT) AS l_linenumber_small
    FROM lineitem
    """,
)
def p7_shrink_types(spark, sf_dir):
    """P7: profile-driven downcast — at sf0.01 suppkey/linenumber fit in
    a byte; the profiler must discover that (oracle pins the expected
    result of the decision)."""
    li = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_suppkey", "l_linenumber"],
    )
    small = P.shrink_types(li, ["l_suppkey", "l_linenumber"])
    return small.select(
        "l_orderkey",
        F.col("l_suppkey").alias("l_suppkey_small"),
        F.col("l_linenumber").alias("l_linenumber_small"),
    )


@query(
    "p10_classify_columns",
    """
    SELECT 'o_orderkey' AS column, COUNT(DISTINCT o_orderkey) AS n_distinct,
           COUNT(*) AS n_rows, 'continuous' AS class FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus), COUNT(*), 'categorical' FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(DISTINCT o_orderpriority), COUNT(*), 'categorical' FROM orders
    UNION ALL
    SELECT 'is_late', COUNT(DISTINCT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END),
           COUNT(*), 'binary' FROM orders
    """,
)
def p10_classify_columns(spark, sf_dir):
    """P10: cardinality-based binary/categorical/continuous profiling
    (oracle pins the expected classification)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet").withColumn(
        "is_late", (F.col("o_orderstatus") == "F").cast("int")
    )
    return P.classify_columns(
        o, ["o_orderkey", "o_orderstatus", "o_orderpriority", "is_late"]
    )


@query(
    "enc_count",
    """
    SELECT o_orderkey, COUNT(*) OVER (PARTITION BY o_orderpriority) AS o_orderpriority_count
    FROM orders
    """,
)
def enc_count(spark, sf_dir):
    """Count encoder."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return E.count_encode(o, "o_orderpriority").select(
        "o_orderkey", "o_orderpriority_count"
    )


@query(
    "enc_target_oof",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice, o_custkey % 5 AS fold FROM orders
    ), g AS (
      SELECT o_orderpriority, {sql_sum("o_totalprice", "gs")},
             COUNT(o_totalprice) AS gc
      FROM base GROUP BY o_orderpriority
    ), f AS (
      SELECT o_orderpriority, fold, {sql_sum("o_totalprice", "fs")},
             COUNT(o_totalprice) AS fc
      FROM base GROUP BY o_orderpriority, fold
    ), prior AS (
      SELECT {sql_avg("o_totalprice", "p")}
      FROM base
    )
    SELECT b.o_orderkey,
           (g.gs - f.fs + prior.p * 20.0)
             / (CAST(g.gc - f.fc AS DOUBLE) + 20.0) AS o_orderpriority_te
    FROM base b
    JOIN g ON b.o_orderpriority = g.o_orderpriority
    JOIN f ON b.o_orderpriority = f.o_orderpriority AND b.fold = f.fold
    CROSS JOIN prior
    """,
)
def enc_target_oof(spark, sf_dir):
    """W8: out-of-fold smoothed target encoding with deterministic folds
    (key % 5) so both engines compute identical leakage-free encodings."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet").withColumn(
        "fold", F.col("o_custkey") % 5
    )
    return E.target_encode_oof(
        o, "o_orderpriority", "o_totalprice", "fold", smoothing=20.0
    ).select("o_orderkey", "o_orderpriority_te")


@query(
    "enc_onehot",
    """
    SELECT o_orderkey,
           CAST(o_orderstatus = 'F' AS TINYINT) AS o_orderstatus_F,
           CAST(o_orderstatus = 'O' AS TINYINT) AS o_orderstatus_O,
           CAST(o_orderstatus = 'P' AS TINYINT) AS o_orderstatus_P
    FROM orders
    """,
)
def enc_onehot(spark, sf_dir):
    """D7: one-hot to tinyint columns with pinned category order."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return E.onehot_encode(o, "o_orderstatus", ["F", "O", "P"]).select(
        "o_orderkey", "o_orderstatus_F", "o_orderstatus_O", "o_orderstatus_P"
    )


@query(
    "enc_ordinal",
    """
    WITH m AS (
      SELECT o_orderpriority, DENSE_RANK() OVER (ORDER BY o_orderpriority) AS code
      FROM (SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL)
    )
    SELECT o.o_orderkey, CAST(COALESCE(m.code, 6) AS INT) AS o_orderpriority_ord
    FROM orders o LEFT JOIN m ON o.o_orderpriority = m.o_orderpriority
    """,
)
def enc_ordinal(spark, sf_dir):
    """D8: ordinal encoder, codes 1..N by sorted value, 0 = padding,
    unseen → N+1."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    mapping = E.fit_ordinal(o, "o_orderpriority")
    return E.apply_ordinal(o, mapping, "o_orderpriority").select(
        "o_orderkey", "o_orderpriority_ord"
    )


@query(
    "enc_standard_scaler",
    """
    WITH stats AS (
      SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd
      FROM orders WHERE o_custkey % 5 != 0
    )
    SELECT o_orderkey, (o_totalprice - mu) / sd AS o_totalprice_scaled
    FROM orders CROSS JOIN stats
    """,
)
def enc_standard_scaler(spark, sf_dir):
    """D9: standard scaler, fit on the train folds (key%5 != 0), applied
    to all rows — the reference's fit-on-train/apply-to-all discipline."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    train = o.filter(F.col("o_custkey") % 5 != 0)
    model = E.fit_scaler(train, ["o_totalprice"], "standard")
    return E.apply_scaler(o, model, "standard").select(
        "o_orderkey", F.col("o_totalprice_scaled")
    )


_EXPECT_SQL = """
    SELECT o_orderkey,
           list_sort([x FOR x IN [
             CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                  THEN 'positive_price' END,
             CASE WHEN NOT COALESCE(o_orderdate >= DATE '1992-01-01', FALSE)
                  THEN 'date_floor' END,
             CASE WHEN NOT COALESCE(o_orderpriority IS NOT NULL, FALSE)
                  THEN 'priority_set' END
           ] IF x IS NOT NULL]) AS violations
    FROM orders
"""

# CSV-joined for the driver canonicalizer (no list cells)
_EXPECT_CSV_SQL = (
    "SELECT o_orderkey, COALESCE(array_to_string(violations, ','), '') AS violations_csv "
    f"FROM ({_EXPECT_SQL})"
)


@query("prof_expectations", _EXPECT_CSV_SQL)
def prof_expectations(spark, sf_dir):
    """Row-level data-quality expectations: per-row array of failed
    check names (NULL results count as failures) — map-side audit."""
    from azuredataengineering_deeplearning_spark.operators.profile import with_expectations

    t = load_tables(spark, sf_dir, ["orders"])
    checks = {
        "positive_price": F.col("o_totalprice") > 0,
        "date_floor": F.col("o_orderdate") >= F.lit("1992-01-01").cast("date"),
        "priority_set": F.col("o_orderpriority").isNotNull(),
    }
    return with_expectations(t["orders"], checks).select(
        "o_orderkey",
        F.array_join(F.array_sort("violations"), ",").alias("violations_csv"),
    )


@query(
    "prof_table_profile",
    f"""
    SELECT 'o_orderkey' AS column, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
           {sql_avg("CAST(o_orderkey AS DOUBLE)", "mean")},
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
           {sql_avg("CAST(o_totalprice AS DOUBLE)")},
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL, NULL,
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    """,
)
def prof_table_profile(spark, sf_dir):
    """Landing-report profile of three orders columns in one aggregate
    pass (count/nulls/distincts/min/max/mean long-format)."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return P.profile_table(o, ["o_orderkey", "o_totalprice", "o_orderstatus"])


@query(
    "dq_orders_suite",
    """
    WITH m AS (
      SELECT COUNT(*) AS total,
             SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS nn,
             COUNT(DISTINCT o_orderkey)
               + MAX(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS dk,
             SUM(CASE WHEN o_totalprice IS NOT NULL
                       AND o_totalprice BETWEEN 0 AND 1000000
                      THEN 1 ELSE 0 END) AS rng,
             SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS st,
             SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                      THEN 1 ELSE 0 END) AS pri
      FROM orders
    )
    SELECT 0 AS rank, 'custkey_not_null' AS name,
           nn * 1.0 / total AS metric, nn * 1.0 / total >= 1.0 AS passed FROM m
    UNION ALL
    SELECT 1, 'orderkey_unique', dk * 1.0 / total, dk * 1.0 / total >= 1.0 FROM m
    UNION ALL
    SELECT 2, 'totalprice_in_range', rng * 1.0 / total, rng * 1.0 / total >= 1.0 FROM m
    UNION ALL
    SELECT 3, 'status_in_set', st * 1.0 / total, st * 1.0 / total >= 1.0 FROM m
    UNION ALL
    SELECT 4, 'priority_format', pri * 1.0 / total, pri * 1.0 / total >= 1.0 FROM m
    UNION ALL
    SELECT 5, 'min_rows', CAST(total AS DOUBLE), total >= 1000 FROM m
    """,
)
def dq_orders_suite(spark, sf_dir):
    """Deequ-style declarative quality suite over orders — six
    constraints, ONE aggregation pass, report unpivoted to one row per
    constraint."""
    from azuredataengineering_deeplearning_spark.operators import quality as Q

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return Q.run_checks(
        o,
        [
            Q.Check("custkey_not_null", "not_null", "o_custkey"),
            Q.Check("orderkey_unique", "unique", "o_orderkey"),
            Q.Check(
                "totalprice_in_range", "in_range", "o_totalprice", lo=0, hi=1_000_000
            ),
            Q.Check(
                "status_in_set", "in_set", "o_orderstatus", values=("O", "F", "P")
            ),
            Q.Check(
                "priority_format", "matches_regex", "o_orderpriority",
                pattern="^[1-5]-",
            ),
            Q.Check("min_rows", "min_rows", threshold=1000),
        ],
    )


@query(
    "dq_ref_integrity",
    """
    WITH t AS (SELECT COUNT(*) AS total FROM orders),
    o AS (
      SELECT COUNT(*) AS orphans FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
         OR o_custkey IS NULL
    )
    SELECT 0 AS rank, 'orders_customer_fk' AS name,
           (total - orphans) * 1.0 / total AS metric,
           orphans = 0 AS passed
    FROM t, o
    """,
)
def dq_ref_integrity(spark, sf_dir):
    """Referential-integrity check: every orders.o_custkey must exist in
    customer — one anti-join aggregate."""
    from azuredataengineering_deeplearning_spark.operators import quality as Q

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    return Q.check_referential_integrity(
        t["orders"], "o_custkey", t["customer"], "c_custkey", name="orders_customer_fk"
    )


@query(
    "prof_psi_drift",
    """
    WITH base AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-01-01' AND o_totalprice IS NOT NULL
    ),
    neww AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_totalprice IS NOT NULL
    ),
    e AS (
      SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges
      FROM base
    ),
    bb AS (SELECT len(list_filter(e.edges, x -> base.v > x)) AS b
           FROM base CROSS JOIN e),
    bn AS (SELECT len(list_filter(e.edges, x -> neww.v > x)) AS b
           FROM neww CROSS JOIN e),
    grid AS (SELECT unnest(generate_series(0, 9)) AS b),
    cb AS (SELECT grid.b, COUNT(bb.b) AS c FROM grid
           LEFT JOIN bb ON bb.b = grid.b GROUP BY grid.b),
    cn AS (SELECT grid.b, COUNT(bn.b) AS c FROM grid
           LEFT JOIN bn ON bn.b = grid.b GROUP BY grid.b),
    tot AS (SELECT (SELECT SUM(c) FROM cb) AS nb, (SELECT SUM(c) FROM cn) AS nn)
    SELECT SUM(((cn.c + 0.5) / (tot.nn + 0.5 * 10) - (cb.c + 0.5) / (tot.nb + 0.5 * 10))
               * ln(((cn.c + 0.5) / (tot.nn + 0.5 * 10))
                  / ((cb.c + 0.5) / (tot.nb + 0.5 * 10)))) AS psi,
           CAST(MAX(tot.nb) AS BIGINT) AS n_base,
           CAST(MAX(tot.nn) AS BIGINT) AS n_new
    FROM cb JOIN cn ON cb.b = cn.b CROSS JOIN tot
    """,
)
def prof_psi_drift(spark, sf_dir):
    """PSI drift of o_totalprice between pre- and post-1996 orders —
    base-quantile bins, Laplace-smoothed, one row out."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    base = o.filter(F.col("o_orderdate") < "1996-01-01")
    new = o.filter(F.col("o_orderdate") >= "1996-01-01")
    return P.psi(base, new, "o_totalprice", bins=10)


@query(
    "dq_benford",
    """
    WITH pos AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
    ),
    d AS (
      SELECT CAST(FLOOR(v / POWER(10.0, FLOOR(LOG10(v)))) AS INT) AS digit
      FROM pos
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    e AS (
      SELECT unnest(generate_series(1, 9)) AS digit
    ),
    t AS (SELECT SUM(n) AS tt FROM c)
    SELECT e.digit,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
           COALESCE(c.n, 0) * 1.0 / t.tt AS frac,
           log10(1 + 1.0 / e.digit) AS expected_frac,
           (COALESCE(c.n, 0) - log10(1 + 1.0 / e.digit) * t.tt)
             * (COALESCE(c.n, 0) - log10(1 + 1.0 / e.digit) * t.tt)
             / (log10(1 + 1.0 / e.digit) * t.tt) AS chi2_term
    FROM e LEFT JOIN c ON e.digit = c.digit CROSS JOIN t
    """,
)
def dq_benford(spark, sf_dir):
    """Benford first-digit screen on order amounts — observed vs
    expected leading-digit distribution with chi-square terms."""
    from azuredataengineering_deeplearning_spark.operators import quality as Q

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return Q.benford_profile(o, "o_totalprice")


@query(
    "ml_lift_table",
    """
    WITH tiers AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             NTILE(10) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS bucket
      FROM orders
    ),
    agg AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS positives
      FROM tiers GROUP BY bucket
    ),
    t AS (SELECT SUM(n) AS nn, SUM(positives) AS pp FROM agg)
    SELECT bucket, n, positives,
           positives * 1.0 / n AS rate,
           SUM(positives) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / t.pp
             AS cum_capture,
           (positives * 1.0 / n) / (t.pp * 1.0 / t.nn) AS lift
    FROM agg CROSS JOIN t
    """,
)
def ml_lift_table(spark, sf_dir):
    """Decile lift table treating o_totalprice as the model score and
    fulfilled status as the positive label."""
    from azuredataengineering_deeplearning_spark.operators.encoders import lift_table

    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return lift_table(
        o, "o_totalprice", F.col("o_orderstatus") == "F",
        n_buckets=10, tiebreak="o_orderkey",
    )
