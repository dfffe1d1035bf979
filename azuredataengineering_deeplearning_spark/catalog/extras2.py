"""Catalog: class weights, discover-schema composite, Q13 shape,
anti-join."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import exact_sum, sql_sum
from azuredataengineering_deeplearning_spark.operators import joins as J
from azuredataengineering_deeplearning_spark.operators import profile as P
from azuredataengineering_deeplearning_spark.operators.relational import (
    normalize_null_sentinel,
)
from azuredataengineering_deeplearning_spark.functions.mathx import with_null_masks
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, read_parquet


@query(
    "ml_class_weights",
    """
    WITH c AS (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1),
    t AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM c)
    SELECT o_orderkey,
           CAST(t.total AS DOUBLE) / (t.k * c.n) AS class_weight
    FROM orders JOIN c USING (o_orderstatus) CROSS JOIN t
    """,
)
def ml_class_weights(spark, sf_dir):
    """Balanced class weights total/(k·count) attached per row — the
    RandomForest prep (``spark_randomforest.py:31-54``): tiny counts
    aggregate broadcast back onto the fact table."""
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    counts = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("__n"))
    totals = counts.agg(
        F.sum("__n").alias("__total"), F.count(F.lit(1)).alias("__k")
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "o_orderstatus",
        (F.col("__total").cast("double") / (F.col("__k") * F.col("__n"))).alias(
            "class_weight"
        ),
    )
    return J.broadcast_join(o, weights, ["o_orderstatus"], "inner").select(
        "o_orderkey", "class_weight"
    )


@query(
    "pipeline_discover_schema",
    """
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN NULL ELSE lang END AS lang_clean,
           CASE WHEN (CASE WHEN lang = 'en' THEN NULL ELSE lang END) IS NULL
                THEN 0 ELSE 1 END AS lang_clean_attnmask,
           CAST(n_chars AS SMALLINT) AS n_chars_small
    FROM documents
    """,
)
def pipeline_discover_schema(spark, sf_dir):
    """``discover_schema.py`` end-to-end: sentinel→NULL, attention
    masks, profile-driven downcast — one projection (the single-select
    idiom, ``discover_schema.py:59-67``)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    d = d.withColumn("lang_clean", F.col("lang"))
    d = normalize_null_sentinel(d, ["lang_clean"], sentinel="en")
    d = with_null_masks(d, ["lang_clean"])
    d = d.withColumn(
        "lang_clean_attnmask", F.col("lang_clean_attnmask").cast("int")
    )
    shrunk = P.shrink_types(d, ["n_chars"])
    return shrunk.select(
        "doc_id",
        "lang_clean",
        "lang_clean_attnmask",
        F.col("n_chars").alias("n_chars_small"),
    )


@query(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: outer join survives empty groups, then a
    second aggregation over the first's result."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "j_anti_join",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey NOT IN (
      SELECT l_suppkey FROM lineitem WHERE l_extendedprice > 104900
    )
    """,
)
def j_anti_join(spark, sf_dir):
    """Anti join: suppliers with no top-price line items (the
    complement of the semi-join query)."""
    t = load_tables(spark, sf_dir, ["supplier", "lineitem"])
    keys = t["lineitem"].filter(F.col("l_extendedprice") > 104900).select("l_suppkey")
    return J.anti_join(
        t["supplier"], keys, F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name")


_ZBITS = 8


def _zorder_oracle_sql() -> str:
    # fully parenthesized: DuckDB's bitwise precedence differs from C
    terms = []
    for i in range(_ZBITS):
        terms.append(f"(((( o_custkey % 256) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((o_orderkey % 256) >> {i}) & 1) << {2 * i + 1})")
    return (
        "SELECT o_orderkey, CAST(" + " + ".join(terms) + " AS BIGINT) AS zkey"
        " FROM orders"
    )


@query("lake_zorder_key", _zorder_oracle_sql())
def lake_zorder_key(spark, sf_dir):
    """Morton (Z-order) interleave key over two scaled dimensions —
    the multi-column clustering sort key (pure bit arithmetic,
    bit-identical cross-engine)."""
    from azuredataengineering_deeplearning_spark.sources.writers import zorder_key

    t = load_tables(spark, sf_dir, ["orders"])
    return t["orders"].select(
        "o_orderkey",
        zorder_key([F.col("o_custkey") % 256, F.col("o_orderkey") % 256], bits=_ZBITS)
        .alias("zkey"),
    )


@query("ml_rf_train_score")  # fitted-model output → rows-only
def ml_rf_train_score(spark, sf_dir):
    """The reference's full RandomForest chain executed distributed
    (``spark_randomforest.py:17-70``): balanced class weights, vector
    assembly, seeded 20-tree fit on order features, map-side scoring —
    output is the per-class prediction histogram (stable schema,
    seeded model)."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    o = (
        read_parquet(
            spark, f"{sf_dir}/orders.parquet",
            columns=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
        )
        .withColumn("o_totalprice", F.col("o_totalprice").cast("double"))
        .withColumn("order_doy", F.dayofyear("o_orderdate").cast("double"))
    )
    feats = ["o_totalprice", "order_doy"]
    model, si = ML.fit_random_forest(
        o, feats, "o_orderstatus", num_trees=20, max_depth=5
    )
    scored = ML.predict(model, si, o, feats)
    return (
        scored.groupBy("predicted_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "ml_classification_report",
    """
    WITH t AS (
      SELECT o_orderstatus AS label,
             CASE WHEN CAST(o_totalprice AS DOUBLE) > 150000.0
                  THEN 'F' ELSE 'O' END AS pred
      FROM orders
    ),
    cm AS (SELECT label, pred, COUNT(*) AS n FROM t GROUP BY 1, 2),
    a AS (SELECT label AS cls, SUM(n) AS support FROM cm GROUP BY 1),
    p AS (SELECT pred AS cls, SUM(n) AS n_pred FROM cm GROUP BY 1),
    tp AS (SELECT label AS cls, n AS tp FROM cm WHERE label = pred),
    j AS (
      SELECT COALESCE(a.cls, p.cls) AS cls,
             COALESCE(support, 0) AS support,
             COALESCE(n_pred, 0) AS n_pred,
             COALESCE(tp.tp, 0) AS tp
      FROM a FULL OUTER JOIN p ON a.cls = p.cls
             LEFT JOIN tp ON COALESCE(a.cls, p.cls) = tp.cls
    )
    SELECT cls, CAST(support AS BIGINT) AS support,
           CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END AS precision,
           CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS recall,
           CASE WHEN (CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END)
                   + (CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END) > 0
                THEN 2.0 * (CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END)
                         * (CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END)
                     / ((CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END)
                        + (CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END))
                ELSE 0.0 END AS f1
    FROM j
    """,
)
def ml_classification_report(spark, sf_dir):
    """Per-class precision/recall/F1/support from one contingency pass
    (the reference eval jobs' readout) over a deterministic
    price-threshold classifier of order status."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderstatus", "o_totalprice"],
    ).select(
        F.col("o_orderstatus").alias("label"),
        F.when(F.col("o_totalprice").cast("double") > 150000.0, "F")
        .otherwise("O")
        .alias("pred"),
    )
    return ML.classification_report(o, "label", "pred")


@query(
    "ml_binary_auc",
    """
    WITH l AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
             CAST(o_totalprice AS DOUBLE) AS s
      FROM orders
    ),
    c AS (SELECT s, SUM(y) AS pos, SUM(1.0 - y) AS neg FROM l GROUP BY s),
    k AS (
      SELECT pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cneg
      FROM c
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           SUM(pos * (cneg + neg / 2.0)) / (SUM(pos) * SUM(neg)) AS auc
    FROM k
    """,
)
def ml_binary_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC of order price as a predictor of
    status F — reduced to per-distinct-score counts before any sort,
    so the only full-data pass is one hash aggregate."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderstatus", "o_totalprice"],
    ).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.col("o_totalprice").cast("double").alias("s"),
    )
    return ML.binary_auc(o, "y", "s")


@query(
    "ml_regression_metrics",
    f"""
    WITH daily AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             {sql_sum("value", "y")}
      FROM events GROUP BY user_id, d
    ),
    p AS (
      SELECT y,
             LAG(y, 7) OVER (PARTITION BY user_id ORDER BY d) AS yhat
      FROM daily
    ),
    f AS (SELECT y, yhat FROM p WHERE yhat IS NOT NULL),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(ABS(yhat - y)) AS mae,
             AVG((yhat - y) * (yhat - y)) AS mse,
             AVG(CASE WHEN ABS(y) + ABS(yhat) > 0
                      THEN 2.0 * ABS(yhat - y) / (ABS(y) + ABS(yhat))
                      ELSE 0.0 END) AS smape,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM f
    )
    SELECT CAST(n AS BIGINT) AS n, mae, SQRT(mse) AS rmse,
           CASE WHEN syy - sy * sy / n > 0
                THEN 1.0 - (mse * n) / (syy - sy * sy / n) END AS r2,
           smape
    FROM m
    """,
)
def ml_regression_metrics(spark, sf_dir):
    """MAE/RMSE/R²/sMAPE of the in-sample seasonal-naive predictor over
    the daily panel — one aggregate after the lag window (the
    forecast-eval readout)."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(exact_sum("value", "y"))
    w = Window.partitionBy("user_id").orderBy("d")
    scored = daily.select(
        "y", F.lag("y", 7).over(w).alias("yhat")
    ).filter(F.col("yhat").isNotNull())
    return ML.regression_metrics(scored, "y", "yhat")


@query(
    "ml_calibration_bins",
    """
    WITH l AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
             LEAST(CAST(o_totalprice AS DOUBLE) / 600000.0, 0.9999999) AS s
      FROM orders
    )
    SELECT LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           AVG(s) AS mean_score,
           AVG(y) AS pos_rate,
           SUM((s - y) * (s - y)) AS brier_sum
    FROM l GROUP BY 1
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins of normalized price vs status-F rate —
    one hash aggregate, O(bins) output."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderstatus", "o_totalprice"],
    ).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.least(
            F.col("o_totalprice").cast("double") / 600000.0, F.lit(0.9999999)
        ).alias("s"),
    )
    return ML.calibration_bins(o, "y", "s", bins=10)


@query(
    "ml_threshold_sweep",
    """
    WITH l AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
             CAST(o_totalprice AS DOUBLE) AS s
      FROM orders
    ),
    c AS (SELECT s AS threshold, SUM(y) AS pos, SUM(1.0 - y) AS neg
          FROM l GROUP BY s),
    k AS (
      SELECT threshold,
             SUM(pos) OVER (ORDER BY threshold DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(neg) OVER (ORDER BY threshold DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             SUM(pos) OVER () AS p_tot
      FROM c
    )
    SELECT threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           tp / (tp + fp) AS precision,
           tp / p_tot AS recall,
           CASE WHEN tp / (tp + fp) + tp / p_tot > 0
                THEN 2.0 * (tp / (tp + fp)) * (tp / p_tot)
                     / (tp / (tp + fp) + tp / p_tot)
                ELSE 0.0 END AS f1
    FROM k
    """,
)
def ml_threshold_sweep(spark, sf_dir):
    """Full PR curve (precision/recall/F1 at every distinct score
    threshold) from one reduction + cumulative windows over score
    cardinality."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderstatus", "o_totalprice"],
    ).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.col("o_totalprice").cast("double").alias("s"),
    )
    return ML.threshold_sweep(o, "y", "s")


@query(
    "ml_kendall_tau",
    """
    WITH b AS (
      SELECT l_suppkey,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                ORDER BY l_orderkey, l_linenumber) AS rn
      FROM lineitem WHERE l_suppkey % 20 = 0
    ),
    p AS (
      SELECT a.l_suppkey,
             SUM(CASE WHEN SIGN(b2.x - a.x) * SIGN(b2.y - a.y) > 0
                      THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN SIGN(b2.x - a.x) * SIGN(b2.y - a.y) < 0
                      THEN 1 ELSE 0 END) AS d
      FROM b a JOIN b b2 ON a.l_suppkey = b2.l_suppkey AND a.rn < b2.rn
      GROUP BY a.l_suppkey
    ),
    nn AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
    tx AS (SELECT l_suppkey, SUM(t * (t - 1) / 2.0) AS tx
           FROM (SELECT l_suppkey, CAST(COUNT(*) AS DOUBLE) AS t
                 FROM b GROUP BY l_suppkey, x) GROUP BY 1),
    ty AS (SELECT l_suppkey, SUM(t * (t - 1) / 2.0) AS ty
           FROM (SELECT l_suppkey, CAST(COUNT(*) AS DOUBLE) AS t
                 FROM b GROUP BY l_suppkey, y) GROUP BY 1)
    SELECT nn.l_suppkey AS suppkey, nn.n,
           CAST(COALESCE(p.c, 0) AS BIGINT) AS concordant,
           CAST(COALESCE(p.d, 0) AS BIGINT) AS discordant,
           CASE WHEN SQRT((nn.n * (nn.n - 1.0) / 2.0 - tx.tx)
                          * (nn.n * (nn.n - 1.0) / 2.0 - ty.ty)) > 0
                THEN (COALESCE(p.c, 0) - COALESCE(p.d, 0))
                     / SQRT((nn.n * (nn.n - 1.0) / 2.0 - tx.tx)
                            * (nn.n * (nn.n - 1.0) / 2.0 - ty.ty))
                ELSE 0.0 END AS tau_b
    FROM nn JOIN tx ON nn.l_suppkey = tx.l_suppkey
            JOIN ty ON nn.l_suppkey = ty.l_suppkey
            LEFT JOIN p ON nn.l_suppkey = p.l_suppkey
    """,
)
def ml_kendall_tau(spark, sf_dir):
    """Exact grouped Kendall tau-b (quantity vs extended price per
    sampled supplier) — the reference's ranking metric as a distributed
    per-group triangle."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    li = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet",
        columns=["l_suppkey", "l_quantity", "l_extendedprice"],
    ).filter(F.col("l_suppkey") % 20 == 0).select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    return ML.kendall_tau_b(li, ["suppkey"], "x", "y")


@query(
    "recsys_slates",
    """
    WITH g AS (
      SELECT user_id,
             list(printf('%.6f', value) ORDER BY event_id) AS l,
             arg_max(value, event_id) AS lastv
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           array_to_string(l[greatest(len(l) - 19, 1):len(l)], ',') AS seq_csv,
           CAST(len(l) AS INT) AS seq_len,
           printf('%.6f', lastv) AS last_s
    FROM g
    """,
)
def recsys_slates(spark, sf_dir):
    """Per-user ranking slates: time-ordered value sequence truncated to
    the last 20 steps + the final-step label (the pointwise-ranker
    dataset prep). Sequence emitted as fixed-format CSV so the
    order-insensitive hash still proves element order."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    s = ML.build_ranking_slates(ev, "user_id", "event_id", "value", max_len=20)
    return s.select(
        "user_id",
        F.array_join(
            F.transform(F.col("seq"), lambda v: F.format_string("%.6f", v)), ","
        ).alias("seq_csv"),
        "seq_len",
        F.format_string("%.6f", F.col("last")).alias("last_s"),
    )


@query(
    "recsys_negative_sample",
    """
    WITH pos AS (
      SELECT l_suppkey AS user_key, l_partkey AS item_key,
             l_orderkey AS ok, l_linenumber AS ln
      FROM lineitem WHERE l_suppkey % 20 = 0
    ),
    mx AS (SELECT MAX(p_partkey) AS P FROM part),
    cand AS (
      SELECT user_key,
             CAST(concat('0x', substr(md5(
               concat_ws('-', user_key, ok, ln, j.j)), 1, 15)) AS BIGINT)
               % P + 1 AS item_key
      FROM pos CROSS JOIN mx
           CROSS JOIN (SELECT CAST(x + 1 AS INT) AS j FROM range(0, 4) r(x)) j
    ),
    neg AS (
      SELECT c.user_key, c.item_key FROM cand c
      LEFT JOIN (SELECT DISTINCT user_key, item_key FROM pos) p
        ON c.user_key = p.user_key AND c.item_key = p.item_key
      WHERE p.user_key IS NULL
    )
    SELECT user_key, item_key, 1 AS label FROM pos
    UNION ALL
    SELECT user_key, item_key, 0 AS label FROM neg
    """,
)
def recsys_negative_sample(spark, sf_dir):
    """Pointwise pairs with k=4 portable-hash negatives per observed
    (supplier, part) interaction; collisions with true interactions
    anti-joined away. Deterministic across engines and retries."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    li = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet",
        columns=["l_suppkey", "l_partkey", "l_orderkey", "l_linenumber"],
    ).filter(F.col("l_suppkey") % 20 == 0)
    p = read_parquet(spark, f"{sf_dir}/part.parquet", columns=["p_partkey"])
    n_items = p.agg(F.max("p_partkey").alias("P"))
    return ML.negative_sample_interactions(
        li, "l_suppkey", "l_partkey", ["l_orderkey", "l_linenumber"],
        n_items, k=4,
    )


@query(
    "ml_macro_f1",
    """
    WITH t AS (
      SELECT o_orderstatus AS label,
             CASE WHEN CAST(o_totalprice AS DOUBLE) > 150000.0
                  THEN 'F' ELSE 'O' END AS pred
      FROM orders
    ),
    cm AS (SELECT label, pred, COUNT(*) AS n FROM t GROUP BY 1, 2),
    a AS (SELECT label AS cls, SUM(n) AS support FROM cm GROUP BY 1),
    p AS (SELECT pred AS cls, SUM(n) AS n_pred FROM cm GROUP BY 1),
    tp AS (SELECT label AS cls, n AS tp FROM cm WHERE label = pred),
    j AS (
      SELECT COALESCE(a.cls, p.cls) AS cls,
             COALESCE(support, 0) AS support,
             COALESCE(n_pred, 0) AS n_pred,
             COALESCE(tp.tp, 0) AS tp
      FROM a FULL OUTER JOIN p ON a.cls = p.cls
             LEFT JOIN tp ON COALESCE(a.cls, p.cls) = tp.cls
    ),
    r AS (
      SELECT cls, support,
             CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END AS prec,
             CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS rec
      FROM j
    ),
    f AS (
      SELECT cls, support, prec, rec,
             CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec)
                  ELSE 0.0 END AS f1
      FROM r
    )
    SELECT CAST(SUM(support) AS BIGINT) AS n,
           SUM(rec * support) / SUM(support) AS accuracy,
           AVG(prec) AS macro_precision,
           AVG(rec) AS macro_recall,
           AVG(f1) AS macro_f1,
           SUM(f1 * support) / SUM(support) AS weighted_f1
    FROM f
    """,
)
def ml_macro_f1(spark, sf_dir):
    """Macro/micro classification summary of the price-threshold
    classifier — the single-row eval readout."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    o = read_parquet(
        spark, f"{sf_dir}/orders.parquet",
        columns=["o_orderstatus", "o_totalprice"],
    ).select(
        F.col("o_orderstatus").alias("label"),
        F.when(F.col("o_totalprice").cast("double") > 150000.0, "F")
        .otherwise("O")
        .alias("pred"),
    )
    return ML.classification_summary(o, "label", "pred")


@query(
    "ml_ndcg_at_k",
    """
    WITH b AS (
      SELECT l_suppkey AS suppkey,
             CAST(l_quantity AS DOUBLE) AS score,
             CAST(l_extendedprice AS DOUBLE) / 100000.0 AS rel,
             l_orderkey * 10 + l_linenumber AS tie
      FROM lineitem WHERE l_suppkey % 20 = 0
    ),
    r AS (
      SELECT suppkey, rel,
             ROW_NUMBER() OVER (PARTITION BY suppkey
                                ORDER BY score DESC, tie ASC) AS rp,
             ROW_NUMBER() OVER (PARTITION BY suppkey
                                ORDER BY rel DESC, tie ASC) AS ri
      FROM b
    )
    SELECT suppkey,
           SUM(CASE WHEN rp <= 10 THEN rel / log2(rp + 1.0) END) AS dcg,
           SUM(CASE WHEN ri <= 10 THEN rel / log2(ri + 1.0) END) AS idcg,
           CASE WHEN SUM(CASE WHEN ri <= 10 THEN rel / log2(ri + 1.0) END) > 0
                THEN SUM(CASE WHEN rp <= 10 THEN rel / log2(rp + 1.0) END)
                     / SUM(CASE WHEN ri <= 10 THEN rel / log2(ri + 1.0) END)
                ELSE 0.0 END AS ndcg
    FROM r GROUP BY suppkey
    """,
)
def ml_ndcg_at_k(spark, sf_dir):
    """NDCG@10 per sampled supplier (quantity as predicted relevance,
    scaled price as graded truth) with a deterministic tiebreak so
    ranks agree across engines."""
    from azuredataengineering_deeplearning_spark.operators import ml as ML

    li = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet",
        columns=["l_suppkey", "l_quantity", "l_extendedprice",
                 "l_orderkey", "l_linenumber"],
    ).filter(F.col("l_suppkey") % 20 == 0).select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_quantity").cast("double").alias("score"),
        (F.col("l_extendedprice").cast("double") / 100000.0).alias("rel"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tie"),
    )
    return ML.ndcg_at_k(li, ["suppkey"], "score", "rel", "tie", k=10)
