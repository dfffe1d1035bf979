"""Catalog: KQL-subset translation over lake tables (S8/S9 surface)."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import dec, exact_sum, sql_dec, sql_sum
from azuredataengineering_deeplearning_spark.sources.kql import kql_fork, kql_to_df
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, local_rows_df


@query(
    "kql_where_project_top",
    """
    SELECT event_id, user_id, value FROM events
    WHERE event_type = 'purchase' AND value > 50
    ORDER BY value DESC, event_id ASC LIMIT 20
    """,
)
def kql_where_project_top(spark, sf_dir):
    """KQL pipe: where → project → sort → take (``spark_read_kusto.py``
    pushdown shape, executed locally by the translator)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | where event_type == 'purchase' and value > 50
        | project event_id, user_id, value
        | sort by value desc, event_id asc
        | take 20
        """,
    )


@query(
    "kql_summarize",
    """
    SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
           MAX(value) AS peak
    FROM events GROUP BY event_type
    """,
)
def kql_summarize(spark, sf_dir):
    """KQL summarize with count/dcount/max by key."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | summarize n=count(), users=dcount(user_id), peak=max(value) by event_type",
    )


@query(
    "kql_arg_max",
    """
    SELECT event_id, user_id FROM (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def kql_arg_max(spark, sf_dir):
    """KQL ``summarize arg_max(Rev, *) by key`` — the daily_eval latest-
    revision pattern (``daily_eval.py:158``)."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(t, "events | summarize arg_max(event_id, *) by user_id")
    return out.select("event_id", "user_id")


@query(
    "kql_bin_ago",
    f"""
    SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 86400) * 86400) AS TIMESTAMP) AS day,
           COUNT(*) AS n,
           {sql_sum("value", "total")}
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-31 00:00:00' - INTERVAL 14 DAY
    GROUP BY day
    """,
)
def kql_bin_ago(spark, sf_dir):
    """KQL `where ts >= ago(14d) | summarize ... by bin(ts, 1d)` — the
    Azure-Monitor daily-rollup shape (``daily_eval.py:156`` ago-filter +
    epoch-aligned binning), `now` pinned for determinism. The summarize
    decimal-sum matches the engine's exact-aggregation convention."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    # translator handles the Kusto-shaped where/extend; the final agg is
    # engine-exact (the translator's own sum() mirrors Kusto's double)
    filtered = kql_to_df(
        t,
        "events | where ts >= ago(14d) | extend day = bin(ts, 1d)",
        now="2024-01-31 00:00:00",
    )
    return filtered.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value", "total"),
    )


@query(
    "kql_join_summarize",
    """
    SELECT c_mktsegment, COUNT(*) AS n, MAX(o_totalprice) AS top_order
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def kql_join_summarize(spark, sf_dir):
    """KQL cross-table join → summarize (the daily_eval.py:118-140 shape:
    enrich a fact with a dim, aggregate per segment)."""
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    return kql_to_df(
        t,
        """
        orders
        | join kind=inner (customer) on $left.o_custkey == $right.c_custkey
        | summarize n=count(), top_order=max(o_totalprice) by c_mktsegment
        """,
    )


@query(
    "kql_mv_expand_wordcount",
    """
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok HAVING COUNT(*) > 50
    """,
)
def kql_mv_expand_wordcount(spark, sf_dir):
    """KQL extend-split → mv-expand → summarize: the classic token
    frequency pipe (dynamic-array expansion). Threshold 50 keeps the
    result NON-EMPTY at every test SF (30 tokens even at sf0.001) —
    the old ``> 5000`` excluded every token at sf0.01, so the oracle
    row hash-matched on 0 vs 0 and could not catch mv-expand drift
    (r10's empty-array bug would have sailed past it)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        """
        documents
        | extend tok = split(text, ' ')
        | mv-expand tok
        | summarize n=count() by tok
        | where n > 50
        """,
    )


@query(
    "kql_parse_source",
    """
    SELECT regexp_extract(source, '^src(.*)$', 1) AS src_num,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1
    """,
)
def kql_parse_source(spark, sf_dir):
    """KQL parse simple-mode extraction → summarize, plus project-away
    of the consumed raw column."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        """
        documents
        | parse source with 'src' src_num
        | project-away source
        | summarize n=count() by src_num
        """,
    )


@query(
    "kql_countif_percentile",
    """
    SELECT event_type,
           CAST(COUNT(*) FILTER (value > 50) AS BIGINT) AS big,
           CAST(SUM(value) FILTER (value > 50) AS DOUBLE) AS big_sum,
           quantile_cont(value, 0.5) AS p50_value
    FROM events GROUP BY event_type
    """,
)
def kql_countif_percentile(spark, sf_dir):
    """KQL conditional and parameterized aggregates: countif / sumif /
    percentile inside summarize."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | summarize big=countif(value > 50), big_sum=sumif(value, value > 50),
                    p50_value=percentile(value, 50) by event_type
        """,
    )


@query(
    "kql_make_series",
    f"""
    WITH f AS (
      SELECT event_type, value,
             CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                        / 86400000000) AS BIGINT) AS idx
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    a AS (SELECT event_type, idx,
                 {sql_sum("value", "v")}
          FROM f GROUP BY 1, 2),
    k AS (SELECT DISTINCT event_type FROM f),
    spine AS (SELECT k.event_type, r.idx FROM k CROSS JOIN range(0, 31) r(idx)),
    s AS (SELECT spine.event_type, spine.idx, COALESCE(a.v, 0.0) AS v
          FROM spine LEFT JOIN a
            ON spine.event_type = a.event_type AND spine.idx = a.idx)
    SELECT event_type,
           array_to_string(list(printf('%.6f', v) ORDER BY idx), ',') AS total_csv
    FROM s GROUP BY event_type
    """,
)
def kql_make_series(spark, sf_dir):
    """make-series through the KQL translator: daily revenue series per
    event type with default-0 gap fill (the Kusto anomaly-scoring prep
    shape from ``daily_eval.py``)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series total=sum(value) default=0 on ts
            from datetime(2024-01-01) to datetime(2024-02-01) step 1d
            by event_type
        """,
    )
    return df.select(
        "event_type",
        F.array_join(
            F.transform(F.col("total"), lambda v: F.format_string("%.6f", v)), ","
        ).alias("total_csv"),
    )


@query(
    "kql_scalar_functions",
    """
    SELECT event_id,
           UPPER(event_type) AS et_u,
           CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS vlab,
           event_type || ':' || CAST(user_id AS VARCHAR) AS tag,
           CAST(LENGTH(event_type) AS INT) AS et_len
    FROM events
    """,
)
def kql_scalar_functions(spark, sf_dir):
    """KQL scalar surface through extend: iff, strcat, tostring,
    toupper, strlen — all translated to JVM expressions."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | extend et_u = toupper(event_type),
                 vlab = iff(value > 50, 'hi', 'lo'),
                 tag = strcat(event_type, ':', tostring(user_id)),
                 et_len = strlen(event_type)
        | project event_id, et_u, vlab, tag, et_len
        """,
    )
    from pyspark.sql import functions as F

    return df.withColumn("et_len", F.col("et_len").cast("int"))


@query(
    "kql_top_nested",
    f"""
    WITH l1 AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
      ORDER BY n_events DESC, event_type LIMIT 2
    ),
    l2 AS (
      SELECT e.event_type, e.user_id,
             {sql_sum("value", "total")}
      FROM events e JOIN l1 USING (event_type)
      GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY total DESC, user_id) AS rn
      FROM l2
    )
    SELECT r.event_type, r.user_id, r.total, l1.n_events
    FROM r JOIN l1 USING (event_type) WHERE rn <= 3
    """,
)
def kql_top_nested(spark, sf_dir):
    """Hierarchical top-k: the 2 busiest event types, and within each
    the 3 users with the highest summed value — deeper levels scan only
    surviving branches (semi-join between levels)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | top-nested 2 of event_type by n_events=count(), "
        "top-nested 3 of user_id by total=sum(value)",
    )


@query(
    "kql_make_list_set",
    # CSV-joined so the driver canonicalizer (which cannot hash list
    # cells) can sort the frame; order is proven by the join
    """
    SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types_all_csv,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_set_csv
    FROM events GROUP BY user_id
    """,
)
def kql_make_list_set(spark, sf_dir):
    """KQL make_list/make_set per user (emitted sorted — a documented
    determinism deviation from Kusto's arrival order)."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        "events | summarize types_all=make_list(event_type),"
        " types_set=make_set(event_type) by user_id",
    )
    return out.select(
        "user_id",
        F.array_join("types_all", ",").alias("types_all_csv"),
        F.array_join("types_set", ",").alias("types_set_csv"),
    )


@query(
    "kql_let_dynamic_case",
    """
    WITH base AS (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    )
    SELECT event_id, k,
           CASE WHEN k < 25 THEN 'low' WHEN k < 75 THEN 'mid' ELSE 'high' END AS band
    FROM base WHERE k BETWEEN 10 AND 90
    """,
)
def kql_let_dynamic_case(spark, sf_dir):
    """let-bound threshold + dynamic (JSON) property access + case()
    banding + between — the everyday Kusto triage-query shape, executed
    as DataFrame ops (get_json_object stays JVM-side; the filter and
    CASE fold into one scan pass)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        let lo = 10;
        let hi = 90;
        events
        | extend k = toint(todynamic(props).k)
        | where k between (lo .. hi)
        | extend band = case(k < 25, 'low', k < 75, 'mid', 'high')
        | project event_id, k, band
        """,
    )


@query(
    "kql_serialized_diff",
    """
    WITH s AS (
      SELECT user_id, epoch_ns(ts) AS tsn, value,
             row_number() OVER (ORDER BY epoch_ns(ts), event_id) AS rn,
             lag(value) OVER (ORDER BY epoch_ns(ts), event_id) AS pv
      FROM events WHERE user_id <= 10
    )
    SELECT CAST(rn AS INT) AS rn, user_id, value - pv AS dv FROM s
    """,
)
def kql_serialized_diff(spark, sf_dir):
    """serialize + row_number()/prev(): the sequential-log differencing
    idiom. The sort is the explicit KQL serialization contract; at lake
    scale, partition the window (summarize-by) or use
    ``windows.global_row_number`` instead of a single global order."""
    t = load_tables(spark, sf_dir, ["events"])
    t = {"events": t["events"].withColumn("tsn", F.col("ts_ns"))}
    return kql_to_df(
        t,
        "events | where user_id <= 10 | sort by tsn, event_id"
        " | serialize | extend rn = row_number() | extend dv = value - prev(value)"
        " | project rn, user_id, dv",
    )


@query(
    "kql_conditional_aggs",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT CASE WHEN value > 50 THEN user_id END) AS BIGINT) AS hot_users,
           MAX(CASE WHEN value <= 50 THEN value END) AS max_cool,
           quantile_cont(value, 0.50) AS p50_value,
           quantile_cont(value, 0.95) AS p95_value
    FROM events GROUP BY event_type
    """,
)
def kql_conditional_aggs(spark, sf_dir):
    """dcountif/maxif + multi-percentiles in one summarize — the
    conditional-aggregate family; all translate to guarded CASE
    aggregates (one shuffle, map-side combined)."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        "events | summarize hot_users = dcountif(user_id, value > 50.0),"
        " max_cool = maxif(value, value <= 50.0),"
        " percentiles(value, 50, 95) by event_type",
    )
    return out.select(
        "event_type",
        F.col("hot_users").cast("bigint").alias("hot_users"),
        "max_cool",
        F.col("p50_value"),
        F.col("p95_value"),
    )


@query(
    "kql_top_hitters",
    f"""
    SELECT user_id,
           CAST(SUM({sql_dec("value")}) AS DOUBLE) AS approximate_sum_value
    FROM events GROUP BY user_id
    ORDER BY approximate_sum_value DESC, user_id LIMIT 10
    """,
)
def kql_top_hitters(spark, sf_dir):
    """`top-hitters 10 of user_id by value` — the heavy-hitters
    operator (exact here; KQL column naming preserved)."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].withColumn(
        "value", dec("value")
    )
    out = kql_to_df({"events": ev}, "events | top-hitters 10 of user_id by value")
    return out.select(
        "user_id", F.col("approximate_sum_value").cast("double")
    )


@query(
    "kql_lookup_dim",
    """
    SELECT e.user_id, e.value, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def kql_lookup_dim(spark, sf_dir):
    """`lookup` — KQL's dimension enrich (left outer against the
    customer dim)."""
    t = load_tables(spark, sf_dir, ["events", "customer"])
    dim = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = kql_to_df(
        {"events": t["events"], "dim": dim},
        "events | where event_type == 'purchase' | lookup dim on user_id"
        " | project user_id, value, c_mktsegment",
    )
    return out


@query(
    "kql_mv_apply",
    """
    SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS long_toks
    FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    WHERE len(tok) > 6
    GROUP BY doc_id, lang
    """,
)
def kql_mv_apply(spark, sf_dir):
    """KQL ``mv-apply`` — per-record array processing (the next
    construct a ported dashboard hits after summarize/arg_max): expand
    each document's token array, filter inside the per-record subtable,
    and aggregate back to one row per document. The engine correlates
    per-record stages on a pre-explode row id; summarize keeps the
    record's other columns (Kusto behavior)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        """
        documents
        | project doc_id, lang, tok = split(text, ' ')
        | mv-apply tok on (where strlen(tok) > 6 | summarize long_toks = count())
        """,
    )


@query(
    "kql_parse_where",
    """
    SELECT doc_id,
           regexp_extract(text, '^(.*?)slow fast (.*?) (.*)$', 2) AS nxt
    FROM documents
    WHERE regexp_matches(text, '^(.*?)slow fast (.*?) (.*)$')
    """,
)
def kql_parse_where(spark, sf_dir):
    """KQL ``parse-where`` — pattern extraction that DROPS non-matching
    rows (plain ``parse`` keeps them with empty captures): the word
    following the first 'slow fast' bigram, only for documents that
    contain it."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        """
        documents
        | parse-where text with head 'slow fast ' nxt ' ' rest
        | project doc_id, nxt
        """,
    )


@query(
    "kql_materialize",
    """
    SELECT event_type, CAST(2 * COUNT(*) AS BIGINT) AS total
    FROM events GROUP BY event_type
    """,
)
def kql_materialize(spark, sf_dir):
    """KQL ``let M = materialize(...)`` — evaluate a sub-pipe once and
    reuse it across references (here: M unioned with itself). The
    engine pins the sub-pipe with an eager localCheckpoint, so neither
    reference recomputes the aggregate."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        let M = materialize(events | summarize n = count() by event_type);
        M
        | union (M)
        | summarize total = sum(n) by event_type
        """,
    )


@query(
    "kql_datatable_enrich",
    """
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d.weight) AS BIGINT) AS weighted
    FROM events e
    JOIN (VALUES ('click', 1), ('purchase', 10), ('signup', 5))
         AS d(event_type, weight)
      ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def kql_datatable_enrich(spark, sf_dir):
    """KQL ``datatable`` literal source as an enrichment dim — the
    inline lookup-table idiom (weights/allowlists defined in the query
    text, joined against lake data)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        let W = datatable (event_type: string, weight: long)
            ['click', 1, 'purchase', 10, 'signup', 5];
        events
        | join kind=inner (W) on event_type
        | summarize n = count(), weighted = sum(weight) by event_type
        """,
    )


@query(
    "kql_partition_top",
    """
    SELECT event_type, event_id, user_id FROM (
      SELECT event_type, event_id, user_id,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def kql_partition_top(spark, sf_dir):
    """KQL ``partition by Col ( sub-pipe )`` — per-partition-value
    sub-pipes. The engine compiles the whole construct to ONE
    distributed plan (top N inside a partition = one row_number window
    partitioned by the column), so unlike Kusto's native strategy there
    is no 64-partition cap and no per-partition dispatch."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | partition by event_type (top 3 by event_id asc)
        | project event_type, event_id, user_id
        """,
    )


@query(
    "kql_evaluate_pivot",
    """
    SELECT user_id % 10 AS user_bucket,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def kql_evaluate_pivot(spark, sf_dir):
    """KQL ``evaluate pivot(PivotCol)`` — distinct pivot values become
    columns, remaining columns group. Spark groupBy().pivot(); count()
    cells with no rows render 0 (the conditional-count shape the oracle
    spells out)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | project user_bucket = user_id % 10, event_type
        | evaluate pivot(event_type)
        """,
    )


# shared binned-count spine for the series-function oracles: daily event
# counts per type over Jan 2024, zero-filled across all 31 bins — the
# relational twin of the engine's make-series output
_SERIES_COUNT_CTE = """
    WITH w AS (
      SELECT event_type,
             CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400)
                  AS BIGINT) AS i
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    b AS (SELECT event_type, i, COUNT(*) AS n FROM w GROUP BY 1, 2),
    spine AS (SELECT event_type, r.i
              FROM (SELECT DISTINCT event_type FROM b) t CROSS JOIN range(31) r(i)),
    s AS (SELECT spine.event_type, spine.i, CAST(COALESCE(b.n, 0) AS DOUBLE) AS y
          FROM spine LEFT JOIN b USING (event_type, i))
"""


@query(
    "kql_series_fit_line",
    _SERIES_COUNT_CTE
    + """
    SELECT event_type, regr_slope(y, i) AS slope,
           regr_intercept(y, i) AS interception, regr_r2(y, i) AS rsquare
    FROM s GROUP BY event_type
    """,
)
def kql_series_fit_line(spark, sf_dir):
    """KQL ``series_fit_line_dynamic`` over make-series output — the
    Kusto trend-detection idiom (daily_eval-style dashboards fit every
    series before alerting). Pure higher-order array SQL per row: the
    moment sums are one pass over each array, zero extra shuffles; the
    oracle recomputes the fit relationally with DuckDB's regr_* family."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend f = series_fit_line_dynamic(n)
        | project event_type, slope = f.slope, interception = f.interception,
                  rsquare = f.rsquare
        """,
    )


@query(
    "kql_series_stats",
    _SERIES_COUNT_CTE
    + """,
    agg AS (
      SELECT event_type, MIN(y) AS s_min, MAX(y) AS s_max, AVG(y) AS s_avg,
             stddev_samp(y) AS s_stdev, SUM(y) AS s_sum,
             CAST(COUNT(*) AS BIGINT) AS s_len
      FROM s GROUP BY 1)
    SELECT a.event_type, a.s_min,
           MIN(CASE WHEN s.y = a.s_min THEN s.i END) AS s_minidx,
           a.s_max,
           MIN(CASE WHEN s.y = a.s_max THEN s.i END) AS s_maxidx,
           a.s_avg, a.s_stdev, a.s_sum, a.s_len
    FROM s JOIN agg a USING (event_type)
    GROUP BY a.event_type, a.s_min, a.s_max, a.s_avg, a.s_stdev, a.s_sum, a.s_len
    """,
)
def kql_series_stats(spark, sf_dir):
    """KQL ``series_stats_dynamic`` — per-series descriptive stats as a
    struct (sample variance, first-index extrema; exactly accumulated
    sums so the hash matches the oracle's summation order)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend st = series_stats_dynamic(n)
        | project event_type, s_min = st.min, s_minidx = st.min_idx,
                  s_max = st.max, s_maxidx = st.max_idx, s_avg = st.avg,
                  s_stdev = st.stdev, s_sum = st.sum, s_len = st.len
        """,
    )


@query(
    "kql_series_fill_linear",
    f"""
    WITH w AS (
      SELECT event_type,
             CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400)
                  AS BIGINT) AS i,
             value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        AND value >= 300
    ),
    b AS (SELECT event_type, i,
                 {sql_sum("value", "v")}
          FROM w GROUP BY 1, 2),
    spine AS (SELECT event_type, r.i
              FROM (SELECT DISTINCT event_type FROM b) t CROSS JOIN range(31) r(i)),
    s AS (SELECT spine.event_type, spine.i, b.v AS y
          FROM spine LEFT JOIN b USING (event_type, i)),
    win AS (
      SELECT event_type, i, y,
        last_value(CASE WHEN y IS NOT NULL THEN struct_pack(i := i, v := y) END
                   IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        first_value(CASE WHEN y IS NOT NULL THEN struct_pack(i := i, v := y) END
                    IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM s),
    f AS (
      SELECT event_type, i,
        CASE WHEN y IS NOT NULL THEN y
             WHEN pv IS NULL AND nv IS NULL THEN NULL
             WHEN pv IS NULL THEN nv.v
             WHEN nv IS NULL THEN pv.v
             ELSE pv.v + (nv.v - pv.v) * (i - pv.i) / (nv.i - pv.i) END AS yf
      FROM win)
    SELECT event_type, string_agg(printf('%.6f', yf), ',' ORDER BY i) AS filled_csv
    FROM f GROUP BY event_type
    """,
)
def kql_series_fill_linear(spark, sf_dir):
    """KQL ``make-series default=null`` + ``series_fill_linear`` — gap
    marking then per-series linear interpolation (edge gaps take the
    nearest value). A sparse high-value sum series guarantees real
    interior AND edge gaps at every sf; the oracle interpolates
    relationally with IGNORE-NULLS window scans. The engine side is one
    higher-order array expression per row — no shuffle beyond the
    make-series aggregate itself."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | where value >= 300
        | make-series v=sum(value) default=null on ts
            from datetime(2024-01-01) to datetime(2024-02-01) step 1d
            by event_type
        | extend vf = series_fill_linear(v)
        """,
    )
    return df.select(
        "event_type",
        F.array_join(
            F.transform(F.col("vf"), lambda x: F.format_string("%.6f", x)), ","
        ).alias("filled_csv"),
    )


@query(
    "kql_bag_unpack",
    """
    SELECT event_id, event_type,
           json_extract_string(props, '$.k') AS k
    FROM events
    """,
)
def kql_bag_unpack(spark, sf_dir):
    """KQL ``evaluate bag_unpack(DynCol)`` — property-bag expansion into
    real columns. The key set comes from ONE bounded job (distinct
    json_object_keys — bounded by bag schema width); each key is a
    get_json_object projection, string-typed (cast downstream)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | project event_id, event_type, props
        | evaluate bag_unpack(props)
        """,
    )


@query(
    "kql_row_cumsum",
    f"""
    WITH p AS (
      SELECT event_id, value,
             SUM(CASE WHEN value > 95 THEN 1 ELSE 0 END)
               OVER (ORDER BY event_id) AS seg
      FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id,
           CAST(SUM({sql_dec("value")})
                OVER (ORDER BY event_id) AS DOUBLE) AS cum,
           CAST(SUM({sql_dec("value")})
                OVER (PARTITION BY seg ORDER BY event_id) AS DOUBLE) AS cum_r
    FROM p
    """,
)
def kql_row_cumsum(spark, sf_dir):
    """KQL ``row_cumsum(term [, restart])`` over a serialized pipe —
    running totals in the pinned sort order, with the restart form
    resetting at flagged rows. The engine never runs an unpartitioned
    window: ``windows.global_cumsum`` buckets on deterministic bounds,
    collects O(buckets) decimal partials, and adds literal prefix
    offsets to parallel within-bucket windows (restart adds one
    segment-id join). The oracle is the single-reducer SQL the kernel
    replaces."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | where event_type == 'purchase'
        | sort by event_id asc
        | extend cum = row_cumsum(value), cum_r = row_cumsum(value, value > 95)
        | project event_id, cum, cum_r
        """,
    )


@query(
    "kql_series_pearson",
    _SERIES_COUNT_CTE
    + f""",
    b2 AS (SELECT event_type,
                  CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400)
                       AS BIGINT) AS i,
                  {sql_sum("value", "v")}
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
           GROUP BY 1, 2),
    s2 AS (SELECT s.event_type, s.i, s.y AS y1, COALESCE(b2.v, 0) AS y2
           FROM s LEFT JOIN b2 USING (event_type, i))
    SELECT event_type, corr(y1, y2) AS c FROM s2 GROUP BY event_type
    """,
)
def kql_series_pearson(spark, sf_dir):
    """KQL ``series_pearson_correlation`` across two make-series outputs
    joined per key (daily count vs daily revenue co-movement) — one
    zipped moment pass per row, zero extra shuffles; the oracle is
    DuckDB's relational ``corr`` over the same spine."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        let A = events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type;
        let B = events
        | make-series v=sum(value) on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type;
        A
        | join kind=inner (B) on event_type
        | extend c = series_pearson_correlation(n, v)
        | project event_type, c
        """,
    )


@query(
    "kql_series_anomalies",
    _SERIES_COUNT_CTE
    + """,
    fit AS (SELECT event_type, regr_slope(y, i) AS m, regr_intercept(y, i) AS b
            FROM s GROUP BY 1),
    r AS (SELECT s.event_type, s.i, s.y - (f.b + f.m * s.i) AS resid
          FROM s JOIN fit f USING (event_type)),
    q AS (SELECT event_type,
                 quantile_cont(resid, 0.25) AS q1,
                 quantile_cont(resid, 0.75) AS q3
          FROM r GROUP BY 1)
    SELECT r.event_type,
           string_agg(CASE WHEN resid > q3 + 1.5 * (q3 - q1) THEN '1'
                           WHEN resid < q1 - 1.5 * (q3 - q1) THEN '-1'
                           ELSE '0' END, ',' ORDER BY i) AS anoms_csv
    FROM r JOIN q USING (event_type) GROUP BY r.event_type
    """,
)
def kql_series_anomalies(spark, sf_dir):
    """KQL ``series_decompose_anomalies`` (trend-baseline form): per-bin
    −1/0/+1 anomaly flags from Tukey fences on the residuals of the
    per-series line fit. The engine computes everything as one
    higher-order array expression per row; the oracle rebuilds it
    relationally (regr_* fit + quantile_cont fences — the same
    linear-interpolated quantile convention the array kernel uses)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend d = series_decompose_anomalies(n, 1.5)
        """,
    )
    return df.select(
        "event_type",
        F.array_join(
            F.transform(F.col("d.anomalies"), lambda x: x.cast("string")), ","
        ).alias("anoms_csv"),
    )


@query(
    "kql_scalar_extras",
    """
    SELECT event_id,
           (event_type IS NULL OR event_type = '') AS e,
           substr(event_type, 2, 3) AS sub,
           CAST(strpos(event_type, 'ick') - 1 AS INT) AS idx,
           replace(event_type, 'ck', 'x') AS rep,
           CAST(year(ts) AS INT) AS yr,
           CAST(date_diff('day', ts, TIMESTAMP '2024-02-01') AS BIGINT) AS dd,
           CAST(to_timestamp(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01 06:00:00')) / 86400) * 86400
                + epoch(TIMESTAMP '2024-01-01 06:00:00')) AS TIMESTAMP) AS b
    FROM events
    """,
)
def kql_scalar_extras(spark, sf_dir):
    """Round-8 Kusto scalar family: isempty, 0-based substring/indexof,
    replace_string, getyear, datetime_diff (period-BOUNDARY counting,
    the Kusto/DuckDB date_diff convention — not elapsed units), and
    bin_at (bins aligned to an arbitrary anchor instead of the epoch)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        """
        events
        | extend e = isempty(event_type),
                 sub = substring(event_type, 1, 3),
                 idx = indexof(event_type, 'ick'),
                 rep = replace_string(event_type, 'ck', 'x'),
                 yr = getyear(ts),
                 dd = datetime_diff('day', datetime(2024-02-01), ts),
                 b = bin_at(ts, 1d, datetime(2024-01-01 06:00:00))
        | project event_id, e, sub, idx, rep, yr, dd, b
        """,
    )
    return out.withColumn("idx", F.col("idx").cast("int")).withColumn(
        "yr", F.col("yr").cast("int")
    )


@query(
    "kql_series_moving_avg",
    _SERIES_COUNT_CTE
    + """
    SELECT event_type,
           string_agg(printf('%.6f', ma), ',' ORDER BY i) AS ma_csv
    FROM (SELECT event_type, i,
                 AVG(y) OVER (PARTITION BY event_type ORDER BY i
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma
          FROM s)
    GROUP BY event_type
    """,
)
def kql_series_moving_avg(spark, sf_dir):
    """KQL-style ``series_moving_avg(series, 7)`` — 7-day smoothing of
    the daily count series with partial edge windows, matching SQL's
    ``AVG OVER (ROWS 6 PRECEDING)`` exactly (the oracle IS that window).
    Zero-shuffle array SQL per row."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend ma = series_moving_avg(n, 7)
        """,
    )
    return df.select(
        "event_type",
        F.array_join(
            F.transform(F.col("ma"), lambda x: F.format_string("%.6f", x)), ","
        ).alias("ma_csv"),
    )


@query(
    "kql_top_nested_others",
    """
    WITH g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    t AS (SELECT * FROM g ORDER BY n DESC, event_type LIMIT 2)
    SELECT event_type, n FROM t
    UNION ALL
    SELECT 'Other' AS event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_type NOT IN (SELECT event_type FROM t)
    """,
)
def kql_top_nested_others(spark, sf_dir):
    """``top-nested N of col with others='label'`` — top-k plus one
    "everything else" row, the pie-chart/report idiom. The others
    aggregate is recomputed from SOURCE rows behind a broadcast
    anti-join on the tiny top-key set (exact for avg/dcount, not a
    re-fold of per-key aggregates)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | top-nested 2 of event_type with others='Other' by n=count()",
    )


@query(
    "kql_join_hint_broadcast",
    f"""
    SELECT e.event_type, c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_sum("e.value", "total")}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def kql_join_hint_broadcast(spark, sf_dir):
    """``join kind=inner hint.strategy=broadcast`` — Kusto's broadcast
    join hint mapped to ``F.broadcast`` on the dimension side (the
    ``daily_eval.py:118-158``-class repeated dim-join idiom). The 100x
    plan: the customer dim broadcasts, the fact never shuffles for the
    join; the only exchange is the summarize. kind=inner (not the
    innerunique default) so every fact row survives — the oracle is a
    plain SQL join."""
    t = load_tables(spark, sf_dir, ["events", "customer"])
    dim = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = kql_to_df(
        {"events": t["events"], "dim": dim},
        """
        events
        | join kind=inner hint.strategy=broadcast (dim) on user_id
        | summarize n = count(), total = sum(value) by event_type, c_mktsegment
        """,
    )
    return out.select("event_type", "c_mktsegment", "n", "total")


@query(
    "kql_facet_by",
    """
    SELECT 'event_type' AS facet_column, event_type AS facet_value,
           CAST(COUNT(*) AS BIGINT) AS count_
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'user_id', CAST(user_id AS VARCHAR), CAST(COUNT(*) AS BIGINT)
    FROM events GROUP BY 2
    """,
)
def kql_facet_by(spark, sf_dir):
    """``facet by c1, c2`` — Kusto's multi-breakdown readout flattened
    to one long-form frame (facet_column, facet_value, count_). ONE
    scan + ONE shuffle via GROUPING SETS — an N-column facet costs one
    aggregate, not N jobs (the oracle unions per-column GROUP BYs; the
    engine plan is a single Expand)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(t, "events | facet by event_type, user_id")


@query(
    "kql_scalar_extras2",
    r"""
    SELECT doc_id,
           string_split(text, ' ')[1] AS first_word,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           concat_ws('-', lang, source) AS tag,
           CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT)
             AS n_e,
           regexp_replace(text, '^(?:[a-z]+ )+', '') AS headless,
           strlen(lang) AS lang_bytes,
           reverse(lang) AS gnal,
           lower(to_hex(doc_id)) AS hx
    FROM documents
    """,
)
def kql_scalar_extras2(spark, sf_dir):
    """Round-9 scalar widening: ``split(col,'d')[i]`` (0-based, plain-
    string delimiter escaped into Spark's regex split),
    ``array_length``, ``strcat_delim``, ``countof`` (length-difference
    identity), ``trim_start`` (REGEX trim, Kusto semantics),
    ``string_size`` (bytes), ``reverse``, ``tohex`` (lowercase). All
    textual rewrites to built-in JVM expressions — zero UDFs, zero
    shuffles."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        """
        documents
        | extend first_word = split(text, ' ')[0],
                 n_words = array_length(split(text, ' ')),
                 tag = strcat_delim('-', lang, source),
                 n_e = countof(text, 'e'),
                 headless = trim_start('[a-z]+ ', text),
                 lang_bytes = string_size(lang),
                 gnal = reverse(lang),
                 hx = tohex(doc_id)
        | project doc_id, first_word, n_words, tag, n_e, headless,
                  lang_bytes, gnal, hx
        """,
    )


@query(
    "kql_datetime_extras",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(dayofweek(ts) AS BIGINT) AS dow,
           date_trunc('day', ts) + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND
             AS eod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS d,
           MIN(event_type) AS any_et
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def kql_datetime_extras(spark, sf_dir):
    """Round-9 datetime + aggregate widening: ``format_datetime`` (→
    date_format), ``dayofweek`` (int days since Sunday, 0=Sun),
    ``endofday`` (last micro-grain instant), ``take_any`` (pinned
    deterministic MIN — any pick is a valid Kusto take_any), and
    ``dcount(col, accuracy)`` (accuracy knob accepted; exact count —
    a strict accuracy upgrade). One aggregate, group keys computed
    inline — no pre-shuffle projection stage."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        """
        events
        | extend day = format_datetime(ts, 'yyyy-MM-dd'),
                 dow = dayofweek(ts),
                 eod = endofday(ts)
        | summarize n = count(), d = dcount(user_id, 3),
                    any_et = take_any(event_type) by day, dow, eod
        """,
    )
    return out.select(
        "day", F.col("dow").cast("long").alias("dow"), "eod", "n", "d", "any_et"
    )


@query(
    "kql_search",
    r"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE regexp_matches(text, '(?i)\bspark\b')
       OR regexp_matches(lang, '(?i)\bspark\b')
       OR regexp_matches(source, '(?i)\bspark\b')
    """,
)
def kql_search(spark, sf_dir):
    """``search 'term'`` — Kusto's cross-column term search: ANY string
    column has the whole term, case-insensitive (``kind=
    case_sensitive`` for exact case; leading/trailing ``*`` for
    hassuffix/hasprefix). One OR of per-column RLIKEs — single scan,
    no UDFs. The term 'spark' actually OCCURS in the documents corpus
    (387+ hits at sf0.001) — the old term 'model' never did, so the
    oracle row hash-matched on 0 vs 0 and was vacuous."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t, "documents | search 'spark' | project doc_id, lang, source"
    )


@query(
    "kql_narrow",
    """
    WITH r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY r_regionkey) - 1 AS Row,
             r_regionkey, r_name
      FROM region
    )
    SELECT Row, 'r_regionkey' AS Column, CAST(r_regionkey AS VARCHAR) AS Value
    FROM r
    UNION ALL SELECT Row, 'r_name', r_name FROM r
    """,
)
def kql_narrow(spark, sf_dir):
    """``evaluate narrow()`` — transpose to (Row, Column, Value) long
    form, values stringified. Row numbering is pinned by the preceding
    sort and runs on the distributed global_row_number kernel (never an
    unpartitioned window); the transpose is one ``stack`` projection,
    zero extra shuffles."""
    t = load_tables(spark, sf_dir, ["region"])
    return kql_to_df(
        t, "region | sort by r_regionkey asc | evaluate narrow()"
    )


@query(
    "kql_percentilew",
    """
    WITH c AS (
      SELECT event_type,
             value AS v,
             SUM(CAST(user_id AS DOUBLE) + 1) OVER (
               PARTITION BY event_type ORDER BY value
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(CAST(user_id AS DOUBLE) + 1) OVER (PARTITION BY event_type)
               AS cdf
      FROM events
    )
    SELECT event_type, MIN(CASE WHEN cdf >= 0.5 THEN v END) AS p50
    FROM c GROUP BY 1
    """,
)
def kql_percentilew(spark, sf_dir):
    """``summarize p50 = percentilew(value, w, 50) by event_type`` —
    Kusto's weighted percentile, routed to the two-shuffle
    weighted-CDF operator (operators/aggregates.weighted_percentile)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].withColumn(
        "w", F.col("user_id").cast("double") + 1
    )
    return kql_to_df(
        {"events": ev},
        "events | summarize p50 = percentilew(value, w, 50) by event_type",
    )


@query(
    "kql_scalar_extras3",
    """
    SELECT doc_id,
           CAST(least(n_chars, 1000) AS BIGINT) AS lo,
           CAST(ceil(n_chars / 7.0) AS BIGINT) AS c,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS b,
           array_to_string((string_split(text, ' '))[1:3], ',') AS sl,
           CAST(list_position(string_split(text, ' '), 'the') - 1 AS BIGINT)
             AS ix,
           to_json({'lang': lang, 'n': n_chars}) AS pj,
           isfinite(CAST(n_chars AS DOUBLE)) AS fin
    FROM documents
    """,
)
def kql_scalar_extras3(spark, sf_dir):
    """Round-9 scalar batch 2: ``min_of``/``max_of`` (→least/greatest),
    ``ceiling``, numeric ``bin``/``floor`` (round down to a multiple),
    ``array_slice`` (end-inclusive 0-based → Spark slice),
    ``array_index_of`` (0-based, -1 absent), ``pack`` (property bag as
    JSON — ``bag_unpack``'s inverse), ``isfinite``. All JVM built-ins,
    zero UDFs."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["documents"])
    out = kql_to_df(
        t,
        """
        documents
        | extend lo = min_of(n_chars, 1000),
                 c = ceiling(n_chars / 7.0),
                 b = bin(n_chars, 100),
                 sl = array_slice(split(text, ' '), 0, 2),
                 ix = array_index_of(split(text, ' '), 'the'),
                 pj = pack('lang', lang, 'n', n_chars),
                 fin = isfinite(todouble(n_chars))
        | project doc_id, lo, c, b, sl, ix, pj, fin
        """,
    )
    return out.select(
        "doc_id",
        F.col("lo").cast("long").alias("lo"),
        F.col("c").cast("long").alias("c"),
        F.col("b").cast("long").alias("b"),
        # CSV-join: the driver's hash harness canonicalizes scalar
        # cells only (catalog-wide output contract)
        F.array_join(F.col("sl"), ",").alias("sl"),
        F.col("ix").cast("long").alias("ix"),
        "pj",
        "fin",
    )


@query(
    "kql_series_arith",
    f"""
    WITH w AS (
      SELECT event_type,
             CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400)
                  AS BIGINT) AS i,
             value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    b AS (SELECT event_type, i, COUNT(*) AS n,
                 {sql_sum("value", "sv")}
          FROM w GROUP BY 1, 2),
    spine AS (SELECT event_type, r.i
              FROM (SELECT DISTINCT event_type FROM b) t
              CROSS JOIN range(31) r(i)),
    s AS (SELECT spine.event_type, spine.i,
                 CAST(COALESCE(b.n, 0) AS DOUBLE) AS n,
                 CAST(COALESCE(b.sv, 0) AS DOUBLE) AS sv
          FROM spine LEFT JOIN b USING (event_type, i))
    SELECT event_type, i,
           CASE WHEN n = 0 THEN NULL ELSE sv / n END AS avg_,
           abs(sv - n) AS dev
    FROM s
    """,
)
def kql_series_arith(spark, sf_dir):
    """Elementwise series arithmetic over MULTI-AGGREGATE make-series
    arrays (``series_divide``/``series_subtract``/``series_abs``): the
    per-bin mean as sum-series / count-series (try_divide: empty bins
    → null, matching Kusto) and |sum - count|. Both series come from
    ONE single-pass make-series plan (one (keys, bin) aggregate, two
    map columns); the arithmetic is pure zip_with/transform — zero
    extra shuffles. Compared per-bin as NUMBERS (the CSV-format twin
    hit a Java-vs-DuckDB %.6f half-point formatter divergence on a
    bit-identical double)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count(), sv=sum(value) on ts
            from datetime(2024-01-01) to datetime(2024-02-01) step 1d
            by event_type
        | extend avg_ = series_divide(sv, n),
                 dev = series_abs(series_subtract(sv, n))
        """,
    )
    return df.select(
        "event_type",
        F.posexplode(F.arrays_zip("avg_", "dev")).alias("i", "z"),
    ).select(
        "event_type",
        F.col("i").cast("long").alias("i"),
        F.col("z.avg_").alias("avg_"),
        F.col("z.dev").alias("dev"),
    )


@query(
    "kql_basket",
    """
    WITH g AS (
      SELECT lang, source, COUNT(*) AS count_,
             GROUPING(lang) AS gl, GROUPING(source) AS gs
      FROM documents
      GROUP BY GROUPING SETS ((), (lang), (source), (lang, source))
    ), tot AS (SELECT count_ AS total FROM g WHERE gl = 1 AND gs = 1)
    SELECT CASE WHEN gl = 0 THEN lang END AS lang,
           CASE WHEN gs = 0 THEN source END AS source,
           CAST(count_ AS BIGINT) AS count_,
           count_ * 100.0 / total AS percent
    FROM g, tot
    WHERE (gl = 0 OR gs = 0) AND count_ >= total * 0.1
    """,
)
def kql_basket(spark, sf_dir):
    """``evaluate basket(threshold)`` — Kusto's frequent-pattern
    plugin: attribute-value combinations covering >= threshold of the
    rows, wildcards as NULL (Kusto's output shape). ONE GROUPING SETS
    pass (the facet plan generalized to multi-column itemsets); the
    grand-total set broadcasts back as the denominator."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t, "documents | project lang, source | evaluate basket(0.1)"
    )


@query(
    "kql_scan_declare",
    """
    WITH e AS (
      SELECT user_id, event_id, ts, event_type, value
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    b AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER w AS pts,
             lag(event_id) OVER w AS pid
      FROM e WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pr AS (
      SELECT b.user_id, b.event_id AS b_id, b.ts AS b_ts,
             (SELECT a.event_id FROM e a
               WHERE a.user_id = b.user_id AND a.event_type = 'view'
                 AND (b.pts IS NULL OR (a.ts, a.event_id) > (b.pts, b.pid))
                 AND (a.ts, a.event_id) < (b.ts, b.event_id)
               ORDER BY a.ts, a.event_id LIMIT 1) AS a_id
      FROM b
    ),
    mt AS (
      SELECT pr.user_id, a_id, b_id,
             CAST(row_number() OVER (
               PARTITION BY pr.user_id ORDER BY b_ts, b_id) - 1 AS BIGINT)
               AS match_id,
             av.value AS va, bv.value AS vb
      FROM pr
      JOIN e av ON av.user_id = pr.user_id AND av.event_id = pr.a_id
      JOIN e bv ON bv.user_id = pr.user_id AND bv.event_id = pr.b_id
      WHERE a_id IS NOT NULL
    )
    SELECT user_id, a_id AS event_id, 'view' AS event_type, match_id,
           va AS fv, CAST(a_id AS BIGINT) AS t0 FROM mt
    UNION ALL
    SELECT user_id, b_id AS event_id, 'purchase' AS event_type, match_id,
           va + vb AS fv, CAST(a_id AS BIGINT) AS t0 FROM mt
    """,
)
def kql_scan_declare(spark, sf_dir):
    """``scan declare (...)`` (round 11) — Kusto scan STATE VARIABLES,
    dialect subset: per-step assignments that are additive
    (``v = v + expr``) or set (``v = expr``) over row columns. The
    sequential machine's state is compiled POST-HOC: windows keyed on
    (key, match_id) over the matched rows — a running sum for additive
    vars, last-assigned for set vars, reset per match (Kusto's
    per-sequence-instance lifetime). Here: funnel value accumulated
    across view->purchase and the view's event id latched at step 1.
    Oracle: the K=2 closed form joined back to values."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        "events | where event_type in ('view', 'purchase')"
        # project FIRST (r14): scan is opaque to column pruning; ship
        # only the key/order/predicate/declare inputs through Arrow
        " | project event_id, ts, user_id, event_type, value"
        " | sort by ts asc, event_id asc"
        " | scan by user_id with_match_id=match_id"
        " declare (fv: real = 0, t0: long) with"
        " (step s1: event_type == 'view' => fv = fv + value,"
        " t0 = event_id;"
        "  step s2: event_type == 'purchase' => fv = fv + value)"
        " | project user_id, event_id, event_type, match_id, fv, t0",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.col("match_id").cast("long").alias("match_id"),
        "fv",
        F.col("t0").cast("long").alias("t0"),
    )


@query(
    "kql_scan_funnel",
    """
    WITH e AS (
      SELECT user_id, event_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    b AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER w AS pts,
             lag(event_id) OVER w AS pid
      FROM e WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pr AS (
      SELECT b.user_id, b.event_id AS b_id, b.ts AS b_ts,
             (SELECT a.event_id FROM e a
               WHERE a.user_id = b.user_id AND a.event_type = 'view'
                 AND (b.pts IS NULL OR (a.ts, a.event_id) > (b.pts, b.pid))
                 AND (a.ts, a.event_id) < (b.ts, b.event_id)
               ORDER BY a.ts, a.event_id LIMIT 1) AS a_id
      FROM b
    ),
    mt AS (
      SELECT user_id, a_id, b_id,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY b_ts, b_id) - 1 AS BIGINT)
               AS match_id
      FROM pr WHERE a_id IS NOT NULL
    )
    SELECT user_id, a_id AS event_id,
           'view' AS event_type, match_id FROM mt
    UNION ALL
    SELECT user_id, b_id AS event_id,
           'purchase' AS event_type, match_id FROM mt
    """,
)
def kql_scan_funnel(spark, sf_dir):
    """Kusto ``scan`` (round-10 dialect subset, operators/scan.py):
    greedy single-active view->purchase sequence detection per user,
    matched rows out with a per-user 0-based match id. Predicates
    compile JVM-side; one hash shuffle, a JVM sort, one matcher loop
    per partition. The DuckDB oracle exploits
    the K=2 closed form: any step-2 row forces the machine idle, so a
    purchase matches exactly the FIRST view after the previous
    purchase (lag + first-in-gap, decorrelated subquery)."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        "events | where event_type in ('view', 'purchase')"
        # project FIRST: scan's MapInPandas is opaque to column
        # pruning, so without this the full events row (props JSON
        # included) rides the Arrow boundary both ways — 9 columns
        # shipped where 4 are consumed (r14; same discipline as
        # kql_row_rank)
        " | project event_id, ts, user_id, event_type"
        " | sort by ts asc, event_id asc"
        " | scan by user_id with_match_id=match_id with"
        " (step s1: event_type == 'view';"
        "  step s2: event_type == 'purchase')",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.col("match_id").cast("long").alias("match_id"),
    )


@query(
    "kql_diffpatterns",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN value > 50 THEN 'high' ELSE 'low' END AS tier,
             'u' || CAST(user_id % 3 AS VARCHAR) AS ub
      FROM events WHERE event_type IN ('click', 'error')
    ),
    g AS (
      SELECT tier, ub,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS count_a,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS count_b,
             GROUPING(tier) AS gt, GROUPING(ub) AS gu
      FROM e
      GROUP BY GROUPING SETS ((tier), (ub), (tier, ub))
    ),
    tot AS (
      SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ta,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS tb
      FROM e
    )
    SELECT CASE WHEN gt = 0 THEN tier END AS tier,
           CASE WHEN gu = 0 THEN ub END AS ub,
           CAST(count_a AS BIGINT) AS count_a,
           CAST(count_b AS BIGINT) AS count_b,
           count_a * 100.0 / ta AS percent_a,
           count_b * 100.0 / tb AS percent_b,
           count_a * 100.0 / ta - count_b * 100.0 / tb AS percent_diff_ab
    FROM g, tot
    WHERE ABS(count_a * 100.0 / ta - count_b * 100.0 / tb) >= 0.5
    """,
)
def kql_diffpatterns(spark, sf_dir):
    """``evaluate diffpatterns(split, 'A', 'B' [, min_diff])`` —
    Kusto's cohort differ as a deterministic dialect: EVERY attribute
    pattern up to size 3 scored exactly in one grouping-sets pass over
    pre-collapsed per-tuple split counts; split totals are a 1-row
    broadcast from the source (the basket kernel — Expand multiplies
    distinct tuples, not rows)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | where event_type in ('click', 'error')"
        " | extend tier = iff(value > 50, 'high', 'low'),"
        " ub = strcat('u', tostring(user_id % 3))"
        " | project event_type, tier, ub"
        " | evaluate diffpatterns(event_type, 'click', 'error', 0.005)",
    )


@query(
    "kql_as_self_join",
    """
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    )
    SELECT a.event_type, a.n, b.n AS n1
    FROM g a JOIN g b USING (event_type)
    """,
)
def kql_as_self_join(spark, sf_dir):
    """``| as Name`` (round 10): binds the in-flight frame into the
    session table map for later join/union targets — Kusto's scoping.
    The binding re-aliases every column (fresh attribute ids), and
    joins rename colliding RIGHT columns to name1/name2/... (Kusto's
    duplicate-column convention), so a pipe can self-join against its
    own binding without AMBIGUOUS_REFERENCE."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | summarize n = count() by event_type | as ByType"
        " | join kind=inner (ByType) on event_type"
        " | project event_type, n, n1",
    )


@query(
    "kql_sliding_window_counts",
    """
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-05',
                    TIMESTAMP '2024-01-20', INTERVAL 1 DAY)) AS t
    ),
    b AS (
      SELECT user_id, date_trunc('day', ts) AS bt FROM events
      WHERE ts > TIMESTAMP '2024-01-05' - INTERVAL 3 DAY
        AND ts < TIMESTAMP '2024-01-21'
    )
    SELECT t AS Timeline,
           CAST(COUNT(b.user_id) AS BIGINT) AS Count,
           CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS Dcount
    FROM spine LEFT JOIN b
      ON b.bt > t - INTERVAL 3 DAY AND b.bt <= t
    GROUP BY t
    """,
)
def kql_sliding_window_counts(spark, sf_dir):
    """``evaluate sliding_window_counts(Id, Timeline, Start, End,
    Lookback, Bin)`` (round 10) — sliding count + distinct count per
    spine bin. Two delta sweeps over the O(bins) boundary table
    (counts: +-c at bin edges; dcount: the interval-merge sweep from
    rolling_active_users), each finished by the distributed prefix
    scan — no explode, no sliding COUNT(DISTINCT), no range join."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate sliding_window_counts(user_id, ts,"
        " datetime(2024-01-05), datetime(2024-01-20), 3d, 1d)",
    )


@query(
    "kql_activity_counts_metrics",
    """
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-05',
                    TIMESTAMP '2024-01-20', INTERVAL 1 DAY)) AS t
    ),
    b AS (
      SELECT user_id, date_trunc('day', ts) AS bt FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-21'
    ),
    per AS (
      SELECT bt, COUNT(*) AS c, COUNT(DISTINCT user_id) AS dc
      FROM b GROUP BY bt
    ),
    f AS (SELECT user_id, MIN(bt) AS fb FROM b GROUP BY user_id),
    nw AS (SELECT fb, COUNT(*) AS n FROM f GROUP BY fb)
    SELECT t AS Timeline,
           CAST(COALESCE(per.c, 0) AS BIGINT) AS count_,
           CAST(COALESCE(per.dc, 0) AS BIGINT) AS dcount,
           CAST(COALESCE(nw.n, 0) AS BIGINT) AS new_dcount,
           CAST(SUM(COALESCE(nw.n, 0)) OVER (ORDER BY t) AS BIGINT)
             AS aggregated_dcount
    FROM spine LEFT JOIN per ON per.bt = t LEFT JOIN nw ON nw.fb = t
    """,
)
def kql_activity_counts_metrics(spark, sf_dir):
    """``evaluate activity_counts_metrics(Id, Timeline, Start, End,
    Step)`` (round 10) — per bin: rows, distinct ids, FIRST-seen ids,
    and running distinct total. One (bin) aggregate + one (id)
    first-seen aggregate + a distributed prefix scan over the O(bins)
    spine for the cumulative column."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate activity_counts_metrics(user_id, ts,"
        " datetime(2024-01-05), datetime(2024-01-20), 1d)",
    )


@query(
    "kql_activity_engagement",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    i AS (SELECT day, COUNT(DISTINCT user_id) AS n FROM du GROUP BY day),
    o AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS n
      FROM days d JOIN du u
        ON u.day <= d.day AND u.day > d.day - 7
      GROUP BY d.day
    )
    SELECT CAST(d.day AS TIMESTAMP) AS Timeline,
           CAST(i.n AS BIGINT) AS dcount_activities_inner,
           CAST(o.n AS BIGINT) AS dcount_activities_outer,
           CAST(i.n AS DOUBLE) / o.n AS activity_ratio
    FROM days d JOIN i ON i.day = d.day JOIN o ON o.day = d.day
    """,
)
def kql_activity_engagement(spark, sf_dir):
    """``evaluate activity_engagement(Id, Timeline, 1d, 7d)`` (round
    10) — DAU/WAU stickiness per observed day, routed onto
    engagement_ratio's shared-distinct-frame interval-merge sweep (two
    prefix scans over ONE (user, day) distinct subtree; ReuseExchange
    dedupes the scan)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t, "events | evaluate activity_engagement(user_id, ts, 1d, 7d)"
    )


@query(
    "kql_rows_near",
    """
    WITH b AS (
      SELECT event_id, event_type, value,
             row_number() OVER (ORDER BY event_id) AS rn
      FROM events
    ),
    f AS (SELECT rn FROM b WHERE event_type = 'error')
    SELECT event_id, event_type, value FROM b
    WHERE EXISTS (SELECT 1 FROM f
                  WHERE b.rn BETWEEN f.rn - 2 AND f.rn + 2)
    """,
)
def kql_rows_near(spark, sf_dir):
    """``evaluate rows_near(Condition, NumRows)`` (round 10) — rows
    within N of any matching row in the serialized order. Global row
    numbers from the bucket kernel, +-1 deltas at each match's
    coverage edges, one distributed prefix scan marks covered rows —
    O(n + 2m) scan rows, no self-join, no range join, never an
    unpartitioned window."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | project event_id, event_type, value"
        " | sort by event_id asc"
        " | evaluate rows_near(event_type == 'error', 2)",
    )


@query(
    "kql_find",
    """
    WITH c AS (
      SELECT 'Clicks' AS src, event_id, value FROM events
      WHERE event_type = 'click'
    ),
    e AS (
      SELECT 'Errors' AS src, event_id, value FROM events
      WHERE event_type = 'error'
    )
    SELECT * FROM (SELECT * FROM c UNION ALL SELECT * FROM e)
    WHERE value > 90
    """,
)
def kql_find(spark, sf_dir):
    """``find withsource= in (T1, T2) where Pred project ...``
    (round 10) — cross-table search. One union of per-table filtered
    projections; the predicate applies per table BEFORE projection
    (absent columns read as typed nulls, Kusto semantics) and pushes
    down to each scan."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "let Clicks = events | where event_type == 'click'"
        " | project event_id, value;"
        " let Errors = events | where event_type == 'error'"
        " | project event_id, value;"
        " find withsource=src in (Clicks, Errors) where value > 90"
        " project event_id, value",
    )


@query(
    "kql_sample_distinct",
    "SELECT DISTINCT event_type FROM events",
)
def kql_sample_distinct(spark, sf_dir):
    """``sample-distinct N of Col`` (round 10) — deterministic dialect
    (values ranked by xxhash64; Kusto's is nondeterministic). With N
    at or above the column's cardinality the result is exactly the
    distinct set, which is what the oracle pins; the N-below-cardinality
    determinism is pinned in pytest. Distinct aggregate + top-k plan
    (TakeOrderedAndProject), never a global sort."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(t, "events | sample-distinct 10 of event_type")


@query(
    "kql_parse_kv",
    """
    SELECT event_id, user_id AS u, event_type AS t FROM events
    WHERE value > 95
    """,
)
def kql_parse_kv(spark, sf_dir):
    """``parse-kv Expr as (k: type, ...) with (pair_delimiter=...,
    kv_delimiter=...)`` (round 10) — typed key/value extraction via one
    ``str_to_map`` projection (JVM codegen, regex-escaped delimiter
    literals). The row builds the kv string from typed columns and the
    oracle pins the exact round-trip."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | where value > 95"
        " | extend s = strcat('u=', tostring(user_id), ' t=', event_type)"
        " | parse-kv s as (u: long, t: string)"
        " | project event_id, u, t",
    )


@query(
    "kql_invoke_lambda",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(value) AS peak
    FROM events WHERE value > 50 GROUP BY event_type
    """,
)
def kql_invoke_lambda(spark, sf_dir):
    """``let f = (t:(*), cut:real) { ... }; T | invoke f(50.0)``
    (round 10) — Kusto tabular functions: the body pipe runs with the
    tabular parameter bound to the in-flight frame and scalar
    parameters substituted (constant-fold model, scalar-let
    discipline). Lambdas do not propagate into the nested run, so a
    self-referencing body fails loudly instead of recursing."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "let hi = (t:(*), cut:real) { t | where value > cut"
        " | summarize n = count(), peak = max(value) by event_type };"
        " events | invoke hi(50.0)",
    )


@query(
    "kql_activity_metrics",
    """
    WITH b AS (
      SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS bt
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
    ),
    m AS (
      SELECT bt,
             CASE WHEN lag(bt) OVER (PARTITION BY u ORDER BY bt)
                       = bt - INTERVAL 1 DAY THEN 1 ELSE 0 END AS ret,
             CASE WHEN row_number() OVER (PARTITION BY u ORDER BY bt) = 1
                  THEN 1 ELSE 0 END AS nw
      FROM b
    ),
    per AS (
      SELECT bt, COUNT(*) AS dc, SUM(nw) AS nw, SUM(ret) AS ret
      FROM m GROUP BY bt
    ),
    spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                    TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS t
    )
    SELECT t AS Timeline,
           CAST(COALESCE(cur.dc, 0) AS BIGINT) AS dcount_values,
           CAST(COALESCE(cur.nw, 0) AS BIGINT) AS dcount_newvalues,
           CASE WHEN COALESCE(prv.dc, 0) > 0
                THEN COALESCE(cur.ret, 0) / CAST(prv.dc AS DOUBLE)
                ELSE 0.0 END AS retention_rate,
           CASE WHEN COALESCE(prv.dc, 0) > 0
                THEN (prv.dc - COALESCE(cur.ret, 0)) / CAST(prv.dc AS DOUBLE)
                ELSE 0.0 END AS churn_rate
    FROM spine
    LEFT JOIN per cur ON cur.bt = t
    LEFT JOIN per prv ON prv.bt = t - INTERVAL 1 DAY
    """,
)
def kql_activity_metrics(spark, sf_dir):
    """``evaluate activity_metrics(Id, Timeline, Start, End, Window)``
    (round 10) — period-over-period dcount / new / retention / churn.
    One id-key shuffle total: a per-id lag window marks bin-over-bin
    retention and first appearances on the SAME distinct (id, bin)
    frame; everything downstream is O(bins) spine arithmetic (no
    event-table self-join)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate activity_metrics(user_id, ts,"
        " datetime(2024-01-01), datetime(2024-01-30), 1d)",
    )


@query(
    "kql_new_activity_metrics",
    """
    WITH b AS (
      SELECT DISTINCT user_id AS u,
        CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 604800)
             AS BIGINT) AS idx
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-05'
    ),
    lab AS (
      SELECT u, idx, MIN(idx) OVER (PARTITION BY u) AS c FROM b
    ),
    ret AS (SELECT c, idx, COUNT(*) AS r FROM lab GROUP BY c, idx),
    sz AS (SELECT c, r AS s FROM ret WHERE idx = c),
    pairs AS (
      SELECT a.range AS c, b2.range AS idx
      FROM range(5) a JOIN range(5) b2 ON a.range <= b2.range
    )
    SELECT TIMESTAMP '2024-01-01' + c * INTERVAL 7 DAY AS FromTimeline,
           TIMESTAMP '2024-01-01' + idx * INTERVAL 7 DAY AS ToTimeline,
           CAST(COALESCE(sz.s, 0) AS BIGINT) AS dcount_new_values,
           CAST(COALESCE(ret.r, 0) AS BIGINT) AS dcount_retained_values,
           CAST(COALESCE(sz.s, 0) - COALESCE(ret.r, 0) AS BIGINT)
             AS dcount_churn_values,
           CASE WHEN COALESCE(sz.s, 0) > 0
                THEN COALESCE(ret.r, 0) / CAST(sz.s AS DOUBLE)
                ELSE 0.0 END AS retention_rate,
           CASE WHEN COALESCE(sz.s, 0) > 0
                THEN (sz.s - COALESCE(ret.r, 0)) / CAST(sz.s AS DOUBLE)
                ELSE 0.0 END AS churn_rate
    FROM pairs LEFT JOIN ret USING (c, idx) LEFT JOIN sz USING (c)
    """,
)
def kql_new_activity_metrics(spark, sf_dir):
    """``evaluate new_activity_metrics(Id, Timeline, Start, End,
    Window)`` (round 10) — cohort retention matrix: ids keyed by
    first-seen window, re-measured at every later window. The cohort
    label rides the id partitioning of the distinct (id, bin) frame
    (one shuffle); the (cohort, bin) aggregate IS the matrix; the
    zero-fill spine is O(bins^2) driver-tiny pairs."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate new_activity_metrics(user_id, ts,"
        " datetime(2024-01-01), datetime(2024-01-30), 7d)",
    )


@query(
    "kql_session_count",
    """
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-03',
                    TIMESTAMP '2024-01-28', INTERVAL 1 DAY)) AS t
    ),
    b AS (
      SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS bt
      FROM events
      WHERE ts > TIMESTAMP '2024-01-03' - INTERVAL 2 DAY
        AND ts < TIMESTAMP '2024-01-29'
    )
    SELECT t AS Timeline, CAST(COUNT(DISTINCT b.u) AS BIGINT) AS count_
    FROM spine LEFT JOIN b ON b.bt > t - INTERVAL 2 DAY AND b.bt <= t
    GROUP BY t
    """,
)
def kql_session_count(spark, sf_dir):
    """``evaluate session_count(Id, Timeline, Start, End, Bin,
    LookBackWindow)`` (round 10) — active sessions per bin (id alive
    if it acted within the trailing lookback). Rides the
    sliding_window_counts interval-merge sweep verbatim: per-id
    coverage intervals -> boundary deltas -> one distributed prefix
    scan; the oracle's range join is exactly the shape the engine
    avoids."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate session_count(user_id, ts,"
        " datetime(2024-01-03), datetime(2024-01-28), 1d, 2d)",
    )


@query(
    "kql_funnel_completion",
    """
    WITH ev AS (
      SELECT user_id AS u, event_type AS s, epoch(ts) AS t FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-05'
    ),
    c1 AS (
      SELECT DISTINCT u, t AS t1,
        CAST(floor((t - epoch(TIMESTAMP '2024-01-01')) / 604800)
             AS BIGINT) AS per
      FROM ev WHERE s = 'signup'
    ),
    c2 AS (
      SELECT c1.u, c1.t1, c1.per, MIN(ev.t) AS tk
      FROM c1 JOIN ev ON ev.u = c1.u AND ev.s = 'view' AND ev.t > c1.t1
      GROUP BY c1.u, c1.t1, c1.per
      HAVING MIN(ev.t) - c1.t1 <= 43200
    ),
    c3 AS (
      SELECT c2.u, c2.t1, c2.per, MIN(ev.t) AS tk
      FROM c2 JOIN ev ON ev.u = c2.u AND ev.s = 'purchase'
                     AND ev.t > c2.tk
      GROUP BY c2.u, c2.t1, c2.per
      HAVING MIN(ev.t) - c2.t1 <= 86400
    ),
    spine AS (SELECT range AS per FROM range(5)),
    d1 AS (SELECT per, COUNT(DISTINCT u) AS n FROM c1 GROUP BY per),
    d2 AS (SELECT per, COUNT(DISTINCT u) AS n FROM c2 GROUP BY per),
    d3 AS (SELECT per, COUNT(DISTINCT u) AS n FROM c3 GROUP BY per)
    SELECT TIMESTAMP '2024-01-01' + per * INTERVAL 7 DAY AS Period,
           'signup' AS StateSequence,
           CAST(COALESCE(d1.n, 0) AS BIGINT) AS dcount
    FROM spine LEFT JOIN d1 USING (per)
    UNION ALL
    SELECT TIMESTAMP '2024-01-01' + per * INTERVAL 7 DAY,
           'signup>view', CAST(COALESCE(d2.n, 0) AS BIGINT)
    FROM spine LEFT JOIN d2 USING (per)
    UNION ALL
    SELECT TIMESTAMP '2024-01-01' + per * INTERVAL 7 DAY,
           'signup>view>purchase', CAST(COALESCE(d3.n, 0) AS BIGINT)
    FROM spine LEFT JOIN d3 USING (per)
    """,
)
def kql_funnel_completion(spark, sf_dir):
    """``evaluate funnel_sequence_completion(...)`` (round 10) —
    funnel completion by period: ids completing each sequence prefix
    within its max window, chained greedily (earliest-next occurrence,
    provably optimal per start) over ALL starts — a later start can
    complete inside a window an earlier one misses. len(sequence) - 1
    id-key joins, each against a pushdown-filtered single-state
    slice; no explode, no per-id collect."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate funnel_sequence_completion(user_id, ts,"
        " datetime(2024-01-01), datetime(2024-01-30), 7d, event_type,"
        " dynamic(['signup', 'view', 'purchase']),"
        " dynamic([1d, 12h, 1d]))",
    )


@query(
    "kql_reduce_by",
    """
    WITH src AS (
      SELECT concat('u/', CAST(user_id AS VARCHAR), '/', event_type,
                    '/', CAST(event_id AS VARCHAR)) AS p
      FROM events
    )
    SELECT regexp_replace(regexp_replace(p, '\\b[0-9a-fA-F]{8,}\\b',
                                         '*', 'g'),
                          '[0-9]+', '*', 'g') AS Pattern,
           CAST(COUNT(*) AS BIGINT) AS Count_,
           MIN(p) AS Representative
    FROM src GROUP BY 1
    """,
)
def kql_reduce_by(spark, sf_dir):
    """``reduce by Col`` (round 10) — group similar strings into
    patterns. Kusto's reducer is fuzzy; this engine pins a
    DETERMINISTIC reduction (hex runs >= 8 chars, then digit runs,
    each -> `*`) so results are reproducible and cross-engine
    checkable, with the lexicographic-min exemplar standing in for
    Kusto's arbitrary Representative. One projection + one aggregate:
    zero joins, zero UDFs, map-side combine on the pattern key."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events"
        " | extend p = strcat('u/', tostring(user_id), '/', event_type,"
        " '/', tostring(event_id))"
        " | reduce by p",
    )


@query(
    "kql_scalar_extras4",
    """
    SELECT doc_id,
           to_base64(CAST(lang AS BLOB)) AS b64,
           CAST(from_base64(to_base64(CAST(source AS BLOB))) AS VARCHAR)
             AS rt,
           replace(replace(concat(lang, ' ', source, '/x'), ' ', '+'),
                   '/', '%2F') AS ue,
           translate(text, 'aeiou', '*****') AS tr,
           CAST(month(TIMESTAMP '2024-03-05') AS INT) AS m,
           CAST(weekofyear(TIMESTAMP '2024-01-04') AS INT) AS w,
           TIMESTAMP '2024-01-01' + INTERVAL 3 DAY AS d2,
           TIMESTAMP '2024-01-01' - INTERVAL 2 HOUR AS h2,
           array_to_string(
             list_transform(
               list_concat(string_split('1.10.2', '.'),
                           ['0', '0', '0'])[1:4],
               x -> lpad(x, 8, '0')), '.') AS pv
    FROM documents
    """,
)
def kql_scalar_extras4(spark, sf_dir):
    """Round-10 scalar widening: ``base64_encode_tostring``/
    ``base64_decode_tostring`` (string <-> base64 via binary cast),
    ``url_encode``/``url_decode`` (form encoding — Kusto's semantics ==
    Spark's URLEncoder, space -> '+'), ``translate`` (Kusto arg order
    (from, to, text) reordered to Spark's (text, from, to)),
    ``monthofyear``/``week_of_year`` (both ISO 8601),
    ``datetime_add('period', n, ts)`` (-> timestampadd, period literal
    validated pre-mask, loud on unknown units), and ``parse_version``
    (order-equivalent canonical string: 4 dot segments zero-padded to
    8 — documented deviation from Kusto's decimal). All textual
    rewrites to built-in JVM expressions — zero UDFs, zero shuffles."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        """
        documents
        | extend b64 = base64_encode_tostring(lang),
                 rt = base64_decode_tostring(base64_encode_tostring(source)),
                 ue = url_encode(strcat(lang, ' ', source, '/x')),
                 tr = translate('aeiou', '*****', text),
                 m = monthofyear(datetime(2024-03-05)),
                 w = week_of_year(datetime(2024-01-04)),
                 d2 = datetime_add('day', 3, datetime(2024-01-01)),
                 h2 = datetime_add('hour', -2, datetime(2024-01-01)),
                 pv = parse_version('1.10.2')
        | project doc_id, b64, rt, ue, tr, m, w, d2, h2, pv
        """,
    )


@query(
    "kql_autocluster",
    """
    WITH src AS (
      SELECT lang, source,
             CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END
               AS size_tier
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS total FROM src),
    g AS (
      SELECT lang, source, size_tier, COUNT(*) AS count_,
             GROUPING(lang) AS gl, GROUPING(source) AS gs,
             GROUPING(size_tier) AS gt
      FROM src
      GROUP BY GROUPING SETS ((lang), (source), (size_tier),
        (lang, source), (lang, size_tier), (source, size_tier),
        (lang, source, size_tier))
    ),
    cand AS (
      SELECT CASE WHEN gl = 0 THEN lang END AS lang,
             CASE WHEN gs = 0 THEN source END AS source,
             CASE WHEN gt = 0 THEN size_tier END AS size_tier,
             count_, count_ * 100.0 / total AS percent,
             (1 - gl) + (1 - gs) + (1 - gt) AS n
      FROM g, tot WHERE count_ >= total * 0.08
    ),
    pruned AS (
      SELECT p.* FROM cand p
      WHERE NOT EXISTS (
        SELECT 1 FROM cand q
        WHERE q.n < p.n AND q.count_ = p.count_
          AND (q.lang IS NULL OR q.lang IS NOT DISTINCT FROM p.lang)
          AND (q.source IS NULL OR q.source IS NOT DISTINCT FROM p.source)
          AND (q.size_tier IS NULL
               OR q.size_tier IS NOT DISTINCT FROM p.size_tier)
      )
    ),
    topk AS (
      SELECT * FROM pruned
      ORDER BY count_ DESC, n ASC, lang ASC NULLS LAST,
               source ASC NULLS LAST, size_tier ASC NULLS LAST
      LIMIT 10
    )
    SELECT CAST(row_number() OVER (
             ORDER BY count_ DESC, n ASC, lang ASC NULLS LAST,
                      source ASC NULLS LAST, size_tier ASC NULLS LAST)
             - 1 AS BIGINT) AS SegmentId,
           CAST(count_ AS BIGINT) AS count_, percent,
           lang, source, size_tier
    FROM topk
    """,
)
def kql_autocluster(spark, sf_dir):
    """``evaluate autocluster(MinPercent, K)`` (round 10) — Kusto's
    segment finder as a deterministic dialect: basket-kernel
    candidates (one GROUPING SETS pass over pre-collapsed weighted
    tuples) >= MinPercent coverage, CLOSED-pattern pruned (a
    specialization whose generalization has the same count adds no
    information — SizeWeight's role made exact), top-K by
    integer-exact order. The prune self-join broadcasts the bounded
    candidate set; SegmentId rides the distributed global_row_number
    kernel over the <= K survivors."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        "documents"
        " | extend size_tier = iff(n_chars > 300, 'long', 'short')"
        " | project lang, source, size_tier"
        " | evaluate autocluster(8.0, 10)",
    )


@query(
    "kql_ipv4_geo",
    """
    WITH src AS (
      SELECT doc_id,
             concat('10.', CAST(doc_id % 200 AS VARCHAR), '.',
                    CAST(doc_id % 256 AS VARCHAR), '.7') AS ip
      FROM documents
    ),
    n AS (
      SELECT doc_id, ip,
        CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
        + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
        + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
        + CAST(string_split(ip, '.')[4] AS BIGINT) AS num
      FROM src
    )
    SELECT doc_id, ip,
           num AS n,
           num & 4294967040 AS masked,
           CAST(16 AS INT) AS sfx,
           (num & 4286578688) = (167772160 & 4286578688) AS inr,
           (num & 4278190080) = (167772160 & 4278190080) AS mt,
           CAST(-1 AS INT) AS cmp,
           concat_ws('.',
             CAST((num & 4294967040) >> 24 & 255 AS VARCHAR),
             CAST((num & 4294967040) >> 16 & 255 AS VARCHAR),
             CAST((num & 4294967040) >> 8 & 255 AS VARCHAR),
             CAST((num & 4294967040) & 255 AS VARCHAR)) AS fmt,
           (2 * 6371008.8 * asin(sqrt(
             pow(sin((radians(37.786) - radians(37.788)) / 2), 2)
             + cos(radians(37.788)) * cos(radians(37.786))
             * pow(sin((radians(-122.406) - radians(-122.407)) / 2), 2))))
             AS dist
    FROM n
    """,
)
def kql_ipv4_geo(spark, sf_dir):
    """IPv4 + geo scalar family (round 10): ``parse_ipv4`` (optional
    '/suffix' zeroes bits beyond the prefix), ``ipv4_is_in_range``,
    ``ipv4_is_match`` (minimal-prefix semantics via numeric least() of
    the masks), ``ipv4_compare``, ``ipv4_netmask_suffix``,
    ``format_ipv4``, and ``geo_distance_2points`` (spherical haversine
    on the IUGG mean radius — Kusto computes WGS84 geodesic, sub-0.5%
    deviation documented). All pure bigint/double arithmetic emitted
    textually — zero UDFs, zero shuffles, whole-stage codegen."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        "documents"
        " | extend ip = strcat('10.', tostring(doc_id % 200), '.',"
        " tostring(doc_id % 256), '.7')"
        " | extend n = parse_ipv4(ip),"
        " masked = parse_ipv4(strcat(ip, '/24')),"
        " sfx = ipv4_netmask_suffix(strcat(ip, '/16')),"
        " inr = ipv4_is_in_range(ip, '10.0.0.0/9'),"
        " mt = ipv4_is_match(ip, '10.0.0.0', 8),"
        " cmp = ipv4_compare('10.0.0.1', '10.0.0.2'),"
        " fmt = format_ipv4(strcat(ip, '/24')),"
        " dist = geo_distance_2points(-122.407, 37.788, -122.406, 37.786)"
        " | project doc_id, ip, n, masked, sfx, inr, mt, cmp, fmt, dist",
    )


@query(
    "kql_graph_shortest_paths",
    """
    WITH e AS (
      SELECT DISTINCT o_custkey % 40 AS s, o_orderkey % 40 AS d
      FROM orders
    ),
    p1 AS (SELECT s, d, 1 AS hops FROM e),
    p2 AS (SELECT a.s, b.d, 2 AS hops FROM e a JOIN e b ON a.d = b.s),
    p3 AS (SELECT a.s, c.d, 3 AS hops
           FROM e a JOIN e b ON a.d = b.s JOIN e c ON b.d = c.s),
    allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
             UNION ALL SELECT * FROM p3)
    SELECT d AS dst, CAST(min(hops) AS INT) AS hops
    FROM allp WHERE s = 0 GROUP BY d
    """,
)
def kql_graph_shortest_paths(spark, sf_dir):
    """``graph-shortest-paths`` (round 11) — min-hop paths between
    endpoint pairs: the graph-match bounded branch UNION (one static
    join tree per length, never iteration) plus ONE window over the
    endpoint pair for the min-hop pick. output=any emits one
    DETERMINISTIC shortest path per pair (row_number over
    (hops, projection) — Kusto's pick is arbitrary; pinned here so the
    row is oracle-checkable). Oracle: bounded-hop UNION + GROUP BY
    min in plain SQL."""
    t = load_tables(spark, sf_dir, ["orders"])
    out = kql_to_df(
        t,
        """
        orders
        | extend s = o_custkey % 40, d = o_orderkey % 40
        | distinct s, d
        | make-graph s --> d
        | graph-shortest-paths (x)-[e*1..3]->(y)
          where x.id == 0
          project dst = y.id, hops = array_length(e)
        """,
    )
    return out.select("dst", F.col("hops").cast("int").alias("hops"))


@query(
    "kql_graph_match",
    """
    WITH e1 AS (
      SELECT concat('s', CAST(s_suppkey AS VARCHAR)) AS src,
             concat('n', CAST(s_nationkey AS VARCHAR)) AS dst,
             s_acctbal AS w
      FROM supplier
    ),
    e2 AS (
      SELECT concat('n', CAST(n_nationkey AS VARCHAR)) AS src,
             concat('r', CAST(n_regionkey AS VARCHAR)) AS dst
      FROM nation
    ),
    names AS (
      SELECT concat('r', CAST(r_regionkey AS VARCHAR)) AS nid,
             r_name AS name
      FROM region
    )
    SELECT names.name AS region,
           CAST(COUNT(*) AS BIGINT) AS n_sup,
           CAST(SUM(CAST(e1.w AS DECIMAL(18, 2))) AS DOUBLE)
             AS total_bal
    FROM e1 JOIN e2 ON e1.dst = e2.src
            JOIN names ON e2.dst = names.nid
    WHERE e1.w > 0
    GROUP BY 1 ORDER BY 1
    """,
)
def kql_graph_match(spark, sf_dir):
    """``make-graph Src --> Dst with Nodes on Id`` + ``graph-match``
    (round 10) — Kusto graph patterns compiled to relational joins
    (sources/kql_graph.py): a 2-hop supplier->nation->region chain
    with node-property decoration, filtered and aggregated downstream.
    Every hop is one equi-join on an edge endpoint (AQE broadcasts the
    small side); the pattern is a static join tree — no iteration, no
    per-path state. The oracle is the same join tree in plain SQL."""
    t = load_tables(spark, sf_dir, ["supplier", "nation", "region"])
    sup, nat, reg = t["supplier"], t["nation"], t["region"]
    edges = sup.selectExpr(
        "concat('s', s_suppkey) as src",
        "concat('n', s_nationkey) as dst",
        "'in_nation' as kind",
        "cast(s_acctbal as double) as w",
    ).unionByName(
        nat.selectExpr(
            "concat('n', n_nationkey) as src",
            "concat('r', n_regionkey) as dst",
            "'in_region' as kind",
            "cast(0.0 as double) as w",
        )
    )
    nodes = nat.selectExpr(
        "concat('n', n_nationkey) as nid", "n_name as name"
    ).unionByName(
        reg.selectExpr("concat('r', r_regionkey) as nid", "r_name as name")
    )
    return kql_to_df(
        {"edges": edges, "nodes": nodes},
        """
        edges
        | make-graph src --> dst with nodes on nid
        | graph-match (s)-[e1]->(n)-[e2]->(r)
          where e1.kind == 'in_nation' and e2.kind == 'in_region'
                and e1.w > 0
          project region = r.name, bal = todecimal(e1.w)
        | summarize n_sup = count(), tb = sum(bal) by region
        | extend total_bal = todouble(tb)
        | project region, n_sup, total_bal
        | sort by region asc
        """,
    )


@query(
    "kql_sequence_detect",
    """
    WITH ev AS (
      SELECT user_id AS u, epoch_us(ts) AS t, event_type FROM events
    ),
    c1 AS (
      SELECT DISTINCT u, t AS t1 FROM ev WHERE event_type = 'signup'
    ),
    c2 AS (
      SELECT c1.u, c1.t1, MIN(ev.t) AS t2
      FROM c1 JOIN ev ON ev.u = c1.u AND ev.event_type = 'view'
        AND ev.t > c1.t1 AND ev.t - c1.t1 <= 43200000000
      GROUP BY c1.u, c1.t1
    ),
    c3 AS (
      SELECT c2.u, c2.t1, c2.t2, MIN(ev.t) AS t3
      FROM c2 JOIN ev ON ev.u = c2.u AND ev.event_type = 'purchase'
        AND ev.t > c2.t2 AND ev.t - c2.t2 <= 43200000000
      GROUP BY c2.u, c2.t1, c2.t2
    )
    SELECT u AS user_id,
           make_timestamp(t1) AS is_signup,
           make_timestamp(t2) AS is_view,
           make_timestamp(t3) AS is_buy
    FROM c3 WHERE t3 - t1 <= 86400000000
    """,
)
def kql_sequence_detect(spark, sf_dir):
    """``evaluate sequence_detect(Timeline, StepWindow, Span, Expr...,
    Id)`` (round 10) — per-STEP-window chain detection (vs
    funnel_sequence_completion's from-start windows) on the same
    len(flags)-1 id-key join kernel, in exact integer MICROSECOND
    arithmetic so emitted chain timestamps round-trip bit-identically.
    Greedy canonical-chain dialect (one chain per start; documented —
    the scan operator carries Kusto's full stateful semantics)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events"
        " | extend is_signup = event_type == 'signup',"
        " is_view = event_type == 'view',"
        " is_buy = event_type == 'purchase'"
        " | evaluate sequence_detect(ts, 12h, 1d,"
        " is_signup, is_view, is_buy, user_id)",
    )


@query(
    "kql_parse_url",
    """
    WITH src AS (
      SELECT doc_id,
             concat('https://u', CAST(doc_id AS VARCHAR), ':pw@h',
                    CAST(doc_id % 20 AS VARCHAR), '.example.com:',
                    CAST(8000 + doc_id % 100 AS VARCHAR), '/d/', lang,
                    '?q=', source, '#s', CAST(doc_id % 5 AS VARCHAR))
               AS u
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(u, '://(?:[^/@]*@)?([^:/?#]+)', 1) AS host,
           regexp_extract(u, '://(?:[^/@]*@)?[^:/?#]+:([0-9]+)', 1)
             AS port,
           regexp_extract(u, '://[^/?#]*(/[^?#]*)', 1) AS path,
           regexp_extract(u, '://([^:/@?#]+):[^@/?#]*@', 1) AS username,
           regexp_extract(u, '#(.*)$', 1) AS frag
    FROM src
    """,
)
def kql_parse_url(spark, sf_dir):
    """``parse_url(x)`` (round 10) — Kusto's URL bag (Scheme / Host /
    Port / Path / Username / Password / Query Parameters / Fragment)
    emitted as a JSON string over Spark's built-in part extractor;
    dotted field access rides the todynamic() rewrite. Pure JVM
    expressions, zero UDFs; the oracle re-derives the parts with
    regexes."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        "documents"
        " | extend u = strcat('https://u', tostring(doc_id), ':pw@h',"
        " tostring(doc_id % 20), '.example.com:',"
        " tostring(8000 + doc_id % 100), '/d/', lang,"
        " '?q=', source, '#s', tostring(doc_id % 5))"
        " | extend b = parse_url(u)"
        " | extend host = todynamic(b).Host, port = todynamic(b).Port,"
        " path = todynamic(b).Path, username = todynamic(b).Username,"
        " frag = todynamic(b).Fragment"
        " | project doc_id, host, port, path, username, frag",
    )


@query(
    "kql_funnel_sequence",
    """
    WITH ev AS (
      SELECT user_id AS u, epoch_us(ts) AS t, event_type AS s
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-05'
    ),
    nbr AS (
      SELECT u, t, lag(s) OVER w AS prev, lead(s) OVER w AS next
      FROM ev WINDOW w AS (PARTITION BY u ORDER BY t)
    ),
    c1 AS (SELECT DISTINCT u, t AS t1 FROM ev WHERE s = 'signup'),
    c2 AS (
      SELECT c1.u, c1.t1, MIN(ev.t) AS t2
      FROM c1 JOIN ev ON ev.u = c1.u AND ev.s = 'view'
        AND ev.t > c1.t1 AND ev.t - c1.t1 <= 43200000000
      GROUP BY c1.u, c1.t1
    ),
    dec AS (
      SELECT c2.u,
        CAST(floor((c2.t1 - epoch_us(TIMESTAMP '2024-01-01'))
             / 604800000000) AS BIGINT) AS per,
        p.prev, n.next
      FROM c2
      JOIN nbr p ON p.u = c2.u AND p.t = c2.t1
      JOIN nbr n ON n.u = c2.u AND n.t = c2.t2
    )
    SELECT TIMESTAMP '2024-01-01' + per * INTERVAL 7 DAY AS Period,
           'seq' AS kind, CAST(NULL AS VARCHAR) AS state,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS dcount
    FROM dec GROUP BY per
    UNION ALL
    SELECT TIMESTAMP '2024-01-01' + per * INTERVAL 7 DAY, 'prev', prev,
           CAST(COUNT(DISTINCT u) AS BIGINT)
    FROM dec GROUP BY per, prev
    UNION ALL
    SELECT TIMESTAMP '2024-01-01' + per * INTERVAL 7 DAY, 'next', next,
           CAST(COUNT(DISTINCT u) AS BIGINT)
    FROM dec GROUP BY per, next
    """,
)
def kql_funnel_sequence(spark, sf_dir):
    """``evaluate funnel_sequence(...)`` (round 10) — what happened
    AROUND completed sequences: Kusto's three result tables flattened
    to one (Period, kind, state, dcount) long frame (documented
    dialect). One per-id lag/lead window computes every event's
    neighbors once; the sequence_detect chain kernel (integer-
    microsecond exact) joins back on (id, t) to fetch boundary
    states — all stages share the id partitioning."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate funnel_sequence(user_id, ts,"
        " datetime(2024-01-01), datetime(2024-01-30), 12h, 7d,"
        " event_type, dynamic(['signup', 'view']))",
    )


@query(
    "kql_rolling_percentile",
    """
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bin,
             value AS v, event_type
      FROM events
    ),
    obs AS (SELECT DISTINCT bin, event_type FROM b),
    win AS (
      SELECT obs.bin AS t, obs.event_type, b.v
      FROM obs JOIN b ON b.event_type = obs.event_type
        AND b.bin > obs.bin - 3 * 86400 AND b.bin <= obs.bin
    ),
    c AS (
      SELECT t, event_type, v,
             cume_dist() OVER (PARTITION BY t, event_type ORDER BY v)
               AS cdf
      FROM win
    )
    SELECT to_timestamp(t) AT TIME ZONE 'UTC' AS ts, event_type,
           MIN(CASE WHEN cdf >= 0.5 THEN v END)
             AS rolling_3_percentile_value_50
    FROM c GROUP BY t, event_type
    """,
)
def kql_rolling_percentile(spark, sf_dir):
    """``evaluate rolling_percentile(Value, 50, Index, 3, 1d, dim)``
    (round 10) — trailing-window percentile per observed bin and dim.
    Collapse to weighted (bin, value) tuples first, fan each tuple
    onto its <= BinsPerWindow target bins (constant, over tuples not
    events), then one weighted-CDF percentile pass — never a per-bin
    re-sort of raw rows. The oracle's cume_dist over the range join is
    the identical lower-CDF convention with unit weights."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | evaluate rolling_percentile(value, 50, ts, 3, 1d,"
        " event_type)",
    )


@query(
    "kql_ipv4_lookup",
    """
    WITH src AS (
      SELECT event_id,
             concat('10.', CAST(user_id % 200 AS VARCHAR), '.',
                    CAST(event_id % 256 AS VARCHAR), '.7') AS ip,
             (167772160 + (user_id % 200) * 65536
              + (event_id % 256) * 256 + 7) AS num
      FROM events
    ),
    lut(cidr, net, st, sfx) AS (VALUES
      ('10.0.0.0/8', 'corp', 167772160, 8),
      ('10.5.0.0/16', 'sixteen', 168099840, 16),
      ('10.5.7.0/24', 'deep', 168101632, 24)),
    m AS (
      SELECT s.event_id, l.cidr, l.net,
             row_number() OVER (PARTITION BY s.event_id
               ORDER BY l.sfx DESC, l.cidr) AS rn
      FROM src s JOIN lut l
        ON (s.num & (4294967295 - ((1::BIGINT << (32 - l.sfx)) - 1)))
           = l.st
    )
    SELECT s.event_id, s.ip, m.cidr, m.net
    FROM src s LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      USING (event_id)
    """,
)
def kql_ipv4_lookup(spark, sf_dir):
    """``evaluate ipv4_lookup(LookupTable, ip, cidr,
    return_unmatched=true)`` (round 10) — longest-prefix-match CIDR
    enrichment compiled to EQUI-joins: the source ip is masked once
    per DISTINCT prefix length in the lookup (bounded <= 33, one
    bounded collect) and hash-joined on (masked_ip, suffix); the
    longest match wins via a per-source-row window over its <= 33
    matches. No range join, no broadcast nested loop — the shape that
    survives a 100-TB flow table against a broadcast CIDR dim."""
    t = load_tables(spark, sf_dir, ["events"])
    nets = local_rows_df(
        spark,
        [
            ("10.0.0.0/8", "corp"),
            ("10.5.0.0/16", "sixteen"),
            ("10.5.7.0/24", "deep"),
        ],
        "cidr string, net string",
    )
    ev = kql_to_df(
        {"events": t["events"]},
        "events"
        " | extend ip = strcat('10.', tostring(user_id % 200), '.',"
        " tostring(event_id % 256), '.7')"
        " | project event_id, ip",
    )
    return kql_to_df(
        {"t": ev, "nets": nets},
        "t | evaluate ipv4_lookup(nets, ip, cidr, return_unmatched=true)",
    )


@query(
    "kql_join_rightanti",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def kql_join_rightanti(spark, sf_dir):
    """``join kind=rightanti`` / ``kind=rightsemi`` (round 11) —
    Kusto's mirrored semi/anti kinds: output is the RIGHT table's rows
    with (semi) / without (anti) a left match, right columns only.
    Compiled as the swapped Spark left_semi/left_anti; hints apply to
    the probe side. Here: customers with no 300k+ order."""
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    return kql_to_df(
        t,
        "orders | where o_totalprice > 300000"
        " | join kind=rightanti (customer)"
        " on $left.o_custkey == $right.c_custkey"
        " | project c_custkey, c_mktsegment",
    )


@query(
    "kql_series_iir",
    """
    WITH f AS (
      SELECT event_type,
             CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                        / 86400000000) AS BIGINT) AS idx
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    ),
    a AS (SELECT event_type, idx, CAST(COUNT(*) AS DOUBLE) AS n
          FROM f GROUP BY 1, 2),
    k AS (SELECT DISTINCT event_type FROM f),
    spine AS (SELECT k.event_type, r.idx
              FROM k CROSS JOIN range(0, 31) r(idx)),
    s AS (SELECT spine.event_type, spine.idx, COALESCE(a.n, 0.0) AS n
          FROM spine LEFT JOIN a
            ON spine.event_type = a.event_type AND spine.idx = a.idx),
    arr AS (SELECT event_type, list(n ORDER BY idx) AS xs
            FROM s GROUP BY event_type)
    SELECT event_type, CAST(unnest(range(31)) AS INT) AS ix,
           unnest(list_transform(range(31), i ->
             list_sum(list_transform(range(i + 1), m ->
               pow(0.5, i - m) * 0.001 * xs[m + 1])))) AS y
    FROM arr
    """,
)
def kql_series_iir(spark, sf_dir):
    """``series_iir`` (round 11) — IIR filter with zero initial
    conditions (y[n] = (sum b*x - sum a[1:]*y_prev)/a[0]), built by one
    sequential bind-once aggregate fold per row
    (operators/timeseries.series_iir_sql). Here: exponential smoothing
    (b=[0.001], a=[1, -0.5]) of the daily event-count series from
    make-series. The oracle uses the first-order CLOSED FORM
    y[i] = sum 0.5^(i-m) * b * x[m] — scaling by powers of two is
    exact in binary, inputs are scaled to <= 0.1, so both float orders
    agree far below the checker's 6-decimal rounding."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events"
        " | make-series n = count() on ts from datetime(2024-01-01)"
        " to datetime(2024-02-01) step 1d by event_type"
        " | extend y = series_iir(n, dynamic([0.001]),"
        " dynamic([1, -0.5]))"
        " | mv-expand with_itemindex=ix y to typeof(real)"
        " | project event_type, ix, y",
    ).selectExpr("event_type", "cast(ix as int) as ix", "y")


@query(
    "kql_series_fir",
    """
    WITH b AS (
      SELECT user_id % 10 AS g, list_sort(list(value)) AS vals
      FROM events GROUP BY 1
    ),
    f AS (SELECT g, vals, [1.0, 2.0, 1.0] AS w FROM b)
    SELECT g, CAST(unnest(range(len(vals))) AS INT) AS ix,
           unnest(list_transform(range(len(vals)), i ->
             list_sum(list_transform(range(3), j ->
               CASE WHEN i - j >= 0 AND i - j <= len(vals) - 1
                 THEN w[j + 1] * vals[i - j + 1] ELSE 0.0 END))
             / list_sum(list_transform(range(3), j ->
               CASE WHEN i - j >= 0 AND i - j <= len(vals) - 1
                 THEN w[j + 1] ELSE 0.0 END)))) AS y
    FROM f
    """,
)
def kql_series_fir(spark, sf_dir):
    """``series_fir`` (round 11) — finite impulse response filter as
    bind-once array SQL (operators/timeseries.series_fir_sql): taps
    apply causally (filter[0] on the current element), normalization
    defaults to Kusto's all-non-negative rule and divides by the sum
    of taps actually used, so edges are partial windows exactly like
    series_moving_avg. Exploded to rows; DuckDB twin runs the same
    arithmetic with list lambdas."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | extend g = user_id % 10"
        " | summarize vals = make_list(value) by g"
        " | extend y = series_fir(vals, dynamic([1, 2, 1]))"
        " | mv-expand with_itemindex=ix y to typeof(real)"
        " | project g, ix, y",
    ).selectExpr("g", "cast(ix as int) as ix", "y")


@query(
    "kql_series_outliers",
    """
    WITH b AS (
      SELECT user_id % 10 AS g, list_sort(list(value)) AS vals
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT g, vals,
             list_sort(list_filter(vals, x -> x IS NOT NULL)) AS srt
      FROM b
    ),
    q AS (
      SELECT g, vals,
             srt[CAST(round(0.10 * (len(srt) - 1)) AS INT) + 1] AS qlo,
             srt[CAST(round(0.90 * (len(srt) - 1)) AS INT) + 1] AS qhi
      FROM s
    )
    SELECT g, CAST(unnest(range(len(vals))) AS INT) AS ix,
           unnest(list_transform(vals, x -> CASE
             WHEN x IS NULL THEN NULL
             WHEN qhi = qlo THEN 0.0
             WHEN x > qhi THEN (x - qhi) / (qhi - qlo)
             WHEN x < qlo THEN (x - qlo) / (qhi - qlo)
             ELSE 0.0 END)) AS sc
    FROM q
    """,
)
def kql_series_outliers(spark, sf_dir):
    """``series_outliers`` (round 11) — Tukey-fence anomaly scores as
    PURE array SQL (sort/filter/transform inside the row, zero
    shuffles beyond the grouping): nearest-rank quantiles over the
    sorted non-null elements, ctukey p10/p90 fences (kind='tukey' for
    p25/p75), score = distance outside the fence in fence-IQR units.
    Exploded to rows so the DuckDB oracle compares raw doubles (never
    printf strings)."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "events | extend g = user_id % 10"
        " | summarize vals = make_list(value) by g"
        " | extend sc = series_outliers(vals)"
        " | mv-expand with_itemindex=ix sc to typeof(real)"
        " | project g, ix, sc",
    ).selectExpr("g", "cast(ix as int) as ix", "sc")


@query(
    "kql_row_rank",
    """
    WITH c AS (
      SELECT event_id, event_type,
             row_number() OVER (ORDER BY event_id) AS rn,
             lag(event_type) OVER (ORDER BY event_id) AS p
      FROM events
    ),
    d AS (
      SELECT *, SUM(CASE WHEN event_type IS DISTINCT FROM p
                    THEN 1 ELSE 0 END) OVER (ORDER BY rn) AS dr
      FROM c
    )
    SELECT event_id, event_type, CAST(dr AS BIGINT) AS d,
           CAST(min(rn) OVER (PARTITION BY dr) AS BIGINT) AS m
    FROM d
    """,
)
def kql_row_rank(spark, sf_dir):
    """``row_rank_dense`` / ``row_rank_min`` (round 11) — Kusto's
    serialized consecutive-run ranks: dense advances whenever Term
    differs from the PREVIOUS row; min repeats the run's first row
    number. Distributed on the same kernels as row_number/row_cumsum
    (bucketed global numbering + one shift join + a change-flag prefix
    scan + one run-keyed aggregate) — never an unpartitioned window."""
    t = load_tables(spark, sf_dir, ["events"])
    # project FIRST: the serialize kernel checkpoints its input, so
    # carrying the wide events row (properties JSON etc.) through the
    # numbering costs ~2x — same advice as Kusto's own serialize docs
    return kql_to_df(
        t,
        "events | project event_id, event_type"
        " | sort by event_id asc"
        " | extend d = row_rank_dense(event_type),"
        " m = row_rank_min(event_type)",
    )


@query(
    "kql_scalar_extras6",
    """
    WITH b AS (
      SELECT event_id, event_type,
             [CAST(event_id % 5 AS BIGINT), CAST(event_id % 7 AS BIGINT),
              CAST(event_id % 3 AS BIGINT), CAST(user_id % 4 AS BIGINT)]
               AS a,
             CAST(event_id % 3 AS INT) AS k
      FROM events
    )
    SELECT event_id,
      array_to_string(list_concat(list_slice(a, k + 1, 4),
        list_slice(a, 1, k)), ',') AS rl,
      array_to_string(list_concat(list_slice(a, 2, 4),
        [CAST(-1 AS BIGINT)]), ',') AS sl,
      CAST(CASE WHEN regexp_matches(event_type, '[aeiou]')
           THEN length(regexp_split_to_array(event_type, '[aeiou]')[1])
           ELSE -1 END AS INT) AS ir,
      CAST(len(regexp_split_to_array(event_type, '[aeiou]')) - 1 AS INT)
        AS cr,
      regexp_replace(event_type, '[aeiou]', '_', 'g') AS rre,
      CAST(list_sum(a) AS DOUBLE) AS ss,
      CAST(list_product(a) AS DOUBLE) AS sp,
      CAST(len(list_filter(a, x -> x > 2)) AS DOUBLE) AS sg
    FROM b
    """,
)
def kql_scalar_extras6(spark, sf_dir):
    """Round-11 scalar batch 6: array rotate/shift (type-preserving
    null/filled padding), the regex index/count/replace family
    (regexp_instr/regexp_count, both 0-based Kusto conventions),
    series folds (series_sum/product) and element-wise comparisons
    (series_greater) composed with array_iff — all textual rewrites to
    JVM built-ins and higher-order functions, zero UDFs. DuckDB twin
    uses list_slice/list_sum/list_filter and split-based regex
    counting (regexp_replace needs the 'g' flag there: DuckDB replaces
    first match by default, Spark replaces all)."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        """
        events
        | extend a = pack_array(event_id % 5, event_id % 7, event_id % 3, user_id % 4), k = event_id % 3
        | extend rl = strcat_array(array_rotate_left(a, k), ','),
                 sl = strcat_array(array_shift_left(a, 1, -1), ','),
                 ir = indexof_regex(event_type, '[aeiou]'),
                 cr = countof_regex(event_type, '[aeiou]'),
                 rre = replace_regex(event_type, '[aeiou]', '_'),
                 ss = series_sum(a),
                 sp = series_product(a),
                 sg = series_sum(array_iff(series_greater(a, pack_array(2, 2, 2, 2)), pack_array(1, 1, 1, 1), pack_array(0, 0, 0, 0)))
        | project event_id, rl, sl, ir, cr, rre, ss, sp, sg
        """,
    )
    return out.select(
        "event_id", "rl", "sl",
        F.col("ir").cast("int").alias("ir"),
        F.col("cr").cast("int").alias("cr"),
        "rre", "ss", "sp", "sg",
    )


@query(
    "kql_fork",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hot,
           max(value) AS vmax,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_et
    FROM events WHERE value > 50
    """,
)
def kql_fork_branches(spark, sf_dir):
    """Kusto ``fork`` (round 11) — one pipe split into parallel
    consumer branches, each a separate result table (kql_fork returns
    a dict; kql_to_df refuses fork loudly). The shared prefix frame is
    persisted ONCE (share_source=True) so every branch reads the
    cached pass instead of re-scanning — the whole point of fork, and
    this Spark build does not reuse exchanges across actions. Oracle:
    the three 1-row branches cross-joined into one row."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_fork(
        t,
        "events | where value > 50 | fork"
        " (summarize n_hot = count())"
        " (summarize vmax = max(value))"
        " (summarize n_et = dcount(event_type))",
    )
    return (
        out["fork_0"]
        .crossJoin(out["fork_1"])
        .crossJoin(out["fork_2"])
    )


@query(
    "kql_ipv4_lookup_numeric",
    """
    WITH src AS (
      SELECT event_id,
             (167772160 + (user_id % 200) * 65536
              + (event_id % 256) * 256 + 7) AS ipnum
      FROM events
    ),
    lut(cidr, net, st, sfx) AS (VALUES
      ('10.0.0.0/8', 'corp', 167772160, 8),
      ('10.5.0.0/16', 'sixteen', 168099840, 16),
      ('10.5.7.0/24', 'deep', 168101632, 24)),
    m AS (
      SELECT s.event_id, l.cidr, l.net,
             row_number() OVER (PARTITION BY s.event_id
               ORDER BY l.sfx DESC, l.cidr) AS rn
      FROM src s JOIN lut l
        ON (s.ipnum & (4294967295 - ((1::BIGINT << (32 - l.sfx)) - 1)))
           = l.st
    )
    SELECT s.event_id, s.ipnum, m.cidr, m.net
    FROM src s LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      USING (event_id)
    """,
)
def kql_ipv4_lookup_numeric(spark, sf_dir):
    """ipv4_lookup over a PRE-PARSED bigint ip column (round 11) — the
    numeric fast path skips the dotted-quad string parse entirely (the
    20M-flow probe was parse-bound, ~2 aggregate/transform passes per
    row on strings; numeric input is join-bound). Same equi-join LPM
    plan as kql_ipv4_lookup, minus the parse."""
    t = load_tables(spark, sf_dir, ["events"])
    nets = local_rows_df(
        spark,
        [
            ("10.0.0.0/8", "corp"),
            ("10.5.0.0/16", "sixteen"),
            ("10.5.7.0/24", "deep"),
        ],
        "cidr string, net string",
    )
    ev = kql_to_df(
        {"events": t["events"]},
        "events"
        " | extend ipnum = 167772160 + (user_id % 200) * 65536"
        " + (event_id % 256) * 256 + 7"
        " | project event_id, ipnum",
    )
    return kql_to_df(
        {"t": ev, "nets": nets},
        "t | evaluate ipv4_lookup(nets, ipnum, cidr,"
        " return_unmatched=true)",
    )


@query(
    "kql_scalar_extras5",
    """
    SELECT event_id,
           (event_id & user_id) AS b_and,
           (event_id | user_id) AS b_or,
           xor(event_id, user_id) AS b_xor,
           (~event_id) AS b_not,
           (event_id << 2) AS shl,
           (event_id >> 1) AS shr,
           CAST(bit_count(event_id) AS INT) AS ones,
           pow(2, CAST(user_id % 8 AS DOUBLE)) AS e2,
           log2(CAST(event_id + 1 AS DOUBLE)) AS l2,
           sha256(event_type) AS h256,
           md5(event_type) AS hmd5,
           array_to_string(list_sort([CAST(user_id AS BIGINT),
             event_id, CAST(user_id % 3 AS BIGINT)]), ',') AS arr,
           array_to_string(list_reverse_sort([CAST(user_id AS BIGINT),
             event_id]), ',') AS da,
           array_to_string(list_sort(list_distinct(list_concat(
             [CAST(user_id % 5 AS BIGINT)],
             [CAST(event_id % 5 AS BIGINT)]))), ',') AS su,
           array_to_string(list_sort(list_intersect(
             [CAST(user_id % 5 AS BIGINT), 1],
             [CAST(event_id % 5 AS BIGINT), 1])), ',') AS si,
           array_to_string(list_sort(list_filter(
             [CAST(user_id % 5 AS BIGINT), 7],
             x -> NOT list_contains([CAST(event_id % 5 AS BIGINT)], x))),
             ',') AS sd,
           list_contains([CAST(user_id % 5 AS BIGINT), 7], 7) AS he
    FROM events
    """,
)
def kql_scalar_extras5(spark, sf_dir):
    """Round-10 scalar batch 5: ``binary_and/or/xor/not`` +
    ``binary_shift_left/right`` (-> JVM bit ops),
    ``bitset_count_ones`` (-> bit_count), ``exp2``/``log2``,
    ``hash_sha256``/``hash_md5`` (-> sha2/md5),
    ``pack_array``/``array_sort_asc``/``array_sort_desc``/
    ``array_reverse``, and the set family ``set_union``/
    ``set_intersect``/``set_difference``/``set_has_element`` (SORTED
    output — Kusto's sets are unordered; the pinned sort is the
    deterministic cross-engine form). All textual rewrites, zero
    UDFs, zero shuffles."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        events
        | extend b_and = binary_and(event_id, user_id),
                 b_or = binary_or(event_id, user_id),
                 b_xor = binary_xor(event_id, user_id),
                 b_not = binary_not(event_id),
                 shl = binary_shift_left(event_id, 2),
                 shr = binary_shift_right(event_id, 1),
                 ones = bitset_count_ones(event_id),
                 e2 = exp2(todouble(user_id % 8)),
                 l2 = log2(todouble(event_id + 1)),
                 h256 = hash_sha256(event_type),
                 hmd5 = hash_md5(event_type),
                 a1 = pack_array(user_id, event_id, user_id % 3),
                 a2 = pack_array(user_id, event_id),
                 u1 = pack_array(user_id % 5),
                 u2 = pack_array(event_id % 5),
                 w1 = pack_array(user_id % 5, tolong(1)),
                 w2 = pack_array(event_id % 5, tolong(1)),
                 d1 = pack_array(user_id % 5, tolong(7))
        | extend arr = strcat_array(array_sort_asc(a1), ','),
                 da = strcat_array(array_sort_desc(a2), ','),
                 su = strcat_array(set_union(u1, u2), ','),
                 si = strcat_array(set_intersect(w1, w2), ','),
                 sd = strcat_array(set_difference(d1, u2), ','),
                 he = set_has_element(d1, 7)
        | project event_id, b_and, b_or, b_xor, b_not, shl, shr, ones,
                  e2, l2, h256, hmd5, arr, da, su, si, sd, he
        """,
    )


@query(
    "kql_toscalar",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo
    FROM events
    WHERE value > (SELECT quantile_cont(value, 0.95) FROM events)
    GROUP BY 1
    """,
)
def kql_toscalar(spark, sf_dir):
    """``toscalar(<pipe>)`` (round 10) — constant-folding scalar
    sub-queries: the sub-pipe runs once at translate time (one bounded
    limit(1) collect) and its value splices in as a literal, in both
    the ``let`` and inline forms — Kusto's evaluation model exactly.
    The filter below reaches the scan as a plain literal comparison
    (pushed predicate), not a join against a subquery."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        "let hi = toscalar(events | summarize percentile(value, 95));"
        " events | where value > hi"
        " | summarize n = count(), lo = min(value) by event_type",
    )


@query(
    "kql_diffpatterns_text",
    """
    WITH src AS (
      SELECT concat(event_type, ' id ', CAST(event_id AS VARCHAR))
               AS msg,
             CASE WHEN value < 50 THEN 'lo' ELSE 'hi' END AS cohort
      FROM events
    ),
    c AS (
      SELECT regexp_replace(regexp_replace(msg,
               '\\b[0-9a-fA-F]{8,}\\b', '*', 'g'), '[0-9]+', '*', 'g')
               AS Pattern,
             SUM(CASE WHEN cohort = 'lo' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN cohort = 'hi' THEN 1 ELSE 0 END) AS cb
      FROM src GROUP BY 1
    ),
    tot AS (
      SELECT SUM(CASE WHEN cohort = 'lo' THEN 1 ELSE 0 END) AS ta,
             SUM(CASE WHEN cohort = 'hi' THEN 1 ELSE 0 END) AS tb
      FROM src
    )
    SELECT Pattern,
           CAST(ca AS BIGINT) AS count_a, CAST(cb AS BIGINT) AS count_b,
           ca * 100.0 / ta AS percent_a, cb * 100.0 / tb AS percent_b,
           ca * 100.0 / ta - cb * 100.0 / tb AS percent_diff_ab
    FROM c, tot
    WHERE abs(ca * 100.0 / ta - cb * 100.0 / tb) >= 0.01
    """,
)
def kql_diffpatterns_text(spark, sf_dir):
    """``evaluate diffpatterns_text(Text, Split, 'A', 'B', min_diff)``
    (round 10) — which text SHAPES differ between two cohorts:
    deterministic dialect normalizing with the reduce-by rules (one
    canonical pattern per row), per-pattern conditional split counts
    in one map-side-combine aggregate, 1-row broadcast totals.
    Completes the segment-differ trio (basket / diffpatterns /
    diffpatterns_text) on shared kernels."""
    t = load_tables(spark, sf_dir, ["events"])
    ev = kql_to_df(
        {"events": t["events"]},
        "events"
        " | extend msg = strcat(event_type, ' id ', tostring(event_id)),"
        " cohort = iff(value < 50.0, 'lo', 'hi')"
        " | project msg, cohort",
    )
    return kql_to_df(
        {"t": ev},
        "t | evaluate diffpatterns_text(msg, cohort, 'lo', 'hi', 0.0001)",
    )


@query(
    "kql_series_decompose",
    _SERIES_COUNT_CTE
    + """,
    fit AS (SELECT event_type, regr_slope(y, i) AS m,
                   regr_intercept(y, i) AS b
            FROM s GROUP BY 1),
    tl AS (SELECT s.event_type, s.i, s.y, f.b + f.m * s.i AS t
           FROM s JOIN fit f USING (event_type)),
    cm AS (SELECT event_type, i % 7 AS r, AVG(y - t) AS sm
           FROM tl GROUP BY 1, 2)
    SELECT tl.event_type, CAST(tl.i AS INT) AS ix,
           tl.t + cm.sm AS base, cm.sm AS seas, tl.t AS trend_v,
           tl.y - (tl.t + cm.sm) AS resid
    FROM tl JOIN cm ON tl.event_type = cm.event_type AND tl.i % 7 = cm.r
    """,
)
def kql_series_decompose(spark, sf_dir):
    """KQL ``series_decompose(series, period, trend)`` (round 12) —
    one-pass trend-then-seasonal decomposition as bind-once array SQL
    (operators/timeseries.series_decompose_sql): least-squares trend
    (the shared fit-line kernel), seasonal = per-period-class means of
    the detrended series, baseline = trend + seasonal, residual =
    series − baseline. Weekly period over daily event counts; the
    oracle rebuilds every component relationally (regr_* fit +
    grouped AVG by i % 7)."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend d = series_decompose(n, 7)
        | project event_type, d
        """,
    )
    return df.selectExpr(
        "event_type",
        "posexplode(arrays_zip(d.baseline, d.seasonal, d.trend,"
        " d.residual)) AS (ix, z)",
    ).selectExpr(
        "event_type", "cast(ix as int) as ix",
        "z.baseline as base", "z.seasonal as seas",
        "z.trend as trend_v", "z.residual as resid",
    )


@query(
    "kql_series_decompose_forecast",
    _SERIES_COUNT_CTE
    + """,
    fit AS (SELECT event_type, regr_slope(y, i) AS m,
                   regr_intercept(y, i) AS b
            FROM s WHERE i < 24 GROUP BY 1),
    tl AS (SELECT s.event_type, s.i, f.b + f.m * s.i AS t
           FROM s JOIN fit f USING (event_type)),
    d AS (SELECT s.event_type, s.i, s.y - (f.b + f.m * s.i) AS dv
          FROM s JOIN fit f USING (event_type) WHERE s.i < 24),
    cm AS (SELECT event_type, i % 7 AS r, AVG(dv) AS sm
           FROM d GROUP BY 1, 2)
    SELECT tl.event_type, CAST(tl.i AS INT) AS ix, tl.t + cm.sm AS f
    FROM tl JOIN cm ON tl.event_type = cm.event_type AND tl.i % 7 = cm.r
    """,
)
def kql_series_decompose_forecast(spark, sf_dir):
    """KQL ``series_decompose_forecast(series, points, period)``
    (round 12) — the decomposition model fitted on the series WITHOUT
    its last 7 bins, its baseline emitted over the full month, so the
    trailing week is a true out-of-sample forecast. The period
    autodetection never peeks at the forecast region (trained on the
    prefix only). Oracle: the same model relationally with the
    training filter i < 24."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend f = series_decompose_forecast(n, 7, 7)
        | mv-expand with_itemindex=ix f to typeof(real)
        | project event_type, ix, f
        """,
    )
    return df.selectExpr("event_type", "cast(ix as int) as ix", "f")


@query(
    "kql_series_periods_detect",
    _SERIES_COUNT_CTE
    + """,
    st AS (SELECT event_type, AVG(y) AS mu FROM s GROUP BY 1),
    ce AS (SELECT s.event_type, s.i, s.y - st.mu AS c
           FROM s JOIN st USING (event_type)),
    va AS (SELECT event_type, SUM(c * c) AS v FROM ce GROUP BY 1),
    acf AS (
      SELECT a.event_type, l.lag,
             GREATEST(SUM(a.c * b.c) / ANY_VALUE(v.v), 0) AS score
      FROM ce a
      CROSS JOIN (SELECT unnest(range(2, 11)) AS lag) l
      JOIN ce b ON b.event_type = a.event_type AND b.i = a.i + l.lag
      JOIN va v ON v.event_type = a.event_type
      GROUP BY a.event_type, l.lag
    ),
    rk AS (SELECT event_type, lag, score,
             row_number() OVER (PARTITION BY event_type
               ORDER BY score DESC, lag) AS rnk
           FROM acf WHERE score > 0)
    SELECT event_type, CAST(rnk - 1 AS INT) AS prank,
           CAST(lag AS DOUBLE) AS period, score
    FROM rk WHERE rnk <= 2
    """,
)
def kql_series_periods_detect(spark, sf_dir):
    """KQL ``series_periods_detect(series, min_period, max_period,
    num_periods)`` (round 12) — top-k candidate periods by normalized
    autocorrelation (clipped at 0, score desc / lag asc, zero-score
    lags dropped), pure array SQL per row. Oracle: the ACF computed
    relationally via a lagged self-join + window rank."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend p = series_periods_detect(n, 2, 10, 2)
        | project event_type, p
        """,
    )
    return df.selectExpr(
        "event_type",
        "posexplode(arrays_zip(p.periods, p.scores)) AS (prank, z)",
    ).selectExpr(
        "event_type", "cast(prank as int) as prank",
        "z.periods as period", "z.scores as score",
    )


@query(
    "kql_series_decompose_anomalies_seasonal",
    _SERIES_COUNT_CTE
    + """,
    fit AS (SELECT event_type, regr_slope(y, i) AS m,
                   regr_intercept(y, i) AS b
            FROM s GROUP BY 1),
    tl AS (SELECT s.event_type, s.i, s.y, f.b + f.m * s.i AS t
           FROM s JOIN fit f USING (event_type)),
    cm AS (SELECT event_type, i % 7 AS r, AVG(y - t) AS sm
           FROM tl GROUP BY 1, 2),
    r AS (SELECT tl.event_type, tl.i, tl.t + cm.sm AS base,
                 tl.y - (tl.t + cm.sm) AS resid
          FROM tl JOIN cm ON tl.event_type = cm.event_type
                         AND tl.i % 7 = cm.r),
    q AS (SELECT event_type,
                 quantile_cont(resid, 0.25) AS q1,
                 quantile_cont(resid, 0.75) AS q3
          FROM r GROUP BY 1)
    SELECT r.event_type, CAST(r.i AS INT) AS ix,
           CAST(CASE WHEN resid > q3 + 1.5 * (q3 - q1) THEN 1
                     WHEN resid < q1 - 1.5 * (q3 - q1) THEN -1
                     ELSE 0 END AS INT) AS ad,
           CASE WHEN q3 - q1 > 0 THEN resid / (q3 - q1)
                ELSE 0.0 END AS score,
           r.base
    FROM r JOIN q USING (event_type)
    """,
)
def kql_series_decompose_anomalies_seasonal(spark, sf_dir):
    """KQL ``series_decompose_anomalies(series, threshold, period)``
    (round 12) — the r8 trend-only anomaly row upgraded with the
    SEASONAL baseline: residuals are scored against trend + weekly
    seasonal component, Tukey fences at 1.5 interpolated-IQRs. The
    trend-only default (period omitted) keeps the original
    kql_series_anomalies row's semantics byte-for-byte."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend a = series_decompose_anomalies(n, 1.5, 7)
        | project event_type, a
        """,
    )
    return df.selectExpr(
        "event_type",
        "posexplode(arrays_zip(a.anomalies, a.score, a.baseline))"
        " AS (ix, z)",
    ).selectExpr(
        "event_type", "cast(ix as int) as ix",
        "cast(z.anomalies as int) as ad", "z.score as score",
        "z.baseline as base",
    )


@query(
    "kql_scan_output_last",
    """
    WITH e AS (
      SELECT user_id, event_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    b AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER w AS pts,
             lag(event_id) OVER w AS pid
      FROM e WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pr AS (
      SELECT b.user_id, b.event_id AS b_id, b.ts AS b_ts,
             (SELECT a.event_id FROM e a
               WHERE a.user_id = b.user_id AND a.event_type = 'view'
                 AND (b.pts IS NULL OR (a.ts, a.event_id) > (b.pts, b.pid))
                 AND (a.ts, a.event_id) < (b.ts, b.event_id)
               ORDER BY a.ts, a.event_id LIMIT 1) AS a_id
      FROM b
    ),
    mt AS (
      SELECT user_id, b_id,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY b_ts, b_id) - 1 AS BIGINT)
               AS match_id
      FROM pr WHERE a_id IS NOT NULL
    )
    SELECT user_id, b_id AS event_id, 'purchase' AS event_type, match_id
    FROM mt
    """,
)
def kql_scan_output_last(spark, sf_dir):
    """``scan output=last`` (round 12) — only each match instance's
    FINAL row is emitted (Kusto's output parameter; default all, and
    output=none yields an empty frame with the same schema). One
    row_number window partitioned on (keys, match_id) after the state
    machine — single matches are tiny partitions, skew-free. The K=2
    funnel's last row is always the step-2 (purchase) row, which is
    exactly what the kql_scan_funnel closed-form oracle's match CTE
    emits."""
    t = load_tables(spark, sf_dir, ["events"])
    out = kql_to_df(
        t,
        "events | where event_type in ('view', 'purchase')"
        # project FIRST (r14): see kql_scan_funnel
        " | project event_id, ts, user_id, event_type"
        " | sort by ts asc, event_id asc"
        " | scan output=last by user_id with_match_id=match_id with"
        " (step s1: event_type == 'view';"
        "  step s2: event_type == 'purchase')",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.col("match_id").cast("long").alias("match_id"),
    )


@query(
    "kql_graph_to_table",
    """
    WITH ed AS (SELECT CAST(user_id % 20 AS VARCHAR) AS s, event_type AS d
                FROM events),
    n AS (SELECT DISTINCT event_type AS nid,
                 't:' || event_type AS label
          FROM events),
    ids AS (SELECT DISTINCT s AS id FROM ed
            UNION SELECT DISTINCT d FROM ed
            UNION SELECT DISTINCT nid FROM n)
    SELECT ids.id, n.label FROM ids LEFT JOIN n ON ids.id = n.nid
    """,
)
def kql_graph_to_table(spark, sf_dir):
    """``graph-to-table nodes`` (round 12) — materialize the graph's
    node side as a tabular result: distinct union of edge endpoints
    plus the bound node table's ids (Kusto's make-graph retains
    isolated node rows — r13 ADVICE fix), LEFT joined to the node
    properties (endpoint-only nodes keep null
    props). ``graph-to-table edges`` returns the
    edge frame; the combined two-table form is a documented dialect
    exclusion (run the pipe per side, same discipline as fork
    branches). Scale: one distinct aggregate over the endpoints + one
    AQE-planned dimensional join."""
    t = load_tables(spark, sf_dir, ["events"])
    edges = kql_to_df(
        {"events": t["events"]},
        "events | project s = tostring(user_id % 20), d = event_type",
    )
    nodes = kql_to_df(
        {"events": t["events"]},
        "events | distinct event_type"
        " | project nid = event_type, label = strcat('t:', event_type)",
    )
    return kql_to_df(
        {"E": edges, "N": nodes},
        "E | make-graph s --> d with N on nid | graph-to-table nodes",
    )


@query(
    "kql_mv_expand_bag_array",
    """
    WITH src AS (SELECT event_id, event_type,
                        CAST(user_id AS VARCHAR) AS uid
                 FROM events),
    pairs AS (
      SELECT event_id, 0 AS i, 'type' AS k, event_type AS v FROM src
      UNION ALL
      SELECT event_id, 1 AS i, 'uid' AS k, uid AS v FROM src
    )
    SELECT event_id, CAST(i AS INT) AS i, k, v FROM pairs
    """,
)
def kql_mv_expand_bag_array(spark, sf_dir):
    """``mv-expand bagexpansion=array`` (round 12) — a property-bag
    (map) column expands to one [key, value] pair per entry instead of
    the default single-entry bag (this typed dialect stringifies the
    value; Kusto's dynamic arrays are heterogeneous). One posexplode
    over map_entries — a single generator, entry order is the bag's
    construction order, empty bags drop their row like Kusto."""
    t = load_tables(spark, sf_dir, ["events"])
    src = t["events"].selectExpr(
        "event_id",
        "map('type', event_type, 'uid', cast(user_id as string)) as b",
    )
    out = kql_to_df(
        {"T": src},
        "T | mv-expand bagexpansion=array with_itemindex=i b",
    )
    return out.selectExpr(
        "event_id", "cast(i as int) as i", "b[0] as k", "b[1] as v"
    )


@query(
    "kql_series_periods_validate",
    _SERIES_COUNT_CTE
    + """,
    st AS (SELECT event_type, AVG(y) AS mu FROM s GROUP BY 1),
    ce AS (SELECT s.event_type, s.i, s.y - st.mu AS c
           FROM s JOIN st USING (event_type)),
    va AS (SELECT event_type, SUM(c * c) AS v FROM ce GROUP BY 1),
    acf AS (
      SELECT a.event_type, l.lag,
             GREATEST(SUM(a.c * b.c) / ANY_VALUE(v.v), 0) AS score
      FROM ce a
      CROSS JOIN (SELECT unnest([7, 14, 3]) AS lag) l
      JOIN ce b ON b.event_type = a.event_type AND b.i = a.i + l.lag
      JOIN va v ON v.event_type = a.event_type
      GROUP BY a.event_type, l.lag
    ),
    ord AS (SELECT unnest([7, 14, 3]) AS lag,
                   unnest([0, 1, 2]) AS prank)
    SELECT acf.event_type, CAST(ord.prank AS INT) AS prank,
           CAST(acf.lag AS DOUBLE) AS period, acf.score
    FROM acf JOIN ord USING (lag)
    """,
)
def kql_series_periods_validate(spark, sf_dir):
    """``series_periods_validate(series, p1, p2, ...)`` (round 12) —
    score PROPOSED periods with the same clipped normalized-ACF
    measure series_periods_detect ranks by, in input order. Pure array
    SQL; the oracle recomputes each lag's ACF relationally."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend p = series_periods_validate(n, 7, 14, 3)
        | project event_type, p
        """,
    )
    return df.selectExpr(
        "event_type",
        "posexplode(arrays_zip(p.periods, p.scores)) AS (prank, z)",
    ).selectExpr(
        "event_type", "cast(prank as int) as prank",
        "z.periods as period", "z.scores as score",
    )


@query(
    "kql_make_series_numeric",
    """
    WITH f AS (
      SELECT user_id % 5 AS g,
             CAST(FLOOR(value / 10) AS BIGINT) AS i, value
      FROM events WHERE value >= 0 AND value < 100
    ),
    b AS (SELECT g, i, CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(value) AS sv
          FROM f GROUP BY 1, 2),
    spine AS (SELECT t.g, r.i
              FROM (SELECT DISTINCT g FROM f) t
              CROSS JOIN range(10) r(i))
    SELECT spine.g, CAST(spine.i AS INT) AS ix,
           spine.i * 10.0 AS x,
           COALESCE(b.n, 0.0) AS n, COALESCE(b.sv, 0.0) AS sv
    FROM spine LEFT JOIN b USING (g, i)
    """,
)
def kql_make_series_numeric(spark, sf_dir):
    """``make-series ... on <numeric> from a to b step s`` (round 12) —
    Kusto's numeric on-axis form. Same single-pass plan as the time
    form (shared _make_series_core: one (keys, bin) aggregate, per-key
    bin->value map, transform densify — no spine join, no explode);
    bins are start-aligned half-open doubles. Oracle: relational bin
    arithmetic + zero-filled spine."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        "events | extend g = user_id % 5"
        " | make-series n = count(), sv = sum(value)"
        " on value from 0 to 100 step 10 by g",
    )
    return df.selectExpr(
        "g", "posexplode(arrays_zip(value, n, sv)) AS (ix, z)"
    ).selectExpr(
        "g", "cast(ix as int) as ix", "z.value as x",
        "z.n as n", "z.sv as sv",
    )


@query(
    "kql_mv_expand_limit",
    """
    WITH l AS (
      SELECT user_id % 7 AS g, event_id,
             row_number() OVER (PARTITION BY user_id % 7
               ORDER BY event_id) AS rn
      FROM events
    )
    SELECT g, CAST(event_id AS BIGINT) AS e FROM l WHERE rn <= 3
    """,
)
def kql_mv_expand_limit(spark, sf_dir):
    """``mv-expand Col limit N`` (round 12) — caps expanded values per
    source row by SLICING the array before the generator (the explode
    shrinks; never a post-filter). Here: per-group sorted event-id
    lists truncated to 3. Oracle: window rank <= 3."""
    t = load_tables(spark, sf_dir, ["events"])
    lists = kql_to_df(
        {"events": t["events"]},
        "events | extend g = user_id % 7"
        " | summarize es = make_list(event_id) by g",
    ).selectExpr("g", "array_sort(es) as es")
    return kql_to_df(
        {"T": lists}, "T | mv-expand es limit 3 | project g, e = es"
    ).selectExpr("g", "cast(e as long) as e")


@query(
    "kql_series_decompose_auto",
    _SERIES_COUNT_CTE
    + """,
    st AS (SELECT event_type, AVG(y) AS mu FROM s GROUP BY 1),
    ce AS (SELECT s.event_type, s.i, s.y, s.y - st.mu AS c
           FROM s JOIN st USING (event_type)),
    va AS (SELECT event_type, SUM(c * c) AS v FROM ce GROUP BY 1),
    acf AS (
      SELECT a.event_type, l.lag,
             SUM(a.c * b.c) / ANY_VALUE(v.v) AS score
      FROM ce a
      CROSS JOIN (SELECT unnest(range(2, 16)) AS lag) l
      JOIN ce b ON b.event_type = a.event_type AND b.i = a.i + l.lag
      JOIN va v ON v.event_type = a.event_type
      GROUP BY a.event_type, l.lag
    ),
    det AS (
      SELECT event_type, lag, score,
             row_number() OVER (PARTITION BY event_type
               ORDER BY score DESC, lag) AS rnk
      FROM acf
    ),
    p AS (SELECT event_type,
                 CASE WHEN score >= 0.6 THEN lag ELSE 0 END AS p
          FROM det WHERE rnk = 1),
    fit AS (SELECT event_type, regr_slope(y, i) AS m,
                   regr_intercept(y, i) AS b
            FROM s GROUP BY 1),
    tl AS (SELECT s.event_type, s.i, s.y, f.b + f.m * s.i AS t
           FROM s JOIN fit f USING (event_type)),
    cm AS (SELECT tl.event_type, tl.i % p.p AS r, AVG(tl.y - tl.t) AS sm
           FROM tl JOIN p USING (event_type) WHERE p.p > 0
           GROUP BY 1, 2)
    SELECT tl.event_type, CAST(tl.i AS INT) AS ix,
           tl.y - (tl.t + COALESCE(cm.sm, 0.0)) AS resid,
           CAST(p.p AS INT) AS used_p
    FROM tl
    JOIN p USING (event_type)
    LEFT JOIN cm ON tl.event_type = cm.event_type
                AND p.p > 0 AND tl.i % p.p = cm.r
    """,
)
def kql_series_decompose_auto(spark, sf_dir):
    """``series_decompose(series)`` with period = -1 AUTODETECTION
    (round 12): top-ACF lag in [2, n/2] gated at score >= 0.6, else
    trend-only. The oracle replicates the WHOLE gate relationally —
    per-group lagged self-join ACF, argmax (score desc, lag asc),
    threshold, then per-detected-period class means — so the
    autodetection itself is cross-engine checked, not just the
    explicit-period kernel. The engine's detected period is exposed
    as used_p via the seasonal component's repeat length (period 0 ->
    zero seasonal -> resid == y - trend)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend d = series_decompose(n)
        | extend pd = series_periods_detect(n, 2, 15, 1)
        | project event_type, d, pd
        """,
    )
    # used_p: the engine's own gate decision, reconstructed from the
    # periods_detect struct (same ACF measure the decompose gate uses)
    used = (
        "cast(if(size(pd.scores) > 0 and pd.scores[0] >= 0.6d,"
        " pd.periods[0], 0) as int)"
    )
    return df.selectExpr(
        "event_type", f"{used} as used_p",
        "posexplode(d.residual) AS (ix, resid)",
    ).selectExpr(
        "event_type", "cast(ix as int) as ix", "resid", "used_p"
    )


# ---------------------------------------------------------------- r13
# series-library completion: trig/pow, vector ops, directional fills,
# seasonal (median), fit_2lines, fit_poly — closing the documented
# Kusto series function set (PARITY.md r13 table)


@query(
    "kql_series_trig_pow",
    _SERIES_COUNT_CTE
    + """
    SELECT event_type, i AS ix,
           sin(y) AS sn, cos(y) AS cs2, atan(y) AS at2,
           CASE WHEN y = 0 THEN NULL ELSE pow(y, y / (y + y)) END AS pw
    FROM s
    """,
)
def kql_series_trig_pow(spark, sf_dir):
    """KQL elementwise trig + power over make-series output:
    ``series_sin/cos/atan`` and ``series_pow`` with a DERIVED exponent
    series (n/(n+n) = 0.5 on active bins, null on empty ones via
    try_divide — pinning the null-propagation path). One transform /
    zip_with per row, no shuffle beyond make-series."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend sn = series_sin(n), cs2 = series_cos(n),
                 at2 = series_atan(n),
                 pw = series_pow(n, series_divide(n, series_add(n, n)))
        | project event_type, sn, cs2, at2, pw
        """,
    )
    return df.selectExpr(
        "event_type",
        "posexplode(arrays_zip(sn, cs2, at2, pw)) AS (ix, z)",
    ).selectExpr(
        "event_type", "cast(ix as bigint) as ix",
        "z.sn as sn", "z.cs2 as cs2", "z.at2 as at2", "z.pw as pw",
    )


@query(
    "kql_series_vector_ops",
    _SERIES_COUNT_CTE
    + f""",
    b2 AS (SELECT event_type,
                  CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400)
                       AS BIGINT) AS i,
                  {sql_sum("value", "v")}
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
           GROUP BY 1, 2),
    s2 AS (SELECT s.event_type, s.i, s.y AS y1, COALESCE(b2.v, 0) AS y2
           FROM s LEFT JOIN b2 USING (event_type, i)),
    agg AS (
      SELECT event_type,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(y1 * y2 ORDER BY i)), (a, b) -> a + b) AS dp,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(y1 * y1 ORDER BY i)), (a, b) -> a + b)) AS m1,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(y2 * y2 ORDER BY i)), (a, b) -> a + b)) AS m2
      FROM s2 GROUP BY event_type)
    SELECT event_type, dp, m1, m2, dp / (m1 * m2) AS csim FROM agg
    """,
)
def kql_series_vector_ops(spark, sf_dir):
    """KQL ``series_dot_product`` / ``series_magnitude`` /
    ``series_cosine_similarity`` across two joined make-series outputs
    (daily count vs daily revenue). Sequential IEEE-754 double folds
    in index order (r13 precision fix) — the DuckDB twin replays the
    identical op sequence via list_reduce over list(... ORDER BY i),
    so both engines agree bit-for-bit."""
    t = load_tables(spark, sf_dir, ["events"])
    return kql_to_df(
        t,
        """
        let A = events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type;
        let B = events
        | make-series v=sum(value) on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type;
        A
        | join kind=inner (B) on event_type
        | extend dp = series_dot_product(n, v),
                 m1 = series_magnitude(n), m2 = series_magnitude(v),
                 csim = series_cosine_similarity(n, v)
        | project event_type, dp, m1, m2, csim
        """,
    )


@query(
    "kql_series_fill_fwd_bwd",
    f"""
    WITH w AS (
      SELECT event_type,
             CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400)
                  AS BIGINT) AS i,
             value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
        AND value >= 300
    ),
    b AS (SELECT event_type, i,
                 {sql_sum("value", "v")}
          FROM w GROUP BY 1, 2),
    spine AS (SELECT event_type, r.i
              FROM (SELECT DISTINCT event_type FROM b) t CROSS JOIN range(31) r(i)),
    s AS (SELECT spine.event_type, spine.i, b.v AS y
          FROM spine LEFT JOIN b USING (event_type, i))
    SELECT event_type, i AS ix,
      last_value(y IGNORE NULLS)
        OVER (PARTITION BY event_type ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
      first_value(y IGNORE NULLS)
        OVER (PARTITION BY event_type ORDER BY i
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fb
    FROM s
    """,
)
def kql_series_fill_fwd_bwd(spark, sf_dir):
    """KQL ``series_fill_forward`` / ``series_fill_backward`` over the
    sparse high-value series (real interior AND edge gaps at every sf):
    nulls copy the nearest non-null looking back / ahead, edge nulls
    with nothing to copy stay null. The oracle is the IGNORE-NULLS
    window pair; doubles are emitted directly (not printf strings —
    the round-9 formatter lesson)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | where value >= 300
        | make-series v=sum(value) default=null on ts
            from datetime(2024-01-01) to datetime(2024-02-01) step 1d
            by event_type
        | extend ff = series_fill_forward(v), fb = series_fill_backward(v)
        | project event_type, ff, fb
        """,
    )
    return df.selectExpr(
        "event_type", "posexplode(arrays_zip(ff, fb)) AS (ix, z)"
    ).selectExpr(
        "event_type", "cast(ix as bigint) as ix", "z.ff as ff", "z.fb as fb"
    )


@query(
    "kql_series_seasonal",
    _SERIES_COUNT_CTE
    + """,
    med AS (SELECT event_type, i % 7 AS ph, median(y) AS m
            FROM s GROUP BY 1, 2)
    SELECT s.event_type, s.i AS ix, med.m AS sv
    FROM s JOIN med ON s.event_type = med.event_type AND s.i % 7 = med.ph
    """,
)
def kql_series_seasonal(spark, sf_dir):
    """KQL ``series_seasonal(series, 7)`` — the repeating weekly
    pattern: element i = MEDIAN of all values at phase i mod 7
    (Kusto's documented statistic; even-sized classes interpolate the
    two middles, matching DuckDB ``median``/quantile_cont). The 31-day
    month gives classes of 5 AND 4 members, so both median branches
    execute."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend sv = series_seasonal(n, 7)
        | project event_type, sv
        """,
    )
    return df.selectExpr(
        "event_type", "posexplode(sv) AS (ix, sv)"
    ).selectExpr("event_type", "cast(ix as bigint) as ix", "sv")


@query(
    "kql_series_fit_2lines",
    _SERIES_COUNT_CTE
    + """,
    n_ AS (SELECT event_type, COUNT(*) AS n, var_pop(y) AS va FROM s GROUP BY 1),
    ks AS (SELECT event_type, n, va, k
           FROM n_ CROSS JOIN generate_series(2, 100) g(k) WHERE k <= n - 2),
    lf AS (SELECT ks.event_type, ks.k, ks.n, ks.va,
                  regr_slope(s.y, s.i) AS sl,
                  regr_intercept(s.y, s.i) AS b,
                  regr_syy(s.y, s.i) - regr_slope(s.y, s.i) * regr_sxy(s.y, s.i) AS rss
           FROM ks JOIN s ON s.event_type = ks.event_type AND s.i < ks.k
           GROUP BY 1, 2, 3, 4),
    rf AS (SELECT ks.event_type, ks.k,
                  regr_slope(s.y, s.i - ks.k) AS sl,
                  regr_intercept(s.y, s.i - ks.k) AS b,
                  regr_syy(s.y, s.i) - regr_slope(s.y, s.i) * regr_sxy(s.y, s.i) AS rss
           FROM ks JOIN s ON s.event_type = ks.event_type AND s.i >= ks.k
           GROUP BY 1, 2),
    tot AS (SELECT lf.event_type, lf.k, lf.n, lf.va,
                   lf.sl AS lsl, lf.b AS lb, rf.sl AS rsl, rf.b AS rb,
                   lf.rss + rf.rss AS rss,
                   ROW_NUMBER() OVER (PARTITION BY lf.event_type
                                      ORDER BY lf.rss + rf.rss, lf.k) AS rn
            FROM lf JOIN rf ON lf.event_type = rf.event_type AND lf.k = rf.k)
    SELECT event_type, CAST(k AS INT) AS split_idx,
           CASE WHEN va > 0
                THEN GREATEST(0.0e0, 1 - (rss / n) / va) ELSE 1.0e0 END AS rsquare,
           GREATEST(rss / n, 0.0e0) AS rvariance, va AS variance,
           lsl AS left_slope, lb AS left_interception,
           rsl AS right_slope, rb AS right_interception
    FROM tot WHERE rn = 1
    """,
)
def kql_series_fit_2lines(spark, sf_dir):
    """KQL ``series_fit_2lines_dynamic`` — best two-segment line fit
    (split minimizing summed RSS, each side fitted on its own 0-based
    axis, ties → smallest split). Engine: bind-once prefix-moment
    arrays + an O(n) split fold per row; oracle: regr_* aggregates
    over every candidate split with the RSS = Syy − slope·Sxy
    identity, argmin via a window."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend f = series_fit_2lines_dynamic(n)
        | project event_type, f
        """,
    )
    return df.selectExpr(
        "event_type", "f.split_idx as split_idx", "f.rsquare as rsquare",
        "f.rvariance as rvariance", "f.variance as variance",
        "f.left_slope as left_slope",
        "f.left_interception as left_interception",
        "f.right_slope as right_slope",
        "f.right_interception as right_interception",
    )


@query(
    "kql_series_fit_poly",
    _SERIES_COUNT_CTE
    + """,
    m AS (SELECT event_type,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(i) AS DOUBLE) AS s1,
                 CAST(SUM(i * i) AS DOUBLE) AS s2,
                 CAST(SUM(i * i * i) AS DOUBLE) AS s3,
                 CAST(SUM(i * i * i * i) AS DOUBLE) AS s4,
                 SUM(y) AS t0, SUM(i * y) AS t1, SUM(i * i * y) AS t2,
                 SUM(y * y) AS syy
          FROM s GROUP BY 1),
    d AS (SELECT *,
          (n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
             + s2 * (s1 * s3 - s2 * s2)) AS dm,
          (t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2)
             + s2 * (t1 * s3 - s2 * t2)) AS d0,
          (n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2)
             + s2 * (s1 * t2 - t1 * s2)) AS d1,
          (n * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2)
             + t0 * (s1 * s3 - s2 * s2)) AS d2
          FROM m)
    SELECT event_type, d2 / dm AS c2, d1 / dm AS c1, d0 / dm AS c0
    FROM d
    """,
)
def kql_series_fit_poly(spark, sf_dir):
    """KQL ``series_fit_poly(series, 2)`` — quadratic least squares via
    Cramer's rule on the 3×3 normal system (Faulhaber closed-form
    power sums in the engine, exact integer sums in the oracle — both
    exact doubles below 2^53, so the determinant arithmetic agrees).
    Degrees > 2 raise at translate time (documented dialect subset:
    closed forms only; the reference never calls fit_poly)."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend f = series_fit_poly(n, 2)
        | project event_type, f
        """,
    )
    return df.selectExpr(
        "event_type",
        "f.coefficients[0] as c2", "f.coefficients[1] as c1",
        "f.coefficients[2] as c0",
    )


@query(
    "kql_series_fft",
    _SERIES_COUNT_CTE
    + """,
    ks AS (SELECT DISTINCT event_type, r.k
           FROM s CROSS JOIN range(31) r(k))
    SELECT ks.event_type, ks.k AS ix,
           SUM(s.y * cos(2 * pi() * ((s.i * ks.k) % 31) / 31)) AS re,
           SUM(s.y * -sin(2 * pi() * ((s.i * ks.k) % 31) / 31)) AS im
    FROM ks JOIN s ON s.event_type = ks.event_type
    GROUP BY 1, 2
    """,
)
def kql_series_fft(spark, sf_dir):
    """KQL ``series_fft`` over the daily count series (forward DFT,
    numpy convention) — bind-once O(n²) array SQL with the EXACT
    integer angle reduction ((j·k) mod n), so libm stays
    well-conditioned and the relational DuckDB DFT agrees. The
    round-trip (``series_ifft``) identity is pinned in
    tests/test_kql_r13.py. Zero UDFs — the documented dial: arrays
    beyond make-series sizes belong in a numeric library offline."""
    t = load_tables(spark, sf_dir, ["events"])
    df = kql_to_df(
        t,
        """
        events
        | make-series n=count() on ts from datetime(2024-01-01)
            to datetime(2024-02-01) step 1d by event_type
        | extend f = series_fft(n)
        | project event_type, f
        """,
    )
    return df.selectExpr(
        "event_type", "posexplode(arrays_zip(f.re, f.im)) AS (ix, z)"
    ).selectExpr(
        "event_type", "cast(ix as bigint) as ix", "z.re as re", "z.im as im"
    )


@query(
    "kql_ipv6_ops",
    """
    WITH src AS (
      SELECT doc_id,
             doc_id % 4096 AS g3,
             doc_id % 89 + 1 AS g8,
             doc_id % 64 AS o2
      FROM documents
    )
    SELECT doc_id,
      '2001:0db8:' || printf('%04x', g3)
        || ':0000:0000:0000:0000:' || printf('%04x', g8) AS pe,
      '2001:0db8:' || printf('%04x', g3)
        || ':0000:0000:0000:0000:0000' AS pm,
      CASE WHEN g3 < 2048 THEN -1 ELSE 0 END AS c,
      TRUE AS mt,
      g3 >= 4032 AS inr,
      '0000:0000:0000:0000:0000:ffff:'
        || printf('%04x', 172 * 256 + o2) || ':0509' AS p4,
      o2 BETWEEN 16 AND 31 AS pv
    FROM src
    """,
)
def kql_ipv6_ops(spark, sf_dir):
    """Round-13 IPv6 family over synthesized addresses: ``parse_ipv6``
    (exploded canonical form), ``parse_ipv6_mask`` (own-vs-arg minimal
    prefix), ``ipv6_compare`` against a /37 range (sub-group masking:
    group 3 keeps its top 5 bits), ``ipv6_is_match`` at /32,
    ``ipv6_is_in_range`` against a /42, IPv4-mapped parsing
    (``172.x.5.9`` -> ::ffff:...), and ``ipv4_is_private`` (172.16/12
    membership). All pure array/string SQL — zero UDFs, zero shuffles;
    the DuckDB oracle computes the group arithmetic directly from the
    numeric source. Parser parity vs the Python ipaddress module is
    fuzz-pinned in tests/test_kql_ipv6.py."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        "documents"
        " | extend ip = strcat('2001:db8:', tohex(doc_id % 4096), '::',"
        " tohex(doc_id % 89 + 1)),"
        " ip4 = strcat('172.', tostring(doc_id % 64), '.5.9')"
        " | extend pe = parse_ipv6(ip),"
        " pm = parse_ipv6_mask(ip, 48),"
        " c = ipv6_compare(ip, '2001:db8:800::/37'),"
        " mt = ipv6_is_match(ip, '2001:db8::', 32),"
        " inr = ipv6_is_in_range(ip, '2001:db8:fc0::/42'),"
        " p4 = parse_ipv6(ip4),"
        " pv = ipv4_is_private(ip4)"
        " | project doc_id, pe, pm, c, mt, inr, p4, pv",
    )


@query(
    "kql_bag_ops",
    """
    SELECT c_custkey,
      '{"seg":"' || c_mktsegment || '","nat":' || c_nationkey
        || ',"key":' || c_custkey || '}' AS m,
      'seg,nat,key' AS ks,
      '{"seg":"X","nat":' || c_nationkey || '}' AS s,
      '{"seg":"' || c_mktsegment || '","key":' || c_custkey || '}' AS r
    FROM customer
    """,
)
def kql_bag_ops(spark, sf_dir):
    """Round-13 property-bag surgery over the JSON-string bag form:
    ``bag_merge`` (leftmost bag wins per key, first-appearance key
    order), ``bag_keys``, ``bag_set_key`` (in-place update),
    ``bag_remove_keys``. Values stay ints/strings here so the DuckDB
    oracle can build the expected JSON textually; the typed-embed
    corners (doubles, arrays, nested bags, escaping) are pinned in
    tests/test_kql_scalars_r13.py. Pure string SQL — zero UDFs."""
    t = load_tables(spark, sf_dir, ["customer"])
    return kql_to_df(
        t,
        "customer"
        " | extend b1 = pack('seg', c_mktsegment, 'nat', c_nationkey),"
        " b2 = pack('nat', -1, 'key', c_custkey)"
        " | extend m = bag_merge(b1, b2)"
        " | extend ks = strcat_array(bag_keys(m), ','),"
        " s = bag_set_key(b1, 'seg', 'X'),"
        " r = bag_remove_keys(m, pack_array('nat'))"
        " | project c_custkey, m, ks, s, r",
    )


@query(
    "kql_gamma_scalar_ops",
    """
    WITH g AS (
      SELECT l_linenumber,
             MAX(l_quantity) AS q
      FROM lineitem GROUP BY l_linenumber
    )
    SELECT l_linenumber,
      round(gamma(1.0 + q / 10.0), 6) AS gm,
      round(lgamma(q * 3.0 + 1.0), 6) AS lg,
      CASE WHEN CAST(l_linenumber AS VARCHAR) < '4' THEN -1
           WHEN CAST(l_linenumber AS VARCHAR) > '4' THEN 1
           ELSE 0 END AS sc,
      CAST(l_linenumber AS VARCHAR) || '-'
        || CAST(l_linenumber AS VARCHAR) || '-'
        || CAST(l_linenumber AS VARCHAR) AS rep,
      CASE WHEN l_linenumber = 3 THEN round(2.0 / 3, 6)
           WHEN l_linenumber IN (1, 2) THEN round(1.0 / 3, 6)
           ELSE 0.25 END AS ji
    FROM g
    """,
)
def kql_gamma_scalar_ops(spark, sf_dir):
    """Round-13 scalar batch 7 exhibit on a small exact domain
    (max(l_quantity) per line number — max is order-free, so both
    engines feed IDENTICAL doubles into gamma): ``gamma``/``loggamma``
    (engine Lanczos vs DuckDB's native gamma/lgamma — a genuinely
    foreign implementation pair, agreeing through round(...,6)),
    ``strcmp``, ``strrep``, ``jaccard_index``. The full-precision
    differential fuzz is tests/test_kql_gamma_fuzz.py."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return kql_to_df(
        t,
        "lineitem"
        " | summarize q = max(l_quantity) by l_linenumber"
        " | extend gm = round(gamma(1.0 + q / 10.0), 6),"
        " lg = round(loggamma(q * 3.0 + 1.0), 6),"
        " sc = strcmp(tostring(l_linenumber), '4'),"
        " rep = strrep(tostring(l_linenumber), 3, '-'),"
        " ji = jaccard_index(pack_array(l_linenumber, 1, 2),"
        " pack_array(2, 3))"
        " | project l_linenumber, gm, lg, sc, rep, ji",
    )


@query(
    "kql_evaluate_python",
    """
    SELECT doc_id,
           n_chars * 0.5 + 3.0 AS score,
           length(text) AS tl
    FROM documents
    """,
)
def kql_evaluate_python(spark, sf_dir):
    """Kusto's ``evaluate python(...)`` plugin (round 13) as ONE
    Arrow-batched mapInPandas pass — the plugin contract verbatim
    (``df``/``kargs`` in, ``result`` out, typeof output schema, a
    triple-backtick script with real python ``//`` and ``|`` syntax
    protected from the KQL layer). Row-wise script, so the DuckDB
    oracle expresses the same arithmetic relationally and the result
    is chunking-invariant (the documented parity dial for
    aggregating scripts: repartition deliberately)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        """
        documents
        | project doc_id, n_chars, text
        | evaluate python(typeof(doc_id:long, score:real, tl:long), ```
        result = df[['doc_id']].copy()
        result['score'] = df['n_chars'] * kargs['m'] + kargs['b']
        result['tl'] = df['text'].str.len()
        ```, dynamic({"m": 0.5, "b": 3.0}))
        """,
    )


@query(
    "kql_parse_path_bytes",
    """
    WITH src AS (
      SELECT doc_id, n_chars, text, source,
             CASE WHEN n_chars >= 1073741824 THEN 1073741824.0
                  WHEN n_chars >= 1048576 THEN 1048576.0
                  WHEN n_chars >= 1024 THEN 1024.0 ELSE 1.0 END AS dv,
             CASE WHEN n_chars >= 1073741824 THEN 'GB'
                  WHEN n_chars >= 1048576 THEN 'MB'
                  WHEN n_chars >= 1024 THEN 'KB' ELSE 'Bytes' END AS un
      FROM documents
    )
    SELECT doc_id,
      '/data/' || source AS dirp,
      doc_id || '.txt' AS fn,
      'txt' AS ext,
      regexp_replace(CAST(round(n_chars / dv, 1) AS VARCHAR),
                     '\\.0+$', '') || ' ' || un AS fb,
      (doc_id % 3) * 86400 + 3723.0 AS ts,
      CASE WHEN instr(text, 'the') > 0 THEN 0
           WHEN instr(text, 'and') > 0 THEN 1
           WHEN instr(text, 'zz9qq') > 0 THEN 2
           ELSE -1 END AS hai
    FROM src
    """,
)
def kql_parse_path_bytes(spark, sf_dir):
    """Round-13 scalar batch 8 exhibit: ``parse_path`` (the 7-key bag,
    fields read back via extract_json), ``format_bytes`` (1024-ladder
    humanize, all-zero fraction stripped), ``totimespan``
    ('d.hh:mm:ss' string form -> engine seconds) and
    ``has_any_index`` (first containing term's array index). All pure
    string/arithmetic SQL; the DuckDB oracle rebuilds each value
    from the numeric/text source directly."""
    t = load_tables(spark, sf_dir, ["documents"])
    return kql_to_df(
        t,
        "documents"
        " | extend pp = parse_path(strcat('/data/', source, '/',"
        " tostring(doc_id), '.txt'))"
        " | extend dirp = extract_json('$.DirectoryPath', pp),"
        " fn = extract_json('$.Filename', pp),"
        " ext = extract_json('$.Extension', pp),"
        " fb = format_bytes(n_chars, 1),"
        " ts = totimespan(strcat(tostring(doc_id % 3), '.01:02:03')),"
        " hai = has_any_index(text, pack_array('the', 'and', 'zz9qq'))"
        " | project doc_id, dirp, fn, ext, fb, ts, hai",
    )


@query(
    "kql_convert_units",
    """
    WITH g AS (
      SELECT l_returnflag,
             MAX(l_quantity) AS q, MAX(l_extendedprice) AS p
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
      round(q * 1.0 / 0.3048, 6) AS ft,
      round(p * 0.45359237 / 1.0, 6) AS kg,
      round(q * 0.2777777777777778 / 0.44704, 6) AS mph,
      round(q * 0.017453292519943295 / 1.0, 6) AS rad,
      round(((q + 459.67) * 5 / 9) - 273.15, 6) AS cels
    FROM g
    """,
)
def kql_convert_units(spark, sf_dir):
    """Round-13 ``convert_*`` unit family (UnitsNet names, constant
    units resolved to exact SI factors at TRANSLATE time — one
    multiply per conversion, temperature one affine chain). The
    DuckDB oracle repeats the identical x * from / to op sequence
    with the same double factors, so values agree bit-for-bit
    through round(...,6). max() keeps the input domain order-free
    exact."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return kql_to_df(
        t,
        "lineitem"
        " | summarize q = max(l_quantity), p = max(l_extendedprice)"
        " by l_returnflag"
        " | extend ft = round(convert_length(q, 'Meter', 'Foot'), 6),"
        " kg = round(convert_mass(p, 'Pound', 'Kilogram'), 6),"
        " mph = round(convert_speed(q, 'KilometerPerHour',"
        " 'MilePerHour'), 6),"
        " rad = round(convert_angle(q, 'Degree', 'Radian'), 6),"
        " cels = round(convert_temperature(q, 'DegreeFahrenheit',"
        " 'DegreeCelsius'), 6)"
        " | project l_returnflag, ft, kg, mph, rad, cels",
    )
