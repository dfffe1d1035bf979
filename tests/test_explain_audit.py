"""Plan audits (SURVEY §4): the physical plans the engine promises.

These assert structural properties of executed plans — broadcast for
dims, pushdown at scans, single shuffle for co-partitioned agg+join —
the properties that decide whether a query survives a 100x scale-up.
"""

import pyspark.sql.functions as F

import __spark_entry__ as E


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims(spark, sf_dir):
    plan = _plan(E.queries()["q5_revenue_by_nation"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region never shuffle the fact side


def test_broadcast_dim_join_no_shuffle_of_dim(spark, sf_dir):
    plan = _plan(E.queries()["j1_broadcast_dim_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_semi_join_is_semi(spark, sf_dir):
    plan = _plan(E.queries()["j3_semi_join_observed"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(E.queries()["o4_topk_by_value"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no full global sort for top-k


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(E.queries()["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_scan_prunes_columns(spark, sf_dir):
    plan = _plan(E.queries()["s1_scan_prune_filter"](spark, sf_dir))
    # ReadSchema carries only the 3 projected columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity"}


def test_j2_agg_join_shares_shuffle(spark, sf_dir):
    # the groupBy and the join key are identical → Catalyst reuses the
    # exchange; at most one shuffle of the fact table in the whole plan
    plan = _plan(E.queries()["j2_multikey_join"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2


def test_window_ops_single_shuffle(spark, sf_dir):
    plan = _plan(E.queries()["w7_expanding_mean"](spark, sf_dir))
    assert plan.count("Exchange") <= 1  # one shuffle on user_id, nothing else


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    """LSH candidates must come from an equi bucket-join, never n²."""
    from azuredataengineering_deeplearning_spark.operators import dedup as DD
    from azuredataengineering_deeplearning_spark.plans import assert_no_cartesian
    from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    sigs = DD.minhash_signatures(docs, "doc_id", "text")
    assert_no_cartesian(DD.lsh_candidate_pairs(sigs, "doc_id"))


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    """The corpus streams once; the query side is broadcast."""
    plan = _plan(E.queries()["sim_cosine_topk"](spark, sf_dir))
    assert "Broadcast" in plan


def test_salted_cumsum_partitionings(spark, sf_dir):
    """Salted cumsum: window exchanges on (key, salt) + tiny offset join;
    the big side must not re-shuffle for the final join."""
    plan = _plan(E.queries()["w2_salted_cumsum_events"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3


def test_q7_both_nation_aliases_broadcast(spark, sf_dir):
    # supplier + 2 nation aliases broadcast; only fact-fact edges shuffle
    plan = _plan(E.queries()["q7_volume_shipping"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_q8_star_join_broadcasts_all_dims(spark, sf_dir):
    # part, supplier, both nation aliases, region: 5 of the 7 joins stay
    # broadcast — the 100-TB plan shuffles only lineitem⋈orders⋈customer
    plan = _plan(E.queries()["q8_market_share"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _plan(E.queries()["q6_forecast_revenue"](spark, sf_dir))
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({frag})" in plan, plan


def test_q18_aggregates_lineitem_once(spark, sf_dir):
    # the HAVING subquery and the main aggregate share one lineitem
    # aggregation by order key: one lineitem scan, no semi join
    plan = _plan(E.queries()["q18_large_volume_customers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "LeftSemi" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q22_anti_join_no_shuffled_cartesian(spark, sf_dir):
    # scalar subquery = broadcast nested-loop of a 1-row relation (fine);
    # a shuffled CartesianProduct would not be
    plan = _plan(E.queries()["q22_inactive_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q2_single_lineitem_scan(spark, sf_dir):
    # per-part best cost rides a window over the (pk, sk) aggregate —
    # a second groupBy+join branch would scan lineitem twice
    plan = _plan(E.queries()["q2_min_cost_supplier"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Window" in plan


def test_q20_single_lineitem_scan_and_semi_before_agg(spark, sf_dir):
    plan = _plan(E.queries()["q20_part_promotion_suppliers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "LeftSemi" in plan


def test_q21_one_window_pass_single_scan(spark, sf_dir):
    # the exists/not-exists double correlation folds into one l_orderkey
    # window pass; the naive three-branch plan had 8 exchanges + 3 scans
    plan = _plan(E.queries()["q21_waiting_suppliers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_q12_shipdate_range_pushed(spark, sf_dir):
    plan = _plan(E.queries()["q12_late_shipment_priority"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_interval_join_is_hash_join(spark, sf_dir):
    # bucketized interval join must plan as an equi hash join, never a
    # BroadcastNestedLoopJoin / CartesianProduct (the naive BETWEEN plan)
    plan = _plan(E.queries()["j_interval_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_q9_dims_broadcast(spark, sf_dir):
    plan = _plan(E.queries()["q9_product_type_profit"](spark, sf_dir))
    # part, supplier, nation broadcast; lineitem never shuffles for them
    assert plan.count("BroadcastHashJoin") >= 3


def test_engine_profile_has_aqe(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    # the optimizer-looping conf must never be set (defaults to false)
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "false"
        )
        == "false"
    )


def test_pack_sequences_partitioned_window(spark, sf_dir):
    plan = _plan(E.queries()["t_pack_sequences"](spark, sf_dir))
    # the pack window partitions by the pack group — one keyed exchange,
    # never a single-partition global window
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_span_dedup_docs_never_shuffle(spark, sf_dir):
    plan = _plan(E.queries()["t_span_dedup"](spark, sf_dir))
    # docs meet the tiny common-span set via broadcast; the only
    # exchanges belong to the common-set aggregate
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tfidf_explodes_corpus_once(spark, sf_dir):
    plan = _plan(E.queries()["t_tfidf_topk"](spark, sf_dir))
    # doc frequency is a window over the reduced (doc, token) frame —
    # the corpus explode (Generate) must appear exactly once, and the
    # corpus doc-count broadcasts. (r13-opt A/B'd the vocab-aggregate +
    # broadcast-join-back alternative and kept the window: see the
    # operator docstring.)
    assert plan.count("Generate") == 1
    assert "BroadcastExchange" in plan


def test_hash_group_split_map_only(spark, sf_dir):
    plan = _plan(E.queries()["u_hash_group_split"](spark, sf_dir))
    assert "Exchange" not in plan


def test_plan_summary_reports_shape(spark):
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.plans.audit import plan_summary
    from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

    li = read_parquet(
        spark, "/root/testdata/sf0.001/lineitem.parquet",
        columns=["l_returnflag", "l_quantity"],
    )
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    df.collect()  # AQE finalizes codegen only after THIS plan executes
    s = plan_summary(df)
    assert s["scans"] == 1 and s["shuffles"] == 1
    assert not s["cartesian"] and not s["python_row_eval"]
    assert s["scan_columns"] == [["l_quantity", "l_returnflag"]]  # pruned scan
    assert s["codegen_spans"] >= 1


def test_runtime_bloom_filter_knob_injects_pruning(spark):
    """The deployment knob documented in session.py: with runtime bloom
    filters ON, a selective dim side injects a row-level filter into the
    fact scan side of a shuffle join. Asserted here so the knob's
    availability (and our default-off choice) stays a tested fact, not
    folklore."""
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

    conf = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    spark.conf.set(conf, "true")
    # default 10GB application-side floor makes the rule a no-op on test
    # data; zero it so the injection itself is what we assert
    spark.conf.set(thr, "0")
    # force a shuffle join so the bloom rule applies (broadcast joins skip it)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = read_parquet(spark, "/root/testdata/sf0.01/lineitem.parquet")
        part = read_parquet(spark, "/root/testdata/sf0.01/part.parquet").filter(
            F.col("p_size") == 1  # selective
        )
        df = li.join(part, li.l_partkey == part.p_partkey).groupBy(
            "p_size"
        ).count()
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower() or "BloomFilter" in plan, plan[:2000]
    finally:
        # UNSET, not set-to-captured: `spark.conf.get(conf, "false")`
        # returns the FALLBACK for an unset key, hiding the build's
        # real default (true on Spark 4.1) — restoring that pinned the
        # session to bloom-filters-off and silently changed every later
        # plan in the session (r14: test_plan_snapshots drifted on
        # pipeline_curate_corpus, whose anti-join carries two
        # default-on runtime bloom filters at sf0.001).
        spark.conf.unset(conf)
        spark.conf.unset(thr)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_asof_salted_no_nested_loop_and_bounded_shuffles(spark, sf_dir):
    # the hot-key as-of must stay equi-join + window shaped: no
    # cartesian/BNL anywhere, and the carry-spine join back is an
    # equi-join on (key, bucket)
    plan = _plan(E.queries()["j_asof_hotkey_salted"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # per-(key,bucket) windows — the hot key is NOT a single partition
    assert "Window" in plan


def test_bm25_topk_is_take_ordered_with_broadcast_stats(spark, sf_dir):
    plan = _plan(E.queries()["t_bm25_topk"](spark, sf_dir))
    # top-k must not be a global sort, and the df/stats aggregates
    # broadcast back onto the (doc, term) frame
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_backtest_models_single_shuffle(spark, sf_dir):
    plan = _plan(E.queries()["ts_backtest_models"](spark, sf_dir))
    # all three candidates are window expressions over one series sort;
    # no join, no cartesian — exchanges: daily agg + window + final agg
    assert "CartesianProduct" not in plan
    assert "Join" not in plan or "BroadcastHashJoin" in plan
    assert plan.count("Window") >= 1


def test_ensemble_forecast_broadcast_weights(spark, sf_dir):
    plan = _plan(E.queries()["ts_ensemble_forecast"](spark, sf_dir))
    # backtest weights (O(series) rows) must broadcast onto the
    # exploded forecast frame, and the explode must not cartesian
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the horizon explode is distributed


def test_token_f1_partial_aggregates_no_cartesian(spark, sf_dir):
    plan = _plan(E.queries()["lm_token_f1"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # token-count aggregates must partial-aggregate before the shuffle
    assert plan.count("HashAggregate") >= 4


def _window_first_args(plan: str) -> list[str]:
    """First argument of every windowspecdefinition in the plan — the
    leading partition column, or the order column if unpartitioned."""
    import re

    return re.findall(r"windowspecdefinition\((\w+)#", plan)


def test_auc_reduces_before_ordering(spark, sf_dir):
    plan = _plan(E.queries()["ml_binary_auc"](spark, sf_dir))
    # the distinct-score reduction must come before any window
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    # per-partition offsets attach via broadcast, never a shuffle join
    assert "SortMergeJoin" not in plan
    # no unpartitioned window over the distinct-score frame: every
    # window must partition on the deterministic quantile-bounds bucket
    # (__b). For continuous scores distinct cardinality ~ row count, so
    # a window leading with the score column would serialize onto one
    # task.
    firsts = _window_first_args(plan)
    assert firsts and all(a == "__b" for a in firsts), firsts


def test_threshold_sweep_no_global_score_window(spark, sf_dir):
    plan = _plan(E.queries()["ml_threshold_sweep"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    firsts = _window_first_args(plan)
    assert firsts and all(a == "__b" for a in firsts), firsts


def test_ipv4_lookup_is_equi_join_no_window(spark, sf_dir):
    # LPM as equi-joins + decomposable max(struct): the plan must show
    # a broadcast HASH join against the CIDR dim and NO nested-loop /
    # range join and NO per-row window sort
    plan = _plan(E.queries()["kql_ipv4_lookup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # max(struct) aggregate, not row_number


def test_graph_match_is_static_join_tree(spark, sf_dir):
    # each hop = one equi-join; the small sides broadcast; no
    # iteration artifacts, no cartesian
    plan = _plan(E.queries()["kql_graph_match"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_shortest_paths_union_plus_one_pair_window(spark, sf_dir):
    # bounded branch UNION of static join trees + exactly the min-hop
    # selection window, PARTITIONED on the endpoint pair (never an
    # unpartitioned window), no cartesian/BNLJ
    plan = _plan(E.queries()["kql_graph_shortest_paths"](spark, sf_dir))
    assert "Union" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan and "__sp_s" in plan  # keyed on the pair


def test_row_rank_no_unpartitioned_window_no_minted_id_join(spark, sf_dir):
    # the run-rank kernel: within-bucket windows partitioned by __rb
    # (unpartitioned-window absence is enforced by tools/plan_lint.py);
    # here pin that there is NO join back on a minted row id — the
    # failure shape the first implementation had
    plan = _plan(E.queries()["kql_row_rank"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "monotonically_increasing_id" not in plan


def test_scan_declare_single_python_pass(spark, sf_dir):
    # ONE Arrow-packed python pass (the scan matcher) + JVM windows for
    # the state variables — not a second python stage per variable
    plan = _plan(E.queries()["kql_scan_declare"](spark, sf_dir))
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_series_rows_single_group_exchange(spark, sf_dir):
    # the series_* array kernels are row-local: one grouping aggregate
    # exchange, then pure higher-order SQL — no joins, no windows
    for q in ("kql_series_outliers", "kql_series_fir"):
        plan = _plan(E.queries()[q](spark, sf_dir))
        assert "Join" not in plan, q
        assert "Window" not in plan, q


def test_series_decompose_rows_join_window_free(spark, sf_dir):
    # round 12: the decompose-family kernels are row-local array SQL —
    # after the make-series grouping aggregate there are NO joins and
    # NO windows in the physical plan (trend fit, class means, ACF
    # autodetection all fold inside the row)
    for q in (
        "kql_series_decompose",
        "kql_series_decompose_forecast",
        "kql_series_periods_detect",
        "kql_series_decompose_anomalies_seasonal",
    ):
        plan = _plan(E.queries()[q](spark, sf_dir))
        assert "Join" not in plan, q
        assert "Window" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_scan_output_last_partitioned_window_only(spark, sf_dir):
    # output=last adds ONE row_number window partitioned on
    # (keys, match_id) — never an unpartitioned window, no join back
    plan = _plan(E.queries()["kql_scan_output_last"](spark, sf_dir))
    assert plan.count("MapInPandas") == 1  # still one python pass
    assert "__scanlast" in plan
    assert "SortMergeJoin" not in plan
