"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage:
    python bench.py                      # every HEADLINE row
    python bench.py <query> [query ...]  # just the named catalog rows

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Each query is executed to completion
(count-collected) so the timing covers the full scan→shuffle→agg path.
Named rows get the same protocol, so their numbers compare with a full
run on the same box.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # scan + filter + agg (TPC-H Q1 shape)
    "q1_pricing_summary",
    # multi-table joins (Q5/Q3 shapes)
    "q5_revenue_by_nation",
    "q3_shipping_priority",
    "q8_market_share",
    "q18_large_volume_customers",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "j1_broadcast_dim_join",
    "j_asof_join_events",
    # skew pair: salted must land within ~2x of the uniform-key asof row
    "j_asof_hotkey_native",
    "j_asof_hotkey_salted",
    "j_interval_join",
    # windows over events
    "w2_salted_cumsum_events",
    "w5_sessionize_events",
    "a9_argmax_latest_order",
    # SCD2 merge batch
    "scd2_merge_changeset",
    # incremental maintenance / CDC
    "inc_agg_maintenance",
    "cdc_table_diff",
    "scd2_temporal_join",
    # LLM-pipeline layer
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_contamination",
    "sim_cosine_topk",
    "sim_numpy_topk",
    "pipeline_corpus_prep",
    "pipeline_curate_corpus",
    "pipeline_pretraining_batches",
    "t_span_dedup",
    "t_pack_sequences",
    "t_tfidf_topk",
    "t_dsir_scores",
    "t_unigram_drift",
    "t_bigram_xent",
    "w_funnel_progress",
    "dq_orders_suite",
    # forecasting baselines + tune/ensemble (round 3)
    "ts_seasonal_naive",
    "ts_conformal_intervals",
    "ts_ensemble_forecast",
    # SFT dataset prep (round 3)
    "sft_render_zephyr",
    # time series + recursion
    "ts_spine_gap_fill",
    "ts_make_series",
    "graph_bom_closure",
    "o5_percentiles_doc_length",
    # model-eval hot path (round 6): rewritten in r4/r5/r6 with no bench
    # row to catch a perf regression — now first-class headline rows
    "ml_classification_report",
    "lm_token_f1",
    # KQL per-record array processing (round 7)
    "kql_mv_apply",
    # KQL series trend fit over make-series arrays (round 8): the
    # higher-order-function eval path with the bind-once kernel
    "kql_series_fit_line",
    # round 9: single-plan GROUPING SETS facet + the weighted-CDF
    # percentile operator (window + conditional-min aggregate)
    "kql_facet_by",
    "a_weighted_percentile",
    # round 10: sequential pattern matching (grouped-Arrow state
    # machine) + the pre-collapsed grouping-sets cohort differ
    "kql_scan_funnel",
    "kql_diffpatterns",
    # round 10 (second/third batch): period-over-period retention on
    # the interval-merge kernel family + graph patterns compiled to
    # join trees
    "kql_activity_metrics",
    "kql_graph_match",
    # round 12 refresh (r11 verdict ask #2): the expensive r11-new rows
    # enter the headline set so round-over-round tracking covers the
    # newest surface — sequential state variables (MapInPandas + JVM
    # state windows), the bucketed run-rank kernel, the bind-once FIR
    # array kernel, bounded-branch shortest paths, and the shared-prefix
    # multi-branch fork (timed via its catalog row)
    "kql_scan_declare",
    "kql_row_rank",
    "kql_series_fir",
    "kql_graph_shortest_paths",
    "kql_fork",
    # round 13: the newest kernels enter the headline set — the
    # prefix-moment two-segment fit (the most expression-heavy r13
    # series kernel), the IEEE-fold vector ops, the full-oracle
    # sign-LSH semantic dedup, and the geohash-blocked radius join
    "kql_series_fit_2lines",
    "kql_series_vector_ops",
    "sim_semantic_dedup",
    "geo_radius_join",
    # round 13 second half: the python plugin (one mapInPandas pass),
    # the interpreted-HOF IPv6 parse (the costliest r13 scalar shape),
    # and the JSON-string bag surgery
    "kql_evaluate_python",
    "kql_ipv6_ops",
    "kql_bag_ops",
]


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    import __spark_entry__ as E
    from azuredataengineering_deeplearning_spark import get_spark

    qs = E.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"not in catalog: {', '.join(unknown)}")
    spark = get_spark(app_name="ades-bench")

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "4"))
    timings: dict[str, float] = {}
    for name in names or HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        df.count()  # warm: plan + scan caches JIT'd code paths
        # median of `reps` timed runs — sub-second queries at this scale
        # sit in a ±20% JVM-jitter band, so a single sample makes
        # round-over-round comparisons noise-dominated. The max sample
        # is DISCARDED before taking the median (r4/r5 both recorded
        # phantom regressions from machine-load spikes during the
        # driver sweep; one loaded rep can no longer distort a row)
        samples = []
        for _ in range(reps):
            t0 = time.time()
            df.count()
            samples.append(time.time() - t0)
        samples.sort()
        kept = samples[:-1] if len(samples) >= 3 else samples
        timings[name] = round(kept[len(kept) // 2], 3)
        # drop this query's persisted intermediates so later queries are
        # measured without accumulated executor-memory pressure
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
