"""Scale probe: measure the engine's scale-critical operators on
generated multi-million-row data (larger than the driver testdata).

This backs SCALING.md's claims with reproducible local numbers — the
skew-beating salted cumsum, broadcast-vs-shuffle dim lookup, and
IVF-vs-brute-force ANN pruning. Synthetic inputs are generated
distributed (spark.range — never driver-side lists) into a temp dir.

Usage: python tools/scale_probe.py [--rows 20000000] [--vectors 200000]
       python tools/scale_probe.py --rows 2000000 --only scan_hotkey
       python tools/scale_probe.py --only clusters
Prints one JSON line per probe plus a closing summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 2), out


def scan_hotkey_probes(spark, rows: int, results: dict) -> None:
    """KQL ``scan`` on a hot key: ``rows`` events in ts order, every
    even id on user 0 (half of the rows), the rest over 999 users.

    - ``scan_hotkey_selective``: 2% of rows hit one of two steps
      (xxhash buckets), the realistic funnel shape;
    - ``scan_hotkey_dense``: the two steps alternate along user 0's ts
      order, so every hot-key row is matched (checked) and no other
      key completes a match — the worst case for the matcher.

    Each prints the matched-row count and a checksum over
    (ts, match_id), so two versions of the engine can be compared."""
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.operators.scan import (
        scan_steps,
    )

    ev = spark.range(rows).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(F.col("id") % 1000)
        .alias("user_id"),
        F.col("id").alias("ts"),
        (F.abs(F.xxhash64("id")) % 100).alias("bucket"),
        ((F.col("id") / 2).cast("long") % 2).alias("phase"),
    )
    shapes = {
        "scan_hotkey_selective": [F.col("bucket") == 0, F.col("bucket") == 1],
        "scan_hotkey_dense": [F.col("phase") == 0, F.col("phase") == 1],
    }
    hot_rows = (rows + 1) // 2
    for name, steps in shapes.items():

        def _run():
            return (
                scan_steps(ev, ["user_id"], [("ts", True)], steps)
                .agg(
                    F.count("*").alias("matched"),
                    F.sum((F.col("user_id") == 0).cast("long")).alias("hot"),
                    F.sum(F.col("ts") * 31 + F.col("match_id")).alias(
                        "checksum"
                    ),
                )
                .first()
            )

        t, r = timed(_run)
        t2, r = timed(_run)
        if name == "scan_hotkey_dense" and r["hot"] != hot_rows:
            raise SystemExit(
                f"{name}: {r['hot']} of {hot_rows} hot-key rows matched"
            )
        results[name] = t2
        print(json.dumps({"probe": name, "rows": rows, "hot_rows": hot_rows,
                          "matched": r["matched"], "checksum": r["checksum"],
                          "sec_cold": t, "sec": t2}))


def cluster_probes(spark, n_edges: int, tmp: str, results: dict) -> None:
    """Connected components (``dedup.resolve_clusters``) on four graph
    shapes. Each prints its node and component counts and a checksum
    over the (node, cluster_id) map, so two versions of the engine can
    be compared.

    - ``cluster_resolution``: ``n_edges`` edges of 4-cliques plus a
      1000-node chain;
    - ``cluster_hub_bail``: a 100k-degree hub fed by a 2000-node chain;
    - ``cluster_multi_round``: a 200k-node sorted chain and 100 chains
      of 2000 with permuted ids;
    - ``minhash_overflow``: ``minhash_near_duplicates`` →
      ``resolve_clusters`` on a 20k-document generated corpus, once at
      the default driver bound and once with ``_DRIVER_EDGES`` lowered
      below the pair count, so the bounded collect of the pairs
      overflows and the edge list is checkpointed (cold and warm
      times for each)."""
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.operators import dedup as DD

    # ---- near-dup cluster resolution over a pair graph ------------
    # cliques of 4 (the realistic near-dup shape) + one 1000-node
    # chain (the diameter worst case for plain propagation)
    pairs = (
        spark.range(n_edges)
        .select(
            F.col("id").alias("id_a"),
            (F.col("id") - F.col("id") % 4).alias("id_b"),
        )
        .union(
            spark.range(n_edges, n_edges + 1000).select(
                F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
            )
        )
    )

    def _components(df):
        return (
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("cluster_id").alias("comps"),
                F.max("cluster_id").alias("mx"),
                F.sum(F.xxhash64("node", "cluster_id") % 1_000_003).alias("checksum"),
            )
            .collect()[0]
        )

    t, out = timed(lambda: _components(DD.resolve_clusters(pairs)))
    results["cluster_resolution"] = t
    # one component per four-id clique plus the chain's, whose
    # label (its min, n_edges) is the largest
    assert (out["n"], out["comps"], out["mx"]) == (
        n_edges + 1001, (n_edges + 3) // 4 + 1, n_edges
    ), out
    print(
        json.dumps(
            {
                "probe": "cluster_resolution",
                "edges": n_edges + 1000,
                "nodes": out["n"],
                "components": out["comps"],
                "checksum": out["checksum"],
                "sec": t,
            }
        )
    )

    # ---- adversarial hub: driver bound ----------------------------
    # A 100k-degree hub fed by a 2000-node chain: the 102k edges
    # overflow the driver bound (_DRIVER_EDGES, 50k), so distributed
    # rounds run until the cluster graph fits; the hub's spokes then
    # share one label and the driver finishes the chain. Every
    # collect is limit(_DRIVER_EDGES+1), so the driver never holds
    # more than ~50k rows (~1 MB) whatever the hub degree.
    hub_deg = 100_000
    hub_id = 10_000_000
    spokes = spark.range(hub_deg).select(
        F.lit(hub_id).alias("id_a"),
        (F.col("id") + hub_id + 1).alias("id_b"),
    )
    chain_len = 2_000
    chain = spark.range(chain_len).select(
        F.when(F.col("id") == 0, F.lit(0))
        .otherwise(F.col("id") + 20_000_000)
        .alias("id_a"),
        F.when(F.col("id") == chain_len - 1, F.lit(hub_id))
        .otherwise(F.col("id") + 20_000_001)
        .alias("id_b"),
    )
    hub_pairs = spokes.union(chain)
    t, labels = timed(lambda: _components(DD.resolve_clusters(hub_pairs)))
    results["cluster_hub_bail"] = t
    assert labels["comps"] == 1, f"hub component split: {labels['comps']}"
    assert labels["mx"] == 0, f"hub component mislabeled: max={labels['mx']}"
    print(
        json.dumps(
            {
                "probe": "cluster_hub_bail",
                "hub_degree": hub_deg,
                "chain": chain_len,
                "nodes": labels["n"],
                "components": labels["comps"],
                "checksum": labels["checksum"],
                "sec": t,
            }
        )
    )

    # ---- multi-round: cluster graphs over the bound for rounds ----
    # A 200k-node chain with sorted ids keeps every label distinct
    # until it reaches 0 (12 rounds before the cluster graph fits);
    # 100 chains of 2000 with ids permuted by i * 7919 mod 1000003
    # put class labels far from class edges, which only the hook
    # step of a round crosses at once (6 rounds).
    n_chain, n_runs, run_len, prime = 200_000, 100, 2_000, 1_000_003
    sorted_chain = spark.range(n_chain - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    t, labels = timed(lambda: _components(DD.resolve_clusters(sorted_chain)))
    sorted_checksum = labels["checksum"]
    assert (labels["n"], labels["comps"], labels["mx"]) == (n_chain, 1, 0), labels
    results["cluster_sorted_chain"] = t
    perm = lambda c: (c * 7919) % prime  # noqa: E731 - a bijection below prime
    permuted = (
        spark.range(n_runs * run_len)
        .filter(F.col("id") % run_len != run_len - 1)
        .select(perm(F.col("id")).alias("id_a"), perm(F.col("id") + 1).alias("id_b"))
    )
    t2, plabels = timed(lambda: _components(DD.resolve_clusters(permuted)))
    want_mx = max(
        min(perm(i) for i in range(r * run_len, (r + 1) * run_len))
        for r in range(n_runs)
    )
    assert (plabels["n"], plabels["comps"], plabels["mx"]) == (
        n_runs * run_len, n_runs, want_mx
    ), plabels
    results["cluster_permuted_chains"] = t2
    print(
        json.dumps(
            {
                "probe": "cluster_multi_round",
                "sorted_chain_nodes": n_chain,
                "sorted_chain_sec": t,
                "sorted_chain_checksum": sorted_checksum,
                "permuted_chains": n_runs,
                "permuted_chain_nodes": run_len,
                "permuted_sec": t2,
                "permuted_checksum": plabels["checksum"],
            }
        )
    )

    # ---- MinHash pairs into components, over the driver bound -----
    # doc i belongs to group i // 4; all 60 words come from the group,
    # except that docs 1-3 of a group each replace one word, so every
    # pair in a group verifies (jaccard >= 0.8) and groups are apart.
    # Six pairs per group: n_docs * 1.5 verified pairs.
    n_docs = 20_000
    docs_path = f"{tmp}/near_docs"
    spark.range(n_docs).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 59), j -> CASE "
        "WHEN id % 4 != 0 AND j = 10 + (id % 4) * 12 THEN concat('x', id) "
        "ELSE concat('t', pmod(xxhash64(id DIV 4, j), 5000)) END)) AS text",
    ).write.mode("overwrite").parquet(docs_path)
    near = spark.read.parquet(docs_path)
    default = DD._DRIVER_EDGES
    out = {}
    for mode, bound in (("driver", default), ("overflow", n_docs // 4)):
        DD._DRIVER_EDGES = bound

        def _run():
            with DD.cache_scope():
                pairs = DD.minhash_near_duplicates(near, "doc_id", "text", threshold=0.8)
                return _components(DD.resolve_clusters(pairs))

        try:
            out[f"sec_cold_{mode}"], _ = timed(_run)
            out[f"sec_{mode}"], labels = timed(_run)
        finally:
            DD._DRIVER_EDGES = default
        assert (labels["n"], labels["comps"]) == (n_docs, (n_docs + 3) // 4), labels
        out[f"checksum_{mode}"] = labels["checksum"]
        results[f"minhash_{mode}"] = out[f"sec_{mode}"]
    print(
        json.dumps(
            {
                "probe": "minhash_overflow",
                "docs": n_docs,
                "overflow_bound": n_docs // 4,
                "nodes": labels["n"],
                "components": labels["comps"],
                **out,
            }
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--vectors", type=int, default=200_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--edges", type=int, default=2_000_000)
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--scores", type=int, default=4_000_000)
    ap.add_argument("--only", choices=["scan_hotkey", "clusters"],
                    help="run just this probe group")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark import get_spark
    from azuredataengineering_deeplearning_spark.operators import windows as W
    from azuredataengineering_deeplearning_spark.operators import similarity as SIM

    spark = get_spark(app_name="scale-probe")
    results: dict[str, float] = {}
    if args.only == "clusters":
        with tempfile.TemporaryDirectory() as tmp:
            cluster_probes(spark, args.edges, tmp, results)
    else:
        scan_hotkey_probes(spark, args.rows, results)
    if args.only:
        print(json.dumps({"metric": "scale_probe", "only": args.only,
                          "results": results}))
        spark.stop()
        return

    with tempfile.TemporaryDirectory() as tmp:
        # ---- skewed events: 50% of rows on ONE key --------------------
        ev_path = f"{tmp}/events"
        (
            spark.range(args.rows)
            .select(
                F.when(F.col("id") % 2 == 0, 0)
                .otherwise(F.col("id") % 1000)
                .alias("user_id"),
                F.col("id").alias("ts"),
                (F.rand(7) * 100).alias("value"),
            )
            .write.mode("overwrite").parquet(ev_path)
        )
        ev = spark.read.parquet(ev_path)

        t, _ = timed(
            lambda: W.cumsum(ev, ["user_id"], "ts", "value", out="c").count()
        )
        results["cumsum_plain_hotkey"] = t
        print(json.dumps({"probe": "cumsum_plain_hotkey", "rows": args.rows, "sec": t}))

        t, _ = timed(
            lambda: W.salted_cumsum(
                ev, ["user_id"], "ts", "value", out="c", salt_size=1_000_000
            ).count()
        )
        results["cumsum_salted_hotkey"] = t
        print(json.dumps({"probe": "cumsum_salted_hotkey", "rows": args.rows, "sec": t}))

        # ---- hot-key as-of: native (single-task sort) vs salted -------
        from azuredataengineering_deeplearning_spark.operators import joins as J

        asof_left = ev.filter(F.col("user_id") == 0).select(
            F.lit(0).alias("g"), "ts", F.col("ts").alias("lid")
        )
        asof_right = (
            spark.range(0, args.rows, 100)
            .select(F.lit(0).alias("g"), F.col("id").alias("ts"), (F.col("id") % 997).alias("rv"))
        )
        # count() alone lets Catalyst prune the window (no matched column
        # is read); counting the matched right column keeps the join.
        def matched(df):
            return df.agg(F.count("rv")).collect()

        for probe, direction in (
            ("asof_hotkey_native", "backward"),
            ("asof_hotkey_nearest", "nearest"),
        ):
            t, _ = timed(
                lambda: matched(J.asof_join(
                    asof_left, asof_right, on="ts", by=["g"], direction=direction
                ))
            )
            results[probe] = t
            print(json.dumps({"probe": probe, "rows": args.rows // 2, "sec": t}))

        t, _ = timed(
            lambda: matched(J.asof_join_salted(
                asof_left, asof_right, on="ts", by=["g"],
                bucket_width=max(args.rows // 256, 1),
            ))
        )
        results["asof_hotkey_salted"] = t
        print(json.dumps({"probe": "asof_hotkey_salted", "rows": args.rows // 2, "sec": t}))

        # ---- dim lookup: broadcast vs shuffled join -------------------
        dim = spark.range(1000).select(
            F.col("id").alias("user_id"), F.concat(F.lit("seg_"), F.col("id") % 7).alias("segment")
        )
        t, _ = timed(
            lambda: ev.join(F.broadcast(dim), "user_id").groupBy("segment").count().count()
        )
        results["dim_join_broadcast"] = t
        print(json.dumps({"probe": "dim_join_broadcast", "rows": args.rows, "sec": t}))

        t, _ = timed(
            lambda: ev.join(dim.hint("shuffle_hash"), "user_id").groupBy("segment").count().count()
        )
        results["dim_join_shuffled"] = t
        print(json.dumps({"probe": "dim_join_shuffled", "rows": args.rows, "sec": t}))

        # ---- ANN: brute force vs IVF pruning --------------------------
        vec_path = f"{tmp}/vectors"
        (
            spark.range(args.vectors)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(args.dim)),
                    lambda i: F.sin(F.col("id") * i + i).cast("float"),
                ).alias("embedding"),
            )
            .write.mode("overwrite").parquet(vec_path)
        )
        vecs = spark.read.parquet(vec_path)
        queries = vecs.filter(F.col("vec_id") < 16)

        t, _ = timed(lambda: SIM.numpy_topk(vecs, queries, k=10).count())
        results["ann_bruteforce_numpy"] = t
        print(json.dumps({"probe": "ann_bruteforce_numpy", "vectors": args.vectors, "sec": t}))

        t_fit, cents = timed(
            lambda: SIM.fit_ivf_centroids(
                vecs, n_lists=64, seed=42, max_iter=5, sample_fraction=0.1
            )
        )
        results["ivf_fit"] = t_fit
        print(json.dumps({"probe": "ivf_fit", "vectors": args.vectors, "sec": t_fit}))

        t, _ = timed(
            lambda: SIM.ivf_ann_topk(vecs, queries, cents, k=10, nprobe=8).count()
        )
        results["ann_ivf_nprobe8_of_64"] = t
        print(json.dumps({"probe": "ann_ivf_nprobe8_of_64", "vectors": args.vectors, "sec": t}))

        # ---- int8 quantization: scan-bytes + search-time ratio --------
        codes_path = f"{tmp}/codes"
        t, _ = timed(
            lambda: SIM.quantize_embeddings(vecs, "embedding", lo=-1.0, hi=1.0)
            .select("vec_id", "codes")
            .write.mode("overwrite")
            .parquet(codes_path)
        )
        results["quantize_write"] = t

        def _dir_mb(p):
            return round(
                sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(p)
                    for f in fs
                )
                / 1e6,
                1,
            )

        float_mb, code_mb = _dir_mb(vec_path), _dir_mb(codes_path)
        results["float_mb"], results["codes_mb"] = float_mb, code_mb
        codes = SIM.dequantize_embeddings(
            spark.read.parquet(codes_path), "codes", lo=-1.0, hi=1.0
        ).select("vec_id", F.col("embedding_deq").alias("embedding"))
        t, _ = timed(lambda: SIM.numpy_topk(codes, queries, k=10).count())
        results["ann_bruteforce_int8_scan"] = t
        print(
            json.dumps(
                {
                    "probe": "quantized_scan",
                    "float_mb": float_mb,
                    "codes_mb": code_mb,
                    "topk_sec": t,
                }
            )
        )

        # ---- near-dup cluster resolution over a pair graph ------------
        from azuredataengineering_deeplearning_spark.operators import dedup as DD

        cluster_probes(spark, args.edges, tmp, results)

        # ---- contamination sweep over synthetic corpus ----------------
        docs_path = f"{tmp}/docs"
        (
            spark.range(args.docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(50)),
                        lambda j: F.concat(
                            F.lit("w"),
                            F.pmod(F.hash(F.col("id") * 53 + j), F.lit(5000)),
                        ),
                    ),
                ).alias("text"),
            )
            .write.mode("overwrite")
            .parquet(docs_path)
        )
        docs = spark.read.parquet(docs_path)
        bench = docs.filter(F.col("doc_id") < 1000)
        corpus = docs.filter(F.col("doc_id") >= 1000)
        t, _ = timed(
            lambda: DD.contamination_flags(corpus, bench, "doc_id", "text", n=5).count()
        )
        results["contamination_sweep"] = t
        print(json.dumps({"probe": "contamination_sweep", "docs": args.docs, "sec": t}))

        t, _ = timed(
            lambda: DD.contamination_flags(
                corpus, bench, "doc_id", "text", n=5, hash_grams=True
            ).count()
        )
        results["contamination_sweep_hashed"] = t
        print(json.dumps({"probe": "contamination_sweep_hashed",
                          "docs": args.docs, "sec": t}))

        # ---- corpus-level span dedup over the same corpus -------------
        from azuredataengineering_deeplearning_spark.operators import text as TX

        t, _ = timed(
            lambda: TX.remove_common_spans(
                docs, "doc_id", "text", k=10, min_docs=3
            ).count()
        )
        results["span_dedup"] = t
        print(json.dumps({"probe": "span_dedup", "docs": args.docs, "sec": t}))

        # ---- deterministic hash split (map-only baseline) -------------
        from azuredataengineering_deeplearning_spark.operators import setops as SO

        t, _ = timed(
            lambda: SO.hash_group_split(docs, "doc_id", [0.8, 0.1, 0.1])
            .groupBy("split")
            .count()
            .count()
        )
        results["hash_group_split"] = t
        print(json.dumps({"probe": "hash_group_split", "docs": args.docs, "sec": t}))

        # ---- salted vs plain join on the hot-key events ---------------
        from azuredataengineering_deeplearning_spark.operators import joins as J

        wide_dim = spark.range(1000).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("seg_"), F.col("id") % 7).alias("segment"),
        )
        t, _ = timed(
            lambda: ev.join(wide_dim.hint("shuffle_hash"), "user_id")
            .groupBy("segment").count().count()
        )
        results["hotkey_join_plain_shuffle"] = t
        print(json.dumps({"probe": "hotkey_join_plain_shuffle", "rows": args.rows, "sec": t}))

        t, _ = timed(
            lambda: J.salted_join(ev, wide_dim, ["user_id"], n_salts=32)
            .groupBy("segment").count().count()
        )
        results["hotkey_join_salted"] = t
        print(json.dumps({"probe": "hotkey_join_salted", "rows": args.rows, "sec": t}))

        # ---- incremental rollup vs full recompute ---------------------
        from azuredataengineering_deeplearning_spark.operators import incremental as INC

        spec = {"n": ("count", None), "s": ("sum", "value"), "hi": ("max", "value")}
        base = ev.filter(F.col("ts") % 100 != 0)          # ~99% of rows
        batch = ev.filter(F.col("ts") % 100 == 0)         # ~1% changeset
        state_path = f"{tmp}/state"
        INC.aggregate_batch(base, ["user_id"], spec).write.mode("overwrite").parquet(
            state_path
        )
        state = spark.read.parquet(state_path)

        t, _ = timed(
            lambda: INC.aggregate_batch(ev, ["user_id"], spec).count()
        )
        results["rollup_full_recompute"] = t
        print(json.dumps({"probe": "rollup_full_recompute", "rows": args.rows, "sec": t}))

        t, _ = timed(
            lambda: INC.incremental_update(state, batch, ["user_id"], spec).count()
        )
        results["rollup_incremental_1pct"] = t
        print(json.dumps({"probe": "rollup_incremental_1pct", "rows": args.rows, "sec": t}))

        # ---- DSIR importance scoring over the synthetic corpus --------
        # xxhash64 bucketing (the Spark-only scale path); target = the
        # first 1% of docs. Cost profile: one explode + two aggregates +
        # one O(buckets) broadcast join — linear in corpus tokens.
        t, _ = timed(
            lambda: TX.dsir_scores(
                docs,
                "doc_id",
                "text",
                F.col("doc_id") < args.docs // 100,
                buckets=4096,
                portable=False,
            ).count()
        )
        results["dsir_scores_xxhash"] = t
        print(json.dumps({"probe": "dsir_scores_xxhash", "docs": args.docs, "sec": t}))

        # ---- event-sequence ops over the 20M-row skewed events --------
        from azuredataengineering_deeplearning_spark.operators import windows as WIN

        labeled = ev.withColumn(
            "etype",
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
                (F.pmod(F.col("ts"), 3) + 1).cast("int"),
            ),
        )
        t, _ = timed(
            lambda: WIN.event_transitions(
                labeled, "user_id", "ts", "etype"
            ).count()
        )
        results["event_transitions"] = t
        print(json.dumps({"probe": "event_transitions", "rows": args.rows, "sec": t}))

        t, _ = timed(
            lambda: WIN.funnel_progress(
                labeled,
                "user_id",
                "ts",
                [
                    ("view", F.col("etype") == "view"),
                    ("click", F.col("etype") == "click"),
                    ("buy", F.col("etype") == "buy"),
                ],
            ).count()
        )
        results["funnel_progress"] = t
        print(json.dumps({"probe": "funnel_progress", "rows": args.rows, "sec": t}))

        # ---- backtest/ensemble: 100k series x 200 days in one pass ----
        from azuredataengineering_deeplearning_spark.operators import (
            timeseries as TS,
        )

        panel_path = f"{tmp}/panel"
        n_series = max(args.rows // 200, 1000)
        (
            spark.range(n_series * 200)
            .select(
                (F.col("id") % n_series).alias("uid"),
                F.date_add(
                    F.lit("2024-01-01").cast("date"),
                    (F.col("id") / n_series).cast("int"),
                ).alias("d"),
                (F.rand(13) * 100 + (F.col("id") / n_series)).alias("y"),
            )
            .write.mode("overwrite").parquet(panel_path)
        )
        panel = spark.read.parquet(panel_path)

        t, n = timed(
            lambda: TS.backtest_models(
                panel, ["uid"], "d", "y", horizon=7, eval_points=28
            ).count()
        )
        results["backtest_models"] = t
        print(json.dumps(
            {"probe": "backtest_models", "series": n_series, "rows": n_series * 200,
             "out_rows": n, "sec": t}
        ))

        t, n = timed(
            lambda: TS.ensemble_forecast(
                panel, ["uid"], "d", "y", horizon=7, season=7
            ).count()
        )
        results["ensemble_forecast"] = t
        print(json.dumps(
            {"probe": "ensemble_forecast", "series": n_series,
             "out_rows": n, "sec": t}
        ))

        # ---- SFT prep + token-F1 over synthetic documents -------------
        from azuredataengineering_deeplearning_spark.operators import (
            lmeval as LE,
        )
        from azuredataengineering_deeplearning_spark.operators import sft as SFT

        docs_path = f"{tmp}/docs"
        (
            spark.range(args.docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit("w"), F.conv(
                            F.substring(F.md5(F.concat(F.col("id"), F.lit(i))), 1, 4),
                            16, 10))
                        for i in range(30)
                    ],
                ).alias("q"),
                F.concat(F.lit("answer for "), F.col("id")).alias("a"),
            )
            .write.mode("overwrite").parquet(docs_path)
        )
        docs = spark.read.parquet(docs_path)

        t, n = timed(
            lambda: SFT.sft_prepare(docs, "q", "a", template="zephyr").count()
        )
        results["sft_prepare"] = t
        print(json.dumps({"probe": "sft_prepare", "docs": args.docs,
                          "out_rows": n, "sec": t}))

        t, n = timed(
            lambda: LE.token_f1(
                docs.withColumn(
                    "pred",
                    F.concat_ws(" ", F.col("q"), F.lit("extra tail tokens")),
                ),
                "doc_id", "pred", "q",
            ).count()
        )
        results["token_f1"] = t
        print(json.dumps({"probe": "token_f1", "docs": args.docs,
                          "out_rows": n, "sec": t}))

        # ---- exact AUC / PR sweep at millions of DISTINCT scores ------
        # The eval-suite worst case: continuous model scores, so the
        # per-distinct-score frame is as big as the data. Compares the
        # distributed running-sum kernel (_ordered_running_sums:
        # range-partition + broadcast offsets, 32-way parallel windows)
        # against the old single-task global-window shape on the SAME
        # per-score counts.
        from pyspark.sql import Window

        from azuredataengineering_deeplearning_spark.operators import ml as ML

        scores_path = f"{tmp}/scores"
        (
            spark.range(args.scores)
            .select(
                # unique continuous score per row -> distinct == rows
                (F.col("id").cast("double") / args.scores).alias("score"),
                (F.rand(23) < (F.col("id") / args.scores)).cast("int").alias("label"),
            )
            .write.mode("overwrite").parquet(scores_path)
        )
        sc_df = spark.read.parquet(scores_path)

        # .collect()/checksum-agg, never .count(): a count over a 1-row
        # aggregate (or over a window whose outputs go unread) lets
        # Catalyst PRUNE the computation being measured
        t, _ = timed(lambda: ML.binary_auc(sc_df, "label", "score").collect())
        t2, _ = timed(lambda: ML.binary_auc(sc_df, "label", "score").collect())
        results["auc_distinct_distributed"] = t2
        print(json.dumps({"probe": "auc_distinct_distributed",
                          "distinct_scores": args.scores,
                          "sec_cold": t, "sec": t2}))

        def _auc_global_window():
            y = F.col("label").cast("double")
            counts = sc_df.groupBy(F.col("score").alias("__s")).agg(
                F.sum(y).alias("__pos"), F.sum(1.0 - y).alias("__neg")
            )
            w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, 0)
            cum = counts.withColumn("__cum___neg", F.sum("__neg").over(w))
            contrib = cum.select(
                "__pos", "__neg",
                (F.col("__pos") * (F.col("__cum___neg") - F.col("__neg")
                                   + F.col("__neg") / 2.0)).alias("__c"),
            )
            return contrib.agg(
                F.sum("__pos").alias("p"), F.sum("__neg").alias("n"),
                F.sum("__c").alias("c"),
            ).collect()

        t, _ = timed(_auc_global_window)
        t2, _ = timed(_auc_global_window)
        results["auc_distinct_global_window"] = t2
        print(json.dumps({"probe": "auc_distinct_global_window",
                          "distinct_scores": args.scores,
                          "sec_cold": t, "sec": t2}))

        def _sweep_checksum():
            sw = ML.threshold_sweep(sc_df, "label", "score")
            # hash over every output column defeats window/column pruning
            return sw.agg(F.sum(F.hash(*sw.columns))).collect()

        t, _ = timed(_sweep_checksum)
        t2, _ = timed(_sweep_checksum)
        results["threshold_sweep_distinct"] = t2
        print(json.dumps({"probe": "threshold_sweep_distinct",
                          "distinct_scores": args.scores,
                          "sec_cold": t, "sec": t2}))

        # ---- global quantile_transform (empty keys) at distinct==rows -
        # Same worst case as AUC: every score distinct, so the global
        # percent_rank frame is as big as the data. Distributed path
        # (rank = 1 + rows-below-v via _ordered_running_sums) vs the
        # single-task global percent_rank window on the same input.
        from azuredataengineering_deeplearning_spark.operators import (
            encoders as ENC,
        )

        def _qt_checksum():
            q = ENC.quantile_transform(sc_df, [], "score")
            return q.agg(F.sum(F.hash(*q.columns))).collect()

        t, _ = timed(_qt_checksum)
        t2, _ = timed(_qt_checksum)
        results["quantile_transform_global"] = t2
        print(json.dumps({"probe": "quantile_transform_global",
                          "distinct_scores": args.scores,
                          "sec_cold": t, "sec": t2}))

        def _qt_global_window():
            q = sc_df.withColumn(
                "score_q", F.percent_rank().over(Window.orderBy("score"))
            )
            return q.agg(F.sum(F.hash(*q.columns))).collect()

        t, _ = timed(_qt_global_window)
        t2, _ = timed(_qt_global_window)
        results["quantile_transform_global_window"] = t2
        print(json.dumps({"probe": "quantile_transform_global_window",
                          "distinct_scores": args.scores,
                          "sec_cold": t, "sec": t2}))

        # ---- global (no pack_by) sequence packing ----------------------
        # The running total spans the whole corpus; distributed path
        # (running-sums kernel) vs the single-task global-window shape.
        from azuredataengineering_deeplearning_spark.operators import (
            text as TXT,
        )

        pk_path = f"{tmp}/pack_docs"
        (
            spark.range(args.scores)
            .select(
                F.col("id").alias("doc_id"),
                (F.pmod(F.col("id") * 2654435761, F.lit(900)) + 100)
                .cast("int").alias("n_tok"),
            )
            .write.mode("overwrite").parquet(pk_path)
        )
        pk_df = spark.read.parquet(pk_path)

        def _pack_checksum():
            p = TXT.pack_sequences(pk_df, "doc_id", F.col("n_tok"), 4096)
            return p.agg(F.sum(F.hash(*p.columns))).collect()

        t, _ = timed(_pack_checksum)
        t2, _ = timed(_pack_checksum)
        results["pack_global_distributed"] = t2
        print(json.dumps({"probe": "pack_global_distributed",
                          "docs": args.scores, "sec_cold": t, "sec": t2}))

        # ---- packed grouped-python panel: many small series ------------
        # 100k series x 20 rows. applyInPandas pays per-group
        # Python/Arrow dispatch AND (on byte-small panels) AQE coalesces
        # its shuffle to one task; grouped_apply_packed pins the fan-out
        # and dispatches per partition.
        from azuredataengineering_deeplearning_spark.operators import (
            timeseries as TSOP,
        )

        panel_path = f"{tmp}/panel"
        (
            spark.range(2_000_000)
            .select(
                (F.col("id") % 100_000).alias("k"),
                (F.col("id") / 100_000).cast("int").alias("o"),
                (F.rand(11) * 10).alias("v"),
            )
            .write.mode("overwrite").parquet(panel_path)
        )
        panel = spark.read.parquet(panel_path)

        def _mean_fn(pdf):
            import pandas as _pd

            out = pdf[["k"]].iloc[:1].copy()
            out["mu"] = float(pdf["v"].mean())
            return out

        t, _ = timed(lambda: TSOP.grouped_apply_packed(
            panel, ["k"], _mean_fn, "k long, mu double").count())
        results["grouped_panel_packed"] = t
        print(json.dumps({"probe": "grouped_panel_packed",
                          "series": 100_000, "sec": t}))

        t, _ = timed(lambda: panel.groupBy("k").applyInPandas(
            _mean_fn, "k long, mu double").count())
        results["grouped_panel_applyinpandas"] = t
        print(json.dumps({"probe": "grouped_panel_applyinpandas",
                          "series": 100_000, "sec": t}))

        def _pack_global_window():
            w = Window.orderBy("doc_id").rowsBetween(
                Window.unboundedPreceding, -1
            )
            before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
            p = pk_df.select(
                "doc_id",
                F.col("n_tok").alias("n_tokens"),
                F.floor(before / 4096).cast("int").alias("pack_id"),
                (before % 4096).cast("int").alias("pack_offset"),
            )
            return p.agg(F.sum(F.hash(*p.columns))).collect()

        t, _ = timed(_pack_global_window)
        t2, _ = timed(_pack_global_window)
        results["pack_global_window"] = t2
        print(json.dumps({"probe": "pack_global_window",
                          "docs": args.scores, "sec_cold": t, "sec": t2}))

    # ---- global prefix scan (row_cumsum kernel) vs the single-reducer
    # window it replaces; + restart segmentation overhead ---------------
    from pyspark.sql import Window

    from azuredataengineering_deeplearning_spark.operators.windows import (
        global_cumsum,
    )

    seq = spark.range(args.scores).select(
        F.col("id"),
        ((F.col("id") * 37 % 997).cast("double") - 450.0).alias("v"),
        (F.col("id") % 101 == 0).alias("r"),
    )

    def _cumsum_distributed():
        c = global_cumsum(seq, ["id"], "v", out="c")
        return c.agg(F.sum(F.hash("id", "c"))).collect()

    t, _ = timed(_cumsum_distributed)
    t2, _ = timed(_cumsum_distributed)
    results["global_cumsum_distributed"] = t2
    print(json.dumps({"probe": "global_cumsum_distributed",
                      "rows": args.scores, "sec_cold": t, "sec": t2}))

    def _cumsum_single_window():
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        c = seq.withColumn("c", F.sum("v").over(w))
        return c.agg(F.sum(F.hash("id", "c"))).collect()

    t, _ = timed(_cumsum_single_window)
    results["global_cumsum_single_window"] = t
    print(json.dumps({"probe": "global_cumsum_single_window",
                      "rows": args.scores, "sec": t}))

    def _cumsum_restart():
        c = global_cumsum(seq, ["id"], "v", out="c", restart_col="r")
        return c.agg(F.sum(F.hash("id", "c"))).collect()

    t, _ = timed(_cumsum_restart)
    results["global_cumsum_restart"] = t
    print(json.dumps({"probe": "global_cumsum_restart",
                      "rows": args.scores, "sec": t}))

    # ---- make-series map-densify at panel scale ----------------------
    from azuredataengineering_deeplearning_spark.operators.timeseries import (
        make_series,
    )

    ev_series = spark.range(args.rows).select(
        (F.col("id") % 100_000).alias("k"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") * 7919) % (30 * 86400)
        ).alias("ts"),
        F.lit(1.0).alias("v"),
    )

    def _make_series_panel():
        s = make_series(
            ev_series, ["k"], "ts", "2024-01-01", "2024-01-31", 86400,
            agg="sum", value_col="v",
        )
        return s.agg(F.sum(F.size("series"))).collect()

    t, _ = timed(_make_series_panel)
    t2, _ = timed(_make_series_panel)
    results["make_series_panel"] = t2
    print(json.dumps({"probe": "make_series_panel", "rows": args.rows,
                      "keys": 100_000, "bins": 30, "sec_cold": t, "sec": t2}))

    # ---- KQL partition-by: 100k partition values, ONE plan ----------
    # Kusto's partition operator caps at 64 partitions (legacy) /
    # spreads sub-queries; the translator compiles the sub-pipe into a
    # single distributed plan (row_number window partitioned on the
    # key), so the partition-value cardinality is a shuffle width, not
    # a plan count. Mirrors stats_forecast_predict.py:513-525's 396-way
    # per-id fan-out shape, at 250x that cardinality.
    from azuredataengineering_deeplearning_spark.sources.kql import kql_to_df

    part_src = spark.range(args.rows // 10).select(
        F.concat(F.lit("p"), (F.col("id") % 100_000).cast("string")).alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),
    )

    def _kql_partition_by():
        out = kql_to_df(
            {"T": part_src}, "T | partition by k (top 1 by v)"
        )
        return out.count()

    t, n = timed(_kql_partition_by)
    t2, _ = timed(_kql_partition_by)
    results["kql_partition_by_100k"] = t2
    print(json.dumps({"probe": "kql_partition_by_100k",
                      "rows": args.rows // 10, "partitions": 100_000,
                      "rows_out": n, "sec_cold": t, "sec": t2}))

    # ---- KQL top-nested with others=: per-level extra scan ----------
    # 2 levels x 1M rows: each others= level adds ONE broadcast
    # anti-join scan over the (shrinking) source — constant per level,
    # independent of key cardinality beyond the top set.
    tn_src = spark.range(args.docs).select(
        F.concat(F.lit("a"), (F.col("id") % 1000).cast("string")).alias("k1"),
        F.concat(F.lit("b"), (F.col("id") % 97).cast("string")).alias("k2"),
        (F.col("id") % 31).cast("double").alias("v"),
    )

    def _kql_top_nested_others():
        out = kql_to_df(
            {"T": tn_src},
            "T | top-nested 5 of k1 with others='O' by s1 = sum(v), "
            "top-nested 3 of k2 with others='O' by s2 = sum(v)",
        )
        return out.count()

    t, n = timed(_kql_top_nested_others)
    t2, _ = timed(_kql_top_nested_others)
    results["kql_top_nested_others_2level"] = t2
    print(json.dumps({"probe": "kql_top_nested_others_2level",
                      "rows": args.docs, "keys_l1": 1000, "keys_l2": 97,
                      "rows_out": n, "sec_cold": t, "sec": t2}))

    # ---- KQL bag_unpack: key discovery is schema-bounded ------------
    # 1M rows, 6-key bags: the key-set job aggregates to O(distinct
    # keys) — driver memory scales with bag WIDTH, not row count; the
    # unpack itself is a projection (no shuffle).
    bag_src = spark.range(args.docs).select(
        F.to_json(
            F.struct(
                (F.col("id") % 13).alias("a"),
                (F.col("id") % 7).alias("b"),
                (F.col("id") % 5).alias("c"),
                (F.col("id") % 3).alias("d"),
                (F.col("id") % 11).alias("e"),
                (F.col("id") % 17).alias("f"),
            )
        ).alias("props")
    )

    def _kql_bag_unpack():
        out = kql_to_df(
            {"T": bag_src}, "T | evaluate bag_unpack(props)"
        )
        return out.agg(F.count(F.lit(1))).collect()[0][0]

    t, n = timed(_kql_bag_unpack)
    t2, _ = timed(_kql_bag_unpack)
    results["kql_bag_unpack_1m"] = t2
    print(json.dumps({"probe": "kql_bag_unpack_1m", "rows": args.docs,
                      "bag_keys": 6, "rows_out": n, "sec_cold": t,
                      "sec": t2}))

    # ---- facet: N-column breakdown in ONE grouping-sets pass --------
    facet_src = spark.range(args.rows // 4).select(
        F.concat(F.lit("u"), (F.col("id") % 50_000).cast("string")).alias("u"),
        F.concat(F.lit("e"), (F.col("id") % 17).cast("string")).alias("e"),
        F.concat(F.lit("s"), (F.col("id") % 211).cast("string")).alias("s"),
    )

    def _kql_facet():
        out = kql_to_df({"T": facet_src}, "T | facet by u, e, s")
        return out.count()

    t, n = timed(_kql_facet)
    t2, _ = timed(_kql_facet)
    results["kql_facet_3col_50k"] = t2
    print(json.dumps({"probe": "kql_facet_3col_50k",
                      "rows": args.rows // 4, "facet_values": n,
                      "sec_cold": t, "sec": t2}))

    # ---- weighted percentile: window CDF at 20M rows -----------------
    from azuredataengineering_deeplearning_spark.operators.aggregates import (
        weighted_percentile,
    )

    wp_src = spark.range(args.rows).select(
        (F.col("id") % 1000).alias("g"),
        ((F.col("id") * 7919) % 100_000).cast("double").alias("v"),
        ((F.col("id") % 97) + 1).cast("double").alias("w"),
    )

    def _wp():
        return weighted_percentile(
            wp_src, "v", "w", [0.5, 0.95, 0.99], keys=["g"]
        ).count()

    t, n = timed(_wp)
    t2, _ = timed(_wp)
    results["weighted_percentile_grouped"] = t2
    print(json.dumps({"probe": "weighted_percentile_grouped",
                      "rows": args.rows, "groups": 1000, "probs": 3,
                      "sec_cold": t, "sec": t2}))

    def _wp_global():
        return weighted_percentile(wp_src, "v", "w", [0.5, 0.99]).count()

    t, n = timed(_wp_global)
    t2, _ = timed(_wp_global)
    results["weighted_percentile_global"] = t2
    print(json.dumps({"probe": "weighted_percentile_global",
                      "rows": args.rows, "probs": 2,
                      "sec_cold": t, "sec": t2}))

    # ---- paragraph dedup: explode → hash window → reassemble ---------
    from azuredataengineering_deeplearning_spark.operators.dedup import (
        paragraph_dedup,
    )

    pd_docs = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n\n",
            F.lit("COMMON HEADER"),
            F.concat(F.lit("body "), F.col("id").cast("string")),
            F.concat(F.lit("shared "), (F.col("id") % 5000).cast("string")),
            F.lit("COMMON FOOTER"),
        ).alias("text"),
    )

    def _para_dedup():
        return paragraph_dedup(pd_docs, "doc_id", "text").agg(
            F.sum("n_kept")
        ).collect()[0][0]

    t, n = timed(_para_dedup)
    t2, _ = timed(_para_dedup)
    results["paragraph_dedup_1m_docs"] = t2
    print(json.dumps({"probe": "paragraph_dedup_1m_docs",
                      "docs": args.docs, "paras": args.docs * 4,
                      "kept": int(n), "sec_cold": t, "sec": t2}))

    # ---- paragraph dedup EXTREME skew: one paragraph in 60% of 5M
    # docs. The r9 window kernel funnels the 3M-copy group through ONE
    # task; the r10 skew-safe kernel (groupBy(min) map-side combine +
    # AQE-split join back) bounds max-task time. Both measured.
    skew_n = args.docs * 5
    skew_docs = spark.range(skew_n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n\n",
            F.when(
                F.col("id") % 5 < 3, F.lit("SAME LICENSE HEADER EVERYWHERE")
            ).otherwise(F.concat(F.lit("rare head "), (F.col("id") % 97).cast("string"))),
            F.concat(F.lit("body "), F.col("id").cast("string")),
        ).alias("text"),
    )

    def _para_skew(flag):
        return lambda: paragraph_dedup(
            skew_docs, "doc_id", "text", skew_safe=flag
        ).agg(F.sum("n_kept")).collect()[0][0]

    t, n = timed(_para_skew(False))
    t2, _ = timed(_para_skew(False))
    results["paragraph_dedup_extreme_skew_window"] = t2
    print(json.dumps({"probe": "paragraph_dedup_extreme_skew_window",
                      "docs": skew_n, "hot_copies": skew_n * 3 // 5,
                      "kept": int(n), "sec_cold": t, "sec": t2}))

    t, n = timed(_para_skew(True))
    t2, _ = timed(_para_skew(True))
    results["paragraph_dedup_extreme_skew_safe"] = t2
    print(json.dumps({"probe": "paragraph_dedup_extreme_skew_safe",
                      "docs": skew_n, "hot_copies": skew_n * 3 // 5,
                      "kept": int(n), "sec_cold": t, "sec": t2}))

    # ---- KQL basket: Expand x92 factor at 8 columns (r10 probe) ------
    # realistic basket data repeats attribute tuples heavily; the r10
    # pre-collapse makes the x92 Expand run over DISTINCT tuples
    from azuredataengineering_deeplearning_spark.sources.kql import (
        kql_to_df as _kql,
    )

    cards = [3, 5, 7, 11, 13, 17, 19, 23]
    basket_src = spark.range(args.docs * 5).select(
        *[((F.col("id") % 50000) % c).cast("string").alias(f"c{i}")
          for i, c in enumerate(cards)]
    )

    def _basket_probe():
        return _kql({"T": basket_src}, "T | evaluate basket(0.02)").count()

    t, n = timed(_basket_probe)
    t2, _ = timed(_basket_probe)
    results["kql_basket_8col_5m"] = t2
    print(json.dumps({"probe": "kql_basket_8col_5m",
                      "rows": args.docs * 5, "grouping_sets": 92,
                      "distinct_tuples": 50000, "out_rows": int(n),
                      "sec_cold": t, "sec": t2}))

    # ---- rolling distinct users: interval-merge sweep ----------------
    from azuredataengineering_deeplearning_spark.operators.timeseries import (
        rolling_active_users,
    )

    rau_ev = spark.range(args.rows).select(
        (F.col("id") % 500_000).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") * 7919) % (90 * 86400)
        ).alias("ts"),
    )

    def _rau():
        return rolling_active_users(rau_ev, "ts", "user_id", 28).count()

    t, n = timed(_rau)
    t2, _ = timed(_rau)
    results["rolling_active_users_28d"] = t2
    print(json.dumps({"probe": "rolling_active_users_28d",
                      "events": args.rows, "users": 500_000,
                      "days_out": n, "sec_cold": t, "sec": t2}))

    # ---- r10b: activity_metrics / new_activity_metrics / funnel ------
    # same 20M-event / 500k-user / 90-day panel as the rolling probe;
    # the retention kernels add one per-id lag window on the distinct
    # (id, bin) frame — cost should track the (user, day) dedup, not
    # the event count
    from azuredataengineering_deeplearning_spark.operators.timeseries import (
        activity_metrics,
        funnel_sequence_completion,
        new_activity_metrics,
    )

    def _am():
        return activity_metrics(
            rau_ev, "user_id", "ts", "2024-01-01", "2024-03-30", 86400
        ).count()

    t, n = timed(_am)
    t2, _ = timed(_am)
    results["activity_metrics_90d"] = t2
    print(json.dumps({"probe": "activity_metrics_90d",
                      "events": args.rows, "users": 500_000,
                      "bins": n, "sec_cold": t, "sec": t2}))

    def _nam():
        return new_activity_metrics(
            rau_ev, "user_id", "ts", "2024-01-01", "2024-03-30",
            7 * 86400,
        ).count()

    t, n = timed(_nam)
    t2, _ = timed(_nam)
    results["new_activity_metrics_13w"] = t2
    print(json.dumps({"probe": "new_activity_metrics_13w",
                      "events": args.rows, "users": 500_000,
                      "pairs": n, "sec_cold": t, "sec": t2}))

    # funnel: 3-state sequence over the same panel; states assigned
    # deterministically so each state slice is ~1/3 of the events.
    # Cost model: 2 id-key joins between surviving starts and the
    # filtered state slices + per-(start) min-aggregates.
    fun_ev = rau_ev.withColumn(
        "state",
        F.element_at(
            F.array(F.lit("s1"), F.lit("s2"), F.lit("s3")),
            ((F.xxhash64("ts") % 3 + 3) % 3 + 1).cast("int"),
        ),
    )

    def _fun():
        return funnel_sequence_completion(
            fun_ev, "user_id", "ts", "state", "2024-01-01", "2024-03-30",
            7 * 86400, ["s1", "s2", "s3"],
            [86400, 2 * 86400, 4 * 86400],
        ).count()

    t, n = timed(_fun)
    t2, _ = timed(_fun)
    results["funnel_completion_3step"] = t2
    print(json.dumps({"probe": "funnel_completion_3step",
                      "events": args.rows, "users": 500_000,
                      "rows_out": n, "sec_cold": t, "sec": t2}))

    # ---- r10c: graph-match join compilation at 2M edges --------------
    from azuredataengineering_deeplearning_spark.sources.kql import (
        kql_to_df,
    )

    g_edges = spark.range(args.edges).select(
        (F.col("id") % 100_000).alias("gsrc"),
        ((F.col("id") * 7919) % 100_000).alias("gdst"),
        (F.rand(11)).alias("gw"),
    )

    def _gm2():
        return kql_to_df(
            {"edges": g_edges},
            "edges | make-graph gsrc --> gdst"
            " | graph-match (x)-[p]->(y)-[q]->(z)"
            " where p.gw < 0.05 and q.gw < 0.05"
            " project x = x.id, z = z.id"
            " | summarize n = count()",
        ).collect()[0]["n"]

    t, n = timed(_gm2)
    t2, _ = timed(_gm2)
    results["graph_match_2hop_2m_edges"] = t2
    print(json.dumps({"probe": "graph_match_2hop_2m_edges",
                      "edges": args.edges, "paths": n,
                      "sec_cold": t, "sec": t2}))

    def _gmv():
        return kql_to_df(
            {"edges": g_edges},
            "edges | make-graph gsrc --> gdst"
            " | graph-match (x)-[p*1..2]->(z)"
            " where all(p, gw < 0.02)"
            " project x = x.id, n = array_length(p)"
            " | summarize n = count()",
        ).collect()[0]["n"]

    t, n = timed(_gmv)
    t2, _ = timed(_gmv)
    results["graph_match_varlen_2m_edges"] = t2
    print(json.dumps({"probe": "graph_match_varlen_2m_edges",
                      "edges": args.edges, "paths": n,
                      "sec_cold": t, "sec": t2}))

    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "rows": args.rows,
                "vectors": args.vectors,
                "results": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
