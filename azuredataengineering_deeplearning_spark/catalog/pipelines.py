"""Catalog: end-to-end composite pipelines (SURVEY §3.3 parity).

These chain many operators into the shapes the reference actually runs:
the recsys sessionization pipeline (``generate_data.py`` steps 2-4) and
an LLM-corpus preparation pipeline (clean → profile → lang-ID → quality
→ dedup). Each is still one lazy Spark plan — Catalyst fuses the whole
chain; the oracle reconstructs it in SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.functions.exact import exact_sum, sql_sum
from azuredataengineering_deeplearning_spark.functions.strings import collapse_whitespace
from azuredataengineering_deeplearning_spark.operators import dedup as DD
from azuredataengineering_deeplearning_spark.operators import relational as R
from azuredataengineering_deeplearning_spark.operators import setops as U
from azuredataengineering_deeplearning_spark.operators import text as T
from azuredataengineering_deeplearning_spark.operators import windows as W
from azuredataengineering_deeplearning_spark.operators.aggregates import argmax_rows
from azuredataengineering_deeplearning_spark.sources.readers import load_tables, read_parquet


@query(
    "pipeline_sessions",
    f"""
    WITH g AS (
      SELECT user_id, event_id, value, epoch_ns(ts) AS tns,
             CAST(json_extract_string(props, '$.k') AS INT) AS k,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_ns(ts)) > 3600000000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), s AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tns
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           {sql_sum("value", "total_value")},
           array_to_string(list(CAST(k AS VARCHAR) ORDER BY k, event_id), ',') AS ks_csv
    FROM s GROUP BY user_id, session_id
    """,
)
def pipeline_sessions(spark, sf_dir):
    """Recsys pipeline steps 2-3 (``generate_data.py:120-175``):
    sessionize by 1 h gap → per-session JSON payload combine (ordered
    array, the groupwise array-concat) + exact session totals."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    sess = W.sessionize(ev, ["user_id"], "ts_ns", gap=3_600_000_000_000)
    parsed = sess.withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return parsed.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", "total_value"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "event_id"))),
                lambda s: s["k"].cast("string"),
            ),
            ",",
        ).alias("ks_csv"),
    )


@query(
    "pipeline_latest_session_per_user",
    """
    WITH g AS (
      SELECT user_id, epoch_ns(ts) AS tns,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_ns(ts)) > 3600000000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), s AS (
      SELECT user_id, tns, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tns
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS session_id
      FROM g
    ), agg AS (
      SELECT user_id, session_id, COUNT(*) AS n_events, MAX(tns) AS last_tns
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id, session_id, n_events FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY last_tns DESC, session_id DESC) AS rn FROM agg
    ) WHERE rn = 1
    """,
)
def pipeline_latest_session_per_user(spark, sf_dir):
    """Recsys step 3b: latest-wins dedup — one current session per user
    (``generate_data.py:174`` keep='last' as the A9 window pattern)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    sess = W.sessionize(ev, ["user_id"], "ts_ns", gap=3_600_000_000_000)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("ts_ns").alias("last_tns")
    )
    latest = argmax_rows(
        per_session, ["user_id"], "last_tns", tiebreak=["session_id"]
    )
    return latest.select("user_id", "session_id", "n_events")


@query(
    "pipeline_corpus_prep",
    r"""
    WITH base AS (
      SELECT doc_id, lang, trim(regexp_replace(text, '\s+', ' ', 'g')) AS cleaned
      FROM documents
    ), feats AS (
      SELECT doc_id, lang, cleaned,
             len(string_split(cleaned, ' ')) AS n_tokens,
             md5(cleaned) AS fp
      FROM base
    ), canon AS (
      SELECT doc_id, lang, n_tokens, fp,
             MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id
      FROM feats
    )
    SELECT doc_id, lang, n_tokens
    FROM canon
    WHERE doc_id = canonical_id AND n_tokens BETWEEN 20 AND 1000
    """,
)
def pipeline_corpus_prep(spark, sf_dir):
    """LLM-corpus preparation: clean → token profile → exact dedup
    (canonical survivor) → length-window quality filter — the minimal
    pretraining-data pass, one lazy plan."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    cleaned = d.select(
        "doc_id", "lang", collapse_whitespace(F.col("text")).alias("cleaned")
    )
    feats = cleaned.withColumn("n_tokens", T.token_count("cleaned"))
    # exact_canonical (window form): one evaluation of the clean+md5
    # lineage instead of three — see pipeline_pretraining_batches
    out = DD.exact_canonical(feats, "doc_id", "cleaned").filter(
        (F.col("doc_id") == F.col("canonical_id"))
        & F.col("n_tokens").between(20, 1000)
    )
    return out.select("doc_id", "lang", "n_tokens")


_CURATE_SQL = r"""
    WITH RECURSIVE
    corpus AS (
      SELECT doc_id, text, lang FROM documents WHERE source <> 'src0'
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
    feats AS (
      SELECT doc_id, len(w) AS n,
             len(list_filter(w, t -> t = 'the' OR t = 'a')) * 1.0 / len(w) AS sw,
             list_sum(list_transform(w, t -> length(t))) * 1.0 / len(w) AS mtl
      FROM w
    ),
    qual AS (
      SELECT doc_id,
             (CASE WHEN n BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN sw > 0.01 AND sw < 0.5 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN mtl > 2.0 AND mtl < 12.0 THEN 0.3 ELSE 0.0 END) AS quality
      FROM feats
    ),
    qpass AS (SELECT doc_id, quality FROM qual WHERE quality >= 0.3),
    fp AS (
      SELECT c.doc_id, md5(trim(regexp_replace(c.text, '\s+', ' ', 'g'))) AS h
      FROM corpus c JOIN qpass USING (doc_id)
    ),
    exact_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS m FROM fp
      ) WHERE doc_id = m
    ),
    sh AS MATERIALIZED (
      SELECT c.doc_id,
             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                            for i in generate_series(1, len(ws) - 2)]) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus) c
      JOIN exact_keep USING (doc_id)
      WHERE len(ws) >= 3
    ),
    -- gram-join jaccard (same integers as the quadratic list_intersect
    -- pair join, ~100x faster): count shared distinct shingles per pair
    ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
               COUNT(*) AS i
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
      ) WHERE i * 1.0 / (na + nb - i) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(node, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT wk.node, e.dst FROM walk wk JOIN edges e ON e.src = wk.reach
    ),
    cc AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node),
    nd_keep AS (
      SELECT doc_id FROM exact_keep
      WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
    ),
    grams5 AS (
      SELECT doc_id,
             list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                            || ' ' || ts[i+3] || ' ' || ts[i+4]
                            for i in generate_series(1, len(ts) - 4)]) AS gs
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      WHERE len(ts) >= 5
    ),
    bg AS (
      SELECT DISTINCT unnest(g.gs) AS gram
      FROM grams5 g JOIN documents d USING (doc_id) WHERE d.source = 'src0'
    ),
    cg AS (
      SELECT g.doc_id, unnest(g.gs) AS gram
      FROM grams5 g JOIN nd_keep USING (doc_id)
    ),
    contaminated AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)),
    decon AS (
      SELECT doc_id FROM nd_keep
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    g2 AS (
      SELECT c.doc_id,
             unnest([ts[i] || ' ' || ts[i+1]
                     for i in generate_series(1, len(ts) - 1)]) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus) c
      JOIN decon USING (doc_id)
      WHERE len(ts) >= 2
    ),
    cnt2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
               / CAST(SUM(c) AS DOUBLE) AS dup_ngram_frac
      FROM cnt2 GROUP BY doc_id
    )
    SELECT c.doc_id, c.lang, q.quality
    FROM corpus c
    JOIN decon USING (doc_id)
    JOIN qpass q USING (doc_id)
    JOIN rep r USING (doc_id)
    WHERE r.dup_ngram_frac < 0.12
"""


@query("pipeline_curate_corpus", _CURATE_SQL)
def pipeline_curate_corpus(spark, sf_dir):
    """The full LLM training-corpus curation pipeline as ONE lazy plan:
    quality gate (>= 0.3) → exact dedup (min-id survivor) → MinHash
    near-dup clusters → canonical survivors → benchmark decontamination
    (shared 5-gram vs the held-out src0 slice) → repetition filter
    (duplicated-bigram share < 0.12). Returns the surviving corpus with
    language and quality score. Every stage is an engine operator; the
    oracle reconstructs the identical chain in SQL, recursive-CTE
    cluster closure included."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    # widen once at the head: every downstream stage (quality regexes,
    # fingerprints, shingles, n-grams) parallelizes, and the persisted
    # survivor set inherits the layout — no per-stage repartitions
    corpus = R.widen_narrow_input(d.filter(F.col("source") != "src0"))
    bench = d.filter(F.col("source") == "src0")

    qual = corpus.withColumn("quality", T.quality_score("text")).filter(
        F.col("quality") >= 0.3
    )
    # single-pass canonical dedup (exact_canonical window form): the
    # verdict-frame + semi-join shape evaluated the scan+quality lineage
    # three times before the persist — see pipeline_pretraining_batches.
    # The survivor set feeds four downstream scans (minhash, anti-join,
    # contamination, repetition) — persist it once instead of replaying
    # the quality+dedup lineage per consumer (measured: 5.0s → 3.6s at
    # sf0.1; at lake scale checkpoint to storage instead)
    sub = (
        DD.exact_canonical(qual, "doc_id", "text")
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .drop("canonical_id")
        .persist()
    )

    # cache_scope: minhash persists shingle/signature frames; they are
    # only needed until resolve_clusters has consumed the pair plan (a
    # bounded collect, plus an edge-list checkpoint on overflow; its
    # result is a driver-local frame or a checkpointed label table,
    # never the pair plan), so release them at block exit — the
    # pipeline holds zero tracked sketch caches after this stage
    with DD.cache_scope():
        pairs = DD.minhash_near_duplicates(sub, "doc_id", "text", threshold=0.8)
        losers = (
            DD.resolve_clusters(pairs)
            .filter(F.col("node") != F.col("cluster_id"))
            .select(F.col("node").alias("doc_id"))
        )
    # Three INDEPENDENT branches off the pinned survivor set, meeting in
    # one final plan — the previous chain (losers → anti-join → contamination
    # over the joined frame → anti-join → repetition over THAT frame →
    # join) serialized six stages that have no data dependency:
    # - contamination membership is per-document (doc text × benchmark
    #   grams), so flagging the pre-loser set marks a superset whose
    #   extras are all losers — the exclusion below removes them anyway;
    # - repetition metrics are per-document map-only values, so scoring
    #   the pre-exclusion set computes identical numbers and the final
    #   inner join restricts to survivors.
    # AQE materializes independent stages concurrently, and two of the
    # three sequential anti-join barriers collapse into one exclusion.
    # Exclusion joins stay plain left_anti, NOT a forced broadcast: the
    # loser/contaminated id sets grow with the corpus duplication rate —
    # at 100 TB they are billions of ids and a forced broadcast OOMs.
    # AQE turns them into broadcast joins at runtime when actually small.
    contaminated = DD.contamination_flags(sub, bench, "doc_id", "text", n=5)
    bad = losers.unionByName(contaminated.select("doc_id"))
    rep = T.repetition_metrics(sub, "doc_id", "text", n=2)
    return (
        sub.join(bad, "doc_id", "left_anti")
        .join(rep, "doc_id")
        .filter(F.col("dup_ngram_frac") < 0.12)
        .select("doc_id", "lang", "quality")
    )


_PRETRAIN_BATCH_SQL = r"""
    WITH cleaned AS (
      SELECT doc_id, lang, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
      FROM documents
    ), feats AS (
      SELECT doc_id, lang, len(string_split(t, ' ')) AS n_tokens, md5(t) AS fp
      FROM cleaned
    ), canon AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM feats
    ), survivors AS (
      SELECT doc_id, lang, n_tokens FROM canon
      WHERE doc_id = canonical_id AND n_tokens BETWEEN 20 AND 1000
    ), train AS (
      SELECT * FROM survivors
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 10000 < 9000
    ), packed AS (
      SELECT lang, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM train
    )
    SELECT lang, doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR(before / 1024) AS INT) AS pack_id,
           CAST(before % 1024 AS INT) AS pack_offset
    FROM packed
"""


@query("pipeline_pretraining_batches", _PRETRAIN_BATCH_SQL)
def pipeline_pretraining_batches(spark, sf_dir):
    """The full deterministic batch-assembly pass a pretraining run
    consumes: clean → exact dedup (canonical survivor) → length window →
    90% reproducible hash train-split → per-language 1024-token sequence
    packing. One lazy plan, one oracle; every stage is an engine
    operator. Scale: dedup is the only corpus-wide shuffle; the split is
    map-only; packing windows are per-language."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    cleaned = d.select(
        "doc_id", "lang", collapse_whitespace(F.col("text")).alias("cleaned")
    )
    feats = cleaned.withColumn("n_tokens", T.token_count("cleaned"))
    # single-pass canonical dedup (exact_canonical): MIN(id) OVER
    # (PARTITION BY fingerprint) — the join-back form via
    # exact_duplicates evaluated the scan→clean→md5 lineage three times
    # (groupBy branch + join-back branch + feats), 0.61 s vs 0.43 s at
    # sf0.1; the window form is one shuffle, one lineage evaluation
    survivors = (
        DD.exact_canonical(feats, "doc_id", "cleaned")
        .filter(
            (F.col("doc_id") == F.col("canonical_id"))
            & F.col("n_tokens").between(20, 1000)
        )
        .select("doc_id", "lang", "n_tokens")
    )
    train = U.hash_sample(survivors, "doc_id", 0.9)
    return T.pack_sequences(train, "doc_id", F.col("n_tokens"), 1024, pack_by="lang")
