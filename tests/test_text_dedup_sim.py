import uuid

import pyspark.sql.functions as F
import pytest

from azuredataengineering_deeplearning_spark.operators import dedup as DD
from azuredataengineering_deeplearning_spark.operators import similarity as SIM
from azuredataengineering_deeplearning_spark.operators import text as T
from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return read_parquet(spark, f"{SF01}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return read_parquet(spark, f"{SF01}/embeddings.parquet").cache()


def test_minhash_lsh_finds_planted_dups(spark, docs):
    pairs = DD.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.8)
    exact = DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(r.id_a, r.id_b) for r in exact.collect()}
    assert want, "corpus should contain planted near-dups"
    assert got == want  # no false negatives at s>=0.9 with 8x2 bands, no false positives by construction


def test_exact_duplicates_on_synthetic(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b c"), (3, "different text")], "id long, text string"
    )
    out = {r.id: (r.canonical_id, r.is_duplicate) for r in
           DD.exact_duplicates(df, "id", "text").collect()}
    # whitespace-normalized: 1 and 2 identical, min-id survivor
    assert out[1] == (1, 0) and out[2] == (1, 1) and out[3] == (3, 0)


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "spark query engine fast join merge table scan"),
            (2, "spark query engine fast join merge table row"),  # 1 token differs
            (3, "completely unrelated words about gardening and tulips"),
        ],
        "id long, text string",
    )
    sk = {r.id: r.simhash for r in DD.simhash(df, "id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sk[1], sk[2]) < ham(sk[1], sk[3])


def test_ann_recall_vs_bruteforce(spark, embs):
    q = embs.filter(F.col("vec_id") < 20)
    exact = SIM.cosine_topk(embs, q, k=10)
    approx = SIM.lsh_ann_topk(embs, q, k=10, n_planes=4, dim=64, probe_hamming=1)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"recall {recall}"  # multi-probe hamming<=1, 4 planes


def test_cosine_range_and_self_similarity(spark, embs):
    one = embs.limit(1)
    r = one.select(SIM.cosine(F.col("embedding"), F.col("embedding")).alias("c")).collect()[0]
    assert abs(r.c - 1.0) < 1e-12


def test_quality_score_bounds(spark, docs):
    stats = docs.select(T.quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_lang_id_deterministic(spark, docs):
    from azuredataengineering_deeplearning_spark.catalog.text import LANG_MARKERS

    a = {r.doc_id: r.l for r in docs.select("doc_id", T.lang_id("text", LANG_MARKERS).alias("l")).collect()}
    b = {r.doc_id: r.l for r in docs.orderBy(F.rand(3)).select("doc_id", T.lang_id("text", LANG_MARKERS).alias("l")).collect()}
    assert a == b


def test_ivf_recall_vs_bruteforce(spark, embs):
    q = embs.filter(F.col("vec_id") < 20)
    exact = SIM.cosine_topk(embs, q, k=10)
    cents = SIM.fit_ivf_centroids(embs, n_lists=8, seed=42, max_iter=10)
    approx = SIM.ivf_ann_topk(embs, q, cents, k=10, nprobe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"recall {recall}"  # nprobe=4 of 8 lists
    # full probe == brute force (approximation is ONLY the list pruning)
    full = SIM.ivf_ann_topk(embs, q, cents, k=10, nprobe=8)
    f = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert f == e


def test_ivf_assignment_partitions_corpus(spark, embs):
    cents = SIM.fit_ivf_centroids(embs, n_lists=8, seed=42, max_iter=10)
    assigned = SIM.assign_ivf_lists(embs, cents, nprobe=1)
    # every vector in exactly one list; all 8 lists used on 500 vectors
    import pyspark.sql.functions as F2
    sizes = assigned.groupBy(F2.col("ivf_lists").getItem(0).alias("l")).count()
    rows = sizes.collect()
    assert sum(r["count"] for r in rows) == embs.count()
    assert len(rows) == 8


def test_resolve_clusters_components(spark):
    from azuredataengineering_deeplearning_spark.operators import dedup as DD2

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], ["id_a", "id_b"]
    )
    got = {
        (r.node, r.cluster_id)
        for r in DD2.resolve_clusters(pairs).collect()
    }
    # chain 1-2-3 collapses to root 1 (transitively, not just direct
    # neighbors); 7-8 is its own component; self-loop 9 stays alone
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)}


def test_repetition_metrics_known_values(spark):
    from azuredataengineering_deeplearning_spark.operators import text as T2

    df = spark.createDataFrame(
        [
            (1, "x x x x"),          # bigrams: 3 x 'x x' -> top=1.0 dup=1.0
            (2, "a b c d"),          # all distinct -> top=1/3, dup=0
            (3, "a b a b a"),        # 'a b' x2, 'b a' x2 -> top=0.5 dup=1.0
            (4, "solo"),             # < n tokens -> no output row
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in T2.repetition_metrics(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert abs(rows[1].top_ngram_frac - 1.0) < 1e-9
    assert abs(rows[1].dup_ngram_frac - 1.0) < 1e-9
    assert abs(rows[2].top_ngram_frac - 1 / 3) < 1e-9
    assert rows[2].dup_ngram_frac == 0.0
    assert abs(rows[3].top_ngram_frac - 0.5) < 1e-9
    assert abs(rows[3].dup_ngram_frac - 1.0) < 1e-9


def test_quantize_dequantize_error_bound(spark, embs):
    from azuredataengineering_deeplearning_spark.operators import similarity as SIM2

    # range must cover the data for the midpoint bound to hold
    # (sf0.01 embeddings reach ±0.53; out-of-range values clamp)
    q = SIM2.quantize_embeddings(embs, "embedding", lo=-0.6, hi=0.6)
    dq = SIM2.dequantize_embeddings(q, "codes", lo=-0.6, hi=0.6)
    err = dq.select(
        F.aggregate(
            F.zip_with(
                "embedding", "embedding_deq", lambda a, b: F.abs(a - b)
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("max_err")
    ).agg(F.max("max_err").alias("worst")).collect()[0]["worst"]
    # midpoint reconstruction: |x - x̂| ≤ (hi-lo)/2^(bits+1) = 1.2/512
    assert err <= 1.2 / 512 + 1e-7, err
    # codes are in range and integer-typed
    row = q.select("codes").first()
    assert all(0 <= c <= 255 for c in row["codes"])


def test_token_budget_rates_semantics(spark, sf_dir):
    from azuredataengineering_deeplearning_spark.operators import text as T3
    from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    rates = {
        r["lang"]: r
        for r in T3.token_budget_rates(d, "lang", budget_per_stratum=10).collect()
    }
    # tiny budget → every stratum downsamples, rate = budget/tokens
    for lang, r in rates.items():
        assert 0 < r["rate"] < 1
        assert abs(r["rate"] - 10.0 / r["tokens"]) < 1e-12
    huge = T3.token_budget_rates(d, "lang", budget_per_stratum=10**12).collect()
    assert all(r["rate"] == 1.0 for r in huge)  # under budget keeps all


def test_quantized_search_recall(spark, embs):
    """Compression-aware search: top-k over int8-reconstructed vectors
    recovers most of the exact float top-k (the 100-TB pattern: scan
    codes, not floats; re-rank survivors with full precision)."""
    from azuredataengineering_deeplearning_spark.operators import similarity as SIM2

    queries = embs.filter(F.col("vec_id") < 5)
    exact = SIM2.cosine_topk(embs, queries, k=10)
    corpus_q = SIM2.dequantize_embeddings(
        SIM2.quantize_embeddings(embs, "embedding", lo=-0.6, hi=0.6),
        "codes",
        lo=-0.6,
        hi=0.6,
    ).select("vec_id", F.col("embedding_deq").alias("embedding"))
    approx = SIM2.cosine_topk(corpus_q, queries, k=10)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, recall


def test_pii_scrub_known_strings(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.smith+x@corp.io now"),
            (2, "server 192.168.0.1 up, ssn 123-45-6789"),
            (3, "call (425) 555-1234 or +1 206-555-0000"),
            (4, "clean text with no pii at all"),
        ],
        "id int, t string",
    )
    out = {r.id: r for r in df.select("id", T.pii_scrub("t").alias("c"), *T.pii_counts("t")).collect()}
    assert out[1].c == "mail <EMAIL> now" and out[1].n_email == 1
    assert out[2].c == "server <IP> up, ssn <SSN>" and out[2].n_ipv4 == 1 and out[2].n_ssn == 1
    assert out[3].n_phone == 2 and "<PHONE>" in out[3].c
    assert out[4].c == "clean text with no pii at all"
    assert out[4].n_email == out[4].n_phone == 0


def test_pii_counts_no_double_counting(spark):
    # an email's host looks nothing like a phone, but digits inside a
    # redacted span must not be re-counted by later classes
    df = spark.createDataFrame([(1, "x 123-45-6789 y")], "id int, t string")
    r = df.select(*T.pii_counts("t")).first()
    assert r.n_ssn == 1 and r.n_phone == 0


def test_chunk_and_remove_common_spans(spark):
    boiler = "all rights reserved by corp"
    rows = [(i, f"unique words {i} here plus " + boiler) for i in range(4)]
    rows.append((9, "totally different text entirely"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r.clean_text for r in
           T.remove_common_spans(df, "doc_id", "text", k=5, min_docs=3).collect()}
    # the shared 5-token boilerplate span is removed from every doc…
    for i in range(4):
        assert boiler not in out[i]
        assert f"unique words {i} here plus" == out[i]
    # …and the unique doc is untouched
    assert out[9] == "totally different text entirely"


def test_pack_sequences_known_bins(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e"), (3, "a b c"), (4, "a b c d e f")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in
           T.pack_sequences(df, "doc_id", T.token_count("text"), budget=10).collect()}
    # cum-before: 0, 4, 9, 12 → bins 0,0,0,1; offsets 0,4,9,2
    assert [(out[i].pack_id, out[i].pack_offset) for i in (1, 2, 3, 4)] == [
        (0, 0), (0, 4), (0, 9), (1, 2)
    ]


def test_vocab_and_tfidf(spark):
    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird"), (3, "fish")],
        "doc_id int, text string",
    )
    v = {r.token: (r.term_freq, r.doc_freq) for r in
         T.vocab_stats(df, "doc_id", "text").collect()}
    assert v == {"cat": (2, 1), "dog": (2, 2), "bird": (1, 1), "fish": (1, 1)}
    top = {r.doc_id: r.token for r in
           T.tfidf_topk(df, "doc_id", "text", k=1).collect()}
    # doc 1: cat tf=2 rare (df=1) wins; doc 2: bird (df=1) beats dog (df=2)
    assert top[1] == "cat" and top[2] == "bird" and top[3] == "fish"


@pytest.mark.slow
def test_semantic_dedup_vs_exact_pairs(spark, embs):
    out = SIM.semantic_dedup(embs, threshold=0.45, n_lists=8).cache()
    # every id appears exactly once, reps are members of their own group
    assert out.count() == embs.count()
    assert out.filter("cluster_rep IS NULL").count() == 0
    dups = out.filter("is_semantic_dup = 1")
    # flagged dups must be real near-dups: each flagged id shares a
    # >= threshold cosine pair with something (soundness vs exact set)
    exact = SIM.embedding_near_duplicates(embs, threshold=0.45)
    exact_ids = {r.id_a for r in exact.collect()} | {r.id_b for r in exact.collect()}
    got_ids = {r.vec_id for r in dups.collect()}
    assert got_ids <= exact_ids
    # cluster blocking keeps most of the exact signal on this corpus
    if exact_ids:
        assert len(got_ids) >= 1


@pytest.mark.slow
def test_semantic_dedup_identical_vectors_collapse(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r.vec_id: r for r in SIM.semantic_dedup(df, threshold=0.99, n_lists=2).collect()}
    assert out[1].is_semantic_dup == 0 and out[1].cluster_rep == 1
    assert out[2].is_semantic_dup == 1 and out[2].cluster_rep == 1
    assert out[3].is_semantic_dup == 0


@pytest.mark.slow
def test_semantic_dedup_lsh_identical_vectors_collapse(spark):
    # the deterministic sign-LSH blocking variant (r13, full-oracle
    # catalog row): identical vectors share every plane sign, so they
    # always co-block and collapse regardless of the blocking draw
    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {
        r.vec_id: r
        for r in SIM.semantic_dedup_lsh(
            df, threshold=0.99, n_bits=2, dim=3
        ).collect()
    }
    assert out[1].is_semantic_dup == 0 and out[1].cluster_rep == 1
    assert out[2].is_semantic_dup == 1 and out[2].cluster_rep == 1
    assert out[3].is_semantic_dup == 0


@pytest.mark.slow
def test_unigram_cross_entropy_ranks_divergent_docs(spark):
    # doc 3 uses tokens nothing else uses -> rare unigrams -> high xent;
    # doc 1 repeats the corpus-dominant token -> low xent
    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "the cat the dog"), (3, "zyx qwv jkl pqr")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r.xent for r in
           T.unigram_cross_entropy(df, "doc_id", "text").collect()}
    assert out[1] < out[2] < out[3]
    # exact value for doc 1: p(the) = 6/12 -> xent = -ln(0.5)
    import math
    assert abs(out[1] - (-math.log(6 / 12))) < 1e-9


def test_fuzzy_pairs_blocking_and_threshold(spark):
    from pyspark.sql import functions as F
    from azuredataengineering_deeplearning_spark.operators.dedup import fuzzy_pairs

    rows = [
        (1, "kitten"), (2, "sitten"), (3, "mitten"),   # dist 1 of each other
        (4, "kitchen"),                                  # dist 2 from kitten
        (5, "zebra"),                                    # different block
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    # block on last 5 chars so kitten/sitten/mitten share a block
    out = fuzzy_pairs(df, "id", "t", F.substring("t", -5, 5), max_dist=1)
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in out.collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_unicode_fold_composed_vs_decomposed(spark):
    from azuredataengineering_deeplearning_spark.operators.text import (
        nfc_normalize_udf, strip_accents_udf,
    )
    from pyspark.sql import functions as F

    composed = "café"                 # é as one codepoint
    decomposed = "café"              # e + combining acute
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, None)], "id int, t string"
    )
    nfc, fold = nfc_normalize_udf(), strip_accents_udf()
    out = {r["id"]: (r["n"], r["f"]) for r in df.select(
        "id", nfc(F.col("t")).alias("n"), fold(F.col("t")).alias("f")
    ).collect()}
    assert out[1][0] == out[2][0] == composed   # NFC unifies both forms
    assert out[1][1] == out[2][1] == "cafe"     # folding drops the accent
    assert out[3] == (None, None)


def test_binarize_and_hamming(spark):
    from azuredataengineering_deeplearning_spark.operators.similarity import (
        binarize_embeddings, hamming_topk,
    )

    # 64-dim: v0 all-positive, v1 one flipped dim, v2 all-negative
    v0 = [1.0] * 64
    v1 = [1.0] * 63 + [-1.0]
    v2 = [-1.0] * 64
    df = spark.createDataFrame(
        [(0, v0), (1, v1), (2, v2)], "vec_id long, embedding array<float>"
    )
    b = binarize_embeddings(df, "embedding", dim=64)
    rows = {r["vec_id"]: r["bits"] for r in b.collect()}
    assert rows[0] == [2**32 - 1, 2**32 - 1]      # all 32 bits set per word
    assert rows[2] == [0, 0]
    out = hamming_topk(b, b.filter("vec_id = 0"), k=3)
    got = [(r["vec_id"], r["hamming"]) for r in
           sorted(out.collect(), key=lambda r: r["hamming"])]
    assert got == [(0, 0), (1, 1), (2, 64)]       # self 0, one bit, all bits


def test_chunk_text_overlap_windows(spark):
    import pytest
    from azuredataengineering_deeplearning_spark.operators.text import chunk_text_overlap

    toks = " ".join(str(i) for i in range(10))   # 10 tokens
    df = spark.createDataFrame([(1, toks), (2, "a b")], "id int, text string")
    out = chunk_text_overlap(df, "id", "text", size=4, overlap=2)
    got = {(r["id"], r["chunk_idx"]): r["chunk"] for r in out.collect()}
    # stride 2: windows at 0,2,4,6 cover through token 9; short doc = itself
    assert got[(1, 0)] == "0 1 2 3"
    assert got[(1, 1)] == "2 3 4 5"
    assert got[(1, 3)] == "6 7 8 9"
    assert max(i for (d, i) in got if d == 1) == 3
    assert got[(2, 0)] == "a b"
    with pytest.raises(ValueError):
        chunk_text_overlap(df, "id", "text", size=4, overlap=4)


@pytest.mark.slow
def test_incremental_dedup_contract(spark):
    from azuredataengineering_deeplearning_spark.operators.dedup import (
        incremental_dedup,
    )
    from azuredataengineering_deeplearning_spark.operators.text import fingerprint

    hist = spark.createDataFrame(
        [(1, "seen before"), (2, "old content")], "doc_id long, text string"
    )
    store = hist.select(fingerprint("text").alias("fp")).distinct()
    batch = spark.createDataFrame(
        [
            (10, "seen before"),    # in store -> dropped
            (11, "brand new"),      # survivor
            (12, "brand new"),      # intra-batch dup of 11 -> dropped
            (13, "also new"),       # survivor
        ],
        "doc_id long, text string",
    )
    survivors, store2 = incremental_dedup(batch, store, "doc_id", "text")
    assert sorted(r.doc_id for r in survivors.collect()) == [11, 13]
    # updated store covers history + all batch content (incl. dropped)
    assert store2.count() == 4  # seen-before, old, brand-new, also-new
    # day 2: replaying the same batch against the updated store -> nothing
    s3, _ = incremental_dedup(batch, store2, "doc_id", "text")
    assert s3.count() == 0


def test_temperature_mixture_weights(spark):
    import pyspark.sql.functions as F

    from azuredataengineering_deeplearning_spark.operators.setops import (
        temperature_mixture,
    )

    # skewed sources: 9000 vs 1000 rows
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 9000, "big").otherwise("small").alias("src"),
    )
    out = temperature_mixture(df, "src", "k", target_rows=1000, alpha=0.0)
    counts = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # alpha=0: equal EXPECTED draw per source (500 each), binomial noise
    assert abs(counts["big"] - 500) < 120 and abs(counts["small"] - 500) < 120
    # determinism: identical second draw (hash-based, not RNG)
    again = temperature_mixture(df, "src", "k", target_rows=1000, alpha=0.0)
    assert sorted(r.k for r in out.collect()) == sorted(r.k for r in again.collect())
    # alpha=1: proportional — big keeps ~9x small
    prop = temperature_mixture(df, "src", "k", target_rows=1000, alpha=1.0)
    pc = {r.src: r.n for r in prop.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert pc["big"] > 5 * pc.get("small", 1)


def test_dsir_scores_rank_target_like_docs(spark):
    # target distribution = pure "spark query" vocabulary; raw docs that
    # share it must outscore raw docs that don't
    rows = [(i, "spark query " * 10, True) for i in range(20)]
    rows += [(100, "spark query spark query spark", False)]
    rows += [(101, "apple banana cherry durian elderberry", False)]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t, _ in rows], "doc_id long, text string"
    )
    scores = T.dsir_scores(
        df, "doc_id", "text", F.col("doc_id") < 100, buckets=64
    )
    got = {r.doc_id: r.log_weight for r in scores.collect()}
    assert set(got) == {100, 101}  # raw side only
    assert got[100] > got[101]


def test_dsir_scores_zero_for_uninformative_features(spark):
    # identical target and raw token mixes → likelihood ratio ~ 0
    df = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z")], "doc_id long, text string"
    )
    got = T.dsir_scores(
        df, "doc_id", "text", F.col("doc_id") == 1, buckets=16
    ).collect()
    assert len(got) == 1 and abs(got[0].log_weight) < 1e-9


def test_gopher_quality_flags_rules_fire_independently(spark):
    long_ok = "the " + "word " * 50 + "a"
    too_short = "the a b"
    no_stopwords = "alpha beta gamma " * 20
    numeric_soup = " ".join(["1234"] * 60)
    df = spark.createDataFrame(
        [(1, long_ok), (2, too_short), (3, no_stopwords.strip()), (4, numeric_soup)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.gopher_quality_flags(df, "doc_id", "text").collect()}
    assert out[1].keep
    assert not out[2].ok_token_count and not out[2].keep
    assert not out[3].ok_stopwords and not out[3].keep
    assert not out[4].ok_alpha and not out[4].keep


def test_unigram_drift_nonnegative_and_symmetric_universe(spark):
    df = spark.createDataFrame(
        [(1, "a", "x x y z"), (2, "b", "x y y z"), (3, "c", "x y z z")],
        "doc_id long, src string, text string",
    )
    out = {(r.source_a, r.source_b): r.kl
           for r in T.unigram_drift(df, "src", "text", buckets=32).collect()}
    assert len(out) == 6  # 3 sources, ordered pairs
    assert all(v >= -1e-12 for v in out.values())  # KL >= 0


def test_unigram_drift_identical_groups_zero(spark):
    df = spark.createDataFrame(
        [(1, "a", "p q r"), (2, "b", "p q r")],
        "doc_id long, src string, text string",
    )
    out = T.unigram_drift(df, "src", "text", buckets=16).collect()
    assert all(abs(r.kl) < 1e-12 for r in out)


def test_bigram_xent_scores_fluent_below_scrambled(spark):
    # repetitive bigram structure vs shuffled tokens of the same corpus
    fluent = "the cat sat on the mat " * 10
    scrambled = "mat the on sat cat mat the sat on cat " * 6
    df = spark.createDataFrame(
        [(1, fluent.strip()), (2, fluent.strip()), (3, scrambled.strip())],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.xent2 for r in
           T.bigram_cross_entropy(df, "doc_id", "text").collect()}
    # docs 1/2 share every bigram -> low xent; scrambled doc diverges
    assert got[1] < got[3]


def test_bigram_xent_skips_single_token_docs(spark):
    df = spark.createDataFrame(
        [(1, "only"), (2, "two words")], "doc_id long, text string"
    )
    got = {r.doc_id for r in T.bigram_cross_entropy(df, "doc_id", "text").collect()}
    assert got == {2}


def test_pmi_collocations_rank_exclusive_pair_highest(spark):
    # "alpha beta" always co-occur exclusively; "x"/"y" appear everywhere
    rows = [(i, "alpha beta x y x y") for i in range(10)]
    rows += [(100 + i, "x y x y x y") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.pmi_collocations(df, "text", window=2, min_count=5, top_k=5).collect()
    assert out, "collocations expected"
    assert (out[0].w1, out[0].w2) == ("alpha", "beta")
    # PMI of the exclusive pair strictly above the ubiquitous pair
    ubi = [r for r in out if {r.w1, r.w2} == {"x", "y"}]
    assert all(out[0].pmi > r.pmi for r in ubi)


def test_script_profile_classifies_mixed_content(spark):
    df = spark.createDataFrame(
        [(1, "abc 123 !?"), (2, "日本語テキスト"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id", *T.script_profile("text")
    ).collect()}
    r1 = out[1]
    assert abs(r1.frac_latin - 0.3) < 1e-9      # 3 of 10 chars
    assert abs(r1.frac_digit - 0.3) < 1e-9
    assert abs(r1.frac_space - 0.2) < 1e-9
    assert abs(r1.frac_punct - 0.2) < 1e-9
    assert out[2].frac_non_ascii == 1.0
    assert out[3].frac_latin == 0.0  # empty doc guarded by GREATEST(n,1)


def test_bm25_ranking_properties(spark):
    from azuredataengineering_deeplearning_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),        # tf=3 for 'spark'
            (2, "spark engine"),                     # tf=1
            (3, "pandas dataframe engine"),          # no query term 'spark'
            (4, "rare gem here"),                    # only doc with 'gem'
            (5, "common words only nothing else"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ["spark"], k=10)
    rows = out.collect()
    ids = [r.doc_id for r in rows]
    # only docs containing a query term are scored
    assert set(ids) == {1, 2}
    # higher tf wins (same dl effects small here)
    assert ids[0] == 1 and rows[0].bm25 > rows[1].bm25
    # a rarer term out-scores a common one at equal tf
    two = {
        r.doc_id: r.bm25
        for r in bm25_topk(docs, "doc_id", "text", ["engine", "gem"], k=10).collect()
    }
    assert two[4] > two[3]  # 'gem' df=1 beats 'engine' df=3 at tf=1


@pytest.mark.slow
def test_leakage_safe_split_keeps_clusters_together(spark):
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.operators.dedup import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    # two explicit near-dup clusters: {0,1,2} and {10, 11}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    out = leakage_safe_split(docs, "doc_id", pairs, [0.8, 0.2]).cache()
    by_id = {r.doc_id: (r.group_key, r.split) for r in out.collect()}
    # whole clusters share one group key and one split
    assert by_id[0] == by_id[1] == by_id[2]
    assert by_id[10] == by_id[11]
    assert by_id[0][0] == 0 and by_id[10][0] == 10  # canonical min ids
    # singletons key as themselves
    assert by_id[42][0] == 42
    # both splits populated, deterministic across invocations
    splits = [v[1] for v in by_id.values()]
    assert set(splits) == {0, 1}
    again = {
        r.doc_id: r.split
        for r in leakage_safe_split(docs, "doc_id", pairs, [0.8, 0.2]).collect()
    }
    assert again == {k: v[1] for k, v in by_id.items()}


def test_resolve_clusters_converges_on_long_chain(resolve, spy_rounds):
    """A 60-node chain converges to the single component min on both
    paths: distributed label rounds (driver bounds 1, 2, 3) and the
    driver union-find (default bound). Hooking and jumping keep the
    round count logarithmic in the diameter: 5 rounds here, where plain
    min-label propagation would need ~59."""
    edges = [(i, i + 1) for i in range(100, 160)]
    for bound in (1, 2, 3):
        spy_rounds["rounds"] = 0
        labels = resolve(edges, bound)
        assert set(labels.values()) == {100} and len(labels) == 61, bound
        assert 1 <= spy_rounds["rounds"] <= 10, (bound, spy_rounds["rounds"])
    spy_rounds["rounds"] = 0
    labels = resolve(edges, None)
    assert set(labels.values()) == {100} and len(labels) == 61
    assert spy_rounds["rounds"] == 0


def test_resolve_clusters_terminates_on_300_node_chain(resolve, spy_rounds):
    """No iteration cap: with a driver bound of 1 a 300-node chain needs
    several distributed rounds, and the loop runs until the cluster
    graph fits, so the labels come back converged, never cut short.
    Hooking and jumping finish it in 7 rounds (~298 without)."""
    labels = resolve([(i, i + 1) for i in range(299)], 1)
    assert len(labels) == 300 and set(labels.values()) == {0}
    assert 1 <= spy_rounds["rounds"] <= 12, spy_rounds["rounds"]


def test_resolve_clusters_scrambled_chains(resolve, components, spy_rounds):
    """Chains whose ids are a permutation (i * 7919 mod 1009) split into
    many label classes whose label nodes lie far from the class edges.
    Min-label propagation with pointer jumping moves a smaller label one
    edge per round there (29 rounds at driver bound 5); the hook moves
    a whole class at once (5 rounds). An earlier resolver stopped at
    its iteration cap on this shape (100 such 2000-node chains) and
    returned unconverged labels."""
    perm = lambda i: i * 7919 % 1009  # noqa: E731 - a bijection on 0..1008
    edges = [(perm(i), perm(i + 1)) for i in range(300) if i % 100 != 99]
    want = components(edges)
    assert len(set(want.values())) == 3
    assert resolve(edges, 5) == want
    assert 1 <= spy_rounds["rounds"] <= 10, spy_rounds["rounds"]
    assert resolve(edges, None) == want


def test_resolve_clusters_ignores_null_ids(resolve):
    """A pair with a NULL id joins nothing, on either path: node 3,
    paired only with NULL, is absent, and no NULL node comes back."""
    edges = [(1, 2), (3, None), (None, None), (2, 4), (None, 4)]
    for bound in (1, None):
        assert resolve(edges, bound) == {1: 1, 2: 1, 4: 1}, bound


def test_resolve_clusters_small_graph_job_guard(spark, count_jobs, components):
    """A pair list under the driver bound resolves in at most 2 Spark
    jobs (one bounded collect of the pairs), and the result is a
    driver-local frame: collecting it launches none."""
    edges = [(4 * c + k, 4 * c) for c in range(10) for k in (1, 2, 3)] + [
        (4 * c + 1, 4 * c + 2) for c in range(10)
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out, call_jobs = count_jobs(lambda: DD.resolve_clusters(pairs))
    rows, collect_jobs = count_jobs(out.collect)
    assert call_jobs <= 2 and collect_jobs == 0, (call_jobs, collect_jobs)
    assert {r.node: r.cluster_id for r in rows} == components(edges)


def test_resolve_clusters_under_bound_skips_checkpoint_and_rounds(
    spark, monkeypatch, spy_rounds, components
):
    """Under the driver bound the pair list is collected as it is: no
    edge-list localCheckpoint and no label round. Over it (bound 3),
    both run."""
    edges = [(1, 2), (2, 3), (5, 6), (7, 7), (3, 1), (9, 8)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    frame = type(pairs)
    checkpoint, calls = frame.localCheckpoint, []

    def counting_checkpoint(self, *args, **kwargs):
        calls.append(1)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", counting_checkpoint)
    got = {r.node: r.cluster_id for r in DD.resolve_clusters(pairs).collect()}
    assert got == components(edges)
    assert calls == [] and spy_rounds["rounds"] == 0
    assert spy_rounds["driver_rows"] == [len(edges)]
    monkeypatch.setattr(DD, "_DRIVER_EDGES", 3)
    got = {r.node: r.cluster_id for r in DD.resolve_clusters(pairs).collect()}
    assert got == components(edges)
    assert calls and spy_rounds["rounds"] >= 1


def test_resolve_clusters_repeated_pairs_stay_on_driver(
    spark, monkeypatch, spy_rounds, components
):
    """A pair list over the bound only through repeated and mirrored
    pairs (10 rows, 2 distinct edges, bound 3) still resolves on the
    driver: the distinct edge list fits, so no label round runs."""
    edges = [(1, 2), (2, 1), (3, 4)] * 3 + [(4, 3)]
    monkeypatch.setattr(DD, "_DRIVER_EDGES", 3)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.cluster_id for r in DD.resolve_clusters(pairs).collect()}
    assert got == components(edges)
    assert spy_rounds["rounds"] == 0 and spy_rounds["driver_rows"] == [2]


def test_resolve_clusters_overflow_runs_pair_plan_once(spark, monkeypatch, components):
    """On overflow the edge list is built from the pairs the bounded
    collect computed: every pair row is produced once, counted by an
    accumulator in a UDF of the pair plan."""
    produced = spark.sparkContext.accumulator(0)

    def tag(x):
        produced.add(1)
        return x

    edges = [(4 * c + k, 4 * c) for c in range(10) for k in (1, 2, 3)]
    counted = F.udf(tag, "long").asNondeterministic()
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").select(
        counted("id_a").alias("id_a"), "id_b"
    )
    monkeypatch.setattr(DD, "_DRIVER_EDGES", 3)
    got = {r.node: r.cluster_id for r in DD.resolve_clusters(pairs).collect()}
    assert got == components(edges)
    assert produced.value == len(edges)


def test_resolve_clusters_names_its_jobs(spark, monkeypatch):
    """The jobs resolve_clusters launches carry the job description
    ``dedup.resolve_clusters`` (read back from the status store); the
    caller's description and job group hold again afterwards, and the
    caller's group also covers the operator's jobs."""
    sc = spark.sparkContext
    group = f"describe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "caller description")
    try:
        for bound in (None, 2):
            if bound:
                monkeypatch.setattr(DD, "_DRIVER_EDGES", bound)
            pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            DD.resolve_clusters(pairs)
            assert sc.getLocalProperty("spark.job.description") == "caller description"
            assert sc.getLocalProperty("spark.jobGroup.id") == group
            ids = set(sc.statusTracker().getJobIdsForGroup(group)) - before
            assert ids, bound
            store = sc._jsc.sc().statusStore()
            descs = [store.job(i).description() for i in ids]
            described = {d.get() if d.isDefined() else None for d in descs}
            assert described == {"dedup.resolve_clusters"}, (bound, described)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("bound", [1, None])
def test_resolve_clusters_result_outlives_cache_scope(spark, monkeypatch, components, bound):
    """resolve_clusters consumes the pair plan before it returns (a
    bounded collect, or a checkpointed edge list on overflow), so the
    MinHash sketch caches released when cache_scope exits are no
    longer needed: none
    is left tracked, and the result still collects correctly on both
    paths."""
    monkeypatch.setattr(DD, "_DRIVER_EDGES", bound or DD._DRIVER_EDGES)
    stories = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a stitch in time saves nine but only when the needle is threaded",
        "rain in the valley kept every farmer indoors for most of the week",
        "old maps of the harbour show three lighthouses and one sunken pier",
    ]
    texts = [t for t in stories for _ in range(3)] + [
        f"unrelated words {i} about nothing in particular at all" for i in range(3)
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    mark = DD.tracked_cache_count()
    with DD.cache_scope():
        pairs = DD.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.8)
        out = DD.resolve_clusters(pairs)
        edges = [(r.id_a, r.id_b) for r in pairs.collect()]
        assert DD.tracked_cache_count() > mark
    assert DD.tracked_cache_count() == mark
    assert {r.node: r.cluster_id for r in out.collect()} == components(edges)
    # the 12 story docs form 4 triples of exact copies
    assert sorted(set(components(edges).values())) == [0, 3, 6, 9]


def test_contamination_hash_grams_matches_string_grams(spark):
    from azuredataengineering_deeplearning_spark.operators.dedup import (
        contamination_flags,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text with no shared phrases at all here"),
            (3, "another doc where the quick brown fox jumps over fences"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps over everything")],
        "doc_id long, text string",
    )
    s = {(r.doc_id, r.overlap_grams)
         for r in contamination_flags(corpus, bench, n=5).collect()}
    h = {(r.doc_id, r.overlap_grams)
         for r in contamination_flags(corpus, bench, n=5, hash_grams=True).collect()}
    assert s == h and {d for d, _ in s} == {1, 3}


@pytest.mark.slow
def test_resolve_clusters_tiny_driver_bound_converges(resolve):
    """Driver bounds smaller than the graph force distributed rounds
    (bound 1: until a single cross edge is left; bound 10: until the
    chain's cross edges fit); the default resolves it on the driver at
    once. An 81-node chain beside 30 four-node stars stays exact on
    every path."""
    edges = [(i, i + 1) for i in range(0, 80)] + [
        (1000 + 4 * j + k, 1000 + 4 * j) for j in range(30) for k in (1, 2, 3)
    ]
    for bound in (1, 10, None):
        labels = resolve(edges, bound)
        assert all(labels[i] == 0 for i in range(81)), bound
        for j in range(30):
            root = 1000 + 4 * j
            assert all(labels[root + k] == root for k in (0, 1, 2, 3)), bound


def test_hof_builders_tokenize_exactly_once(spark):
    """Regression tripwire for the bind_once fixes: Catalyst inlines
    captured expressions into HOF lambda bodies, so an unbound builder
    shows split() once PER ELEMENT reference in the analyzed plan
    (O(tokens²) re-tokenize per doc at runtime). Every token-array
    builder must show exactly ONE split() per consumed text column."""
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.operators.text import (
        chunk_text_overlap, chunk_tokens, word_ngrams, word_shingles,
    )

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")

    def split_count(frame):
        return frame._jdf.queryExecution().analyzed().toString().count("split(")

    for expr in (
        word_shingles("text", 3),
        word_ngrams("text", 2),
        chunk_tokens("text", 2),
    ):
        assert split_count(df.select(expr.alias("x"))) == 1
    assert split_count(chunk_text_overlap(df, "doc_id", "text", size=3, overlap=1)) == 1

    # funnel steps: each step's time is bound once per row before the
    # next step's filter references it — the binding idiom must appear
    from azuredataengineering_deeplearning_spark.operators.windows import (
        funnel_steps,
    )

    ev = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "c")], "u long, ts long, e string"
    )
    fp = funnel_steps(ev, "u", "ts", "e", ["a", "b", "c"])
    plan = fp._jdf.queryExecution().analyzed().toString()
    assert "transform(array(" in plan  # bind_once marker on steps 1+
    rows = {r.u: r for r in fp.collect()}
    assert rows[1].steps_completed == 3


def test_exact_canonical_matches_exact_duplicates(spark):
    # the single-pass window twin must agree with the groupBy+join form
    from azuredataengineering_deeplearning_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "same text"),
            (3, "unique"),
            (4, "same text"),
            (5, "other dup"),
            (6, "other dup"),
        ],
        "doc_id long, text string",
    )
    via_window = {
        (r["doc_id"], r["canonical_id"])
        for r in DD.exact_canonical(df, "doc_id", "text").collect()
    }
    via_join = {
        (r["doc_id"], r["canonical_id"])
        for r in DD.exact_duplicates(df, "doc_id", "text").collect()
    }
    assert via_window == via_join == {
        (1, 1), (2, 1), (3, 3), (4, 1), (5, 5), (6, 5),
    }


def test_gram_hashes_matches_word_shingles_cardinality(spark):
    # hash-slice shingles must be a bijective image of the string
    # shingles per doc (same count, same cross-doc equality structure)
    from azuredataengineering_deeplearning_spark.operators.text import (
        gram_hashes, word_shingles,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),        # identical -> identical hash sets
            (3, "b c d e f"),         # overlaps 1 by two 3-shingles
            (4, "x y"),               # shorter than k -> empty
        ],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        F.size(word_shingles("text", 3)).alias("ns"),
        F.size(gram_hashes("text", 3)).alias("nh"),
        gram_hashes("text", 3).alias("h"),
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        assert r["ns"] == r["nh"]
    assert sorted(by_id[1]["h"]) == sorted(by_id[2]["h"])
    shared = set(by_id[1]["h"]) & set(by_id[3]["h"])
    assert len(shared) == 2  # 'b c d' and 'c d e'
    assert by_id[4]["nh"] == 0


def test_ngram_jaccard_size_ratio_prune_is_exact(spark):
    # a pair exactly at the threshold with UNEQUAL sizes must survive
    # the size-ratio prune (jaccard >= t ⟹ min/max >= t, tight case)
    from azuredataengineering_deeplearning_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # 4 distinct 3-shingles
            (2, "a b c d e f g h"),      # 6 shingles, shares 4 -> j = 4/6
            (3, "p q r s t u"),          # disjoint
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(df, "doc_id", "text", threshold=4 / 6).collect()
    }
    assert set(got) == {(1, 2)}
    assert abs(got[(1, 2)] - 4 / 6) < 1e-12


def test_fuzzy_pairs_length_prefilter_is_exact(spark):
    # boundary: a pair whose length difference EQUALS max_dist must
    # survive the prefilter (|len diff| <= dist is necessary, not <)
    from azuredataengineering_deeplearning_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "smith"), (2, "smithe"), (3, "smythes"), (4, "jones")],
        "id long, name string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in DD.fuzzy_pairs(
            df, "id", "name", F.substring("name", 1, 2), max_dist=1
        ).collect()
    }
    # smith/smithe: dist 1, len diff 1 (boundary) — must be present;
    # smithe/smythes: len diff 1 but dist 2 — dropped by levenshtein;
    # smith/smythes: len diff 2 — pruned before the DP
    assert got == {(1, 2): 1}
