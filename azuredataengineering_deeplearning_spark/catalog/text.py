"""Catalog: text analysis + dedup suite over the documents table."""

from __future__ import annotations

from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.catalog import query
from azuredataengineering_deeplearning_spark.operators import dedup as DD
from azuredataengineering_deeplearning_spark.operators import text as T
from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

# marker vocabularies for the lang-ID heuristic — drawn from the corpus
# vocabulary; deterministic, lexicographic tiebreak
LANG_MARKERS = {
    "de": ["table", "row"],
    "en": ["the", "a"],
    "es": ["data", "column"],
    "fr": ["filter", "sort"],
    "zh": ["spark", "query"],
}

_SW = "string_split(text, ' ')"


@query(
    "t_token_count",
    f"SELECT doc_id, len({_SW}) AS n_tokens FROM documents",
)
def t_token_count(spark, sf_dir):
    """Token counting (whitespace), D12/O5 input."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return d.select("doc_id", T.token_count("text").alias("n_tokens"))


@query(
    "t_bpe_token_count",
    # the lookaround split isn't RE2, but its token count is: every
    # maximal alnum run is one token, every non-alnum non-space char is
    # one token — two plain regexp_extract_all counts.
    r"""SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9]+'))
         + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_tokens
       FROM documents""",
)
def t_bpe_token_count(spark, sf_dir):
    """BPE-ish token counting (splits word pieces / digits / punct)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return d.select("doc_id", T.bpe_ish_token_count("text").alias("n_tokens"))


@query(
    "t_quality_score",
    f"""
    WITH w AS (SELECT doc_id, {_SW} AS w, text FROM documents),
    feats AS (
      SELECT doc_id,
             len(w) AS n,
             len(list_filter(w, t -> t = 'the' OR t = 'a')) * 1.0 / len(w) AS sw,
             list_sum(list_transform(w, t -> length(t))) * 1.0 / len(w) AS mtl
      FROM w
    )
    SELECT doc_id,
           (CASE WHEN n BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN sw > 0.01 AND sw < 0.5 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN mtl > 2.0 AND mtl < 12.0 THEN 0.3 ELSE 0.0 END) AS quality
    FROM feats
    """,
)
def t_quality_score(spark, sf_dir):
    """Heuristic document quality scoring (length window + stopword
    ratio + token-length sanity)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


_LANG_SCORE_SQL = ",\n".join(
    "{'lang': '%s', 's': len(list_filter(w, t -> %s)) * 1.0 / len(w)}"
    % (lang, " OR ".join(f"t = '{m}'" for m in markers))
    for lang, markers in sorted(LANG_MARKERS.items())
)


@query(
    "t_lang_id",
    f"""
    WITH w AS (SELECT doc_id, {_SW} AS w FROM documents),
    sc AS (SELECT doc_id, unnest([{_LANG_SCORE_SQL}]) AS u FROM w)
    SELECT doc_id, pred_lang FROM (
      SELECT doc_id, u.lang AS pred_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY u.s DESC, u.lang ASC) AS rn
      FROM sc
    ) WHERE rn = 1
    """,
)
def t_lang_id(spark, sf_dir):
    """n-gram-heuristic language ID: argmax marker-token ratio,
    lexicographic tiebreak."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return d.select("doc_id", T.lang_id("text", LANG_MARKERS).alias("pred_lang"))


@query(
    "t_fingerprint",
    r"SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp FROM documents",
)
def t_fingerprint(spark, sf_dir):
    """Document content fingerprint (md5 of normalized text)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return d.select("doc_id", T.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# dedup suite
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    r"""
    WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS h
                FROM documents)
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY h) AS canonical_id,
           CASE WHEN doc_id != MIN(doc_id) OVER (PARTITION BY h) THEN 1 ELSE 0 END AS is_duplicate
    FROM fp
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy with deterministic survivor."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.exact_duplicates(d, "doc_id", "text")


_SHINGLE_SQL = """
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in generate_series(1, len(w) - 2)]) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE len(w) >= 3
"""

# Gram-join formulation: explode distinct shingles, count per-pair
# co-occurrences, jaccard = i/(na+nb-i). Equivalent to the quadratic
# list_intersect pair join for any thr > 0 (pairs with no shared gram
# can't pass), and ~100x faster — intersection counts and lengths are
# the same integers, so the divided doubles are bit-identical.
_EXACT_JACCARD_SQL = f"""
    WITH sh AS MATERIALIZED ({_SHINGLE_SQL}),
    ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
    ov AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, i * 1.0 / (na + nb - i) AS jaccard
    FROM ov WHERE i * 1.0 / (na + nb - i) >= {{thr}}
"""


@query("dedup_minhash_lsh", _EXACT_JACCARD_SQL.format(thr=0.8))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-verified at jaccard ≥ 0.8.
    The oracle is brute-force exact jaccard: with 8 bands × 2 rows the
    LSH miss probability at s ≥ 0.9 is ~2e-6, so sketch output ==
    ground truth on this corpus (planted dups are s ≥ 0.9)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.minhash_near_duplicates(d, "doc_id", "text", threshold=0.8)


@query("dedup_ngram_jaccard", _EXACT_JACCARD_SQL.format(thr=0.05))
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram (3-shingle) jaccard pairs ≥ 0.05 — the quadratic
    ground-truth path (block by lang/length at scale)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.05)


_H60 = "CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)"
_SIMHASH_BITS = 32
_SIMHASH_SUMS = ",\n".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
    for b in range(_SIMHASH_BITS)
)

_SIMHASH_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
      SELECT doc_id, {_H60} AS h FROM toks
    ), bits AS (
      SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id
    )
    SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM bits
"""


@query("dedup_simhash_sketch", _SIMHASH_SQL)
def dedup_simhash_sketch(spark, sf_dir):
    """SimHash sketches (32-bit, frequency-weighted sign aggregation) —
    bit-identical to the DuckDB reconstruction of the same arithmetic."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.simhash(d, "doc_id", "text", bits=_SIMHASH_BITS)


@query(
    "dedup_simhash_pairs",
    f"""
    WITH sk AS ({_SIMHASH_SQL})
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM sk a JOIN sk b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 6
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at Hamming ≤ 6 (unblocked here; prefix
    rotate-and-block at scale)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.simhash_near_duplicates(d, "doc_id", "text", max_hamming=6)


_MINSIG_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s.unnest), 1, 15)) AS BIGINT) % 2147483647 AS h
      FROM (SELECT doc_id, unnest(s) AS unnest FROM sh) s
    )
    SELECT doc_id, array_to_string([{{mins}}], ',') AS signature_csv
    FROM h GROUP BY doc_id
"""


@query(
    "dedup_minhash_signatures",
    _MINSIG_SQL.format(
        mins=", ".join(
            f"MIN(({a} * h + {b}) % 2147483647)" for a, b in DD.MINHASH_FAMILY
        )
    ),
)
def dedup_minhash_signatures(spark, sf_dir):
    """Raw MinHash signatures — every stage of the sketch pipeline is
    independently oracle-checked (CSV-joined: the driver canonicalizer
    cannot hash list cells, and the join proves element order)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    sig = DD.minhash_signatures(d, "doc_id", "text")
    return sig.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("signature"), lambda v: v.cast("string")), ","
        ).alias("signature_csv"),
    )


_REPETITION_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), g AS (
      SELECT doc_id,
             unnest([ts[i] || ' ' || ts[i+1]
                     for i in generate_series(1, len(ts) - 1)]) AS gram
      FROM toks WHERE len(ts) >= 2
    ), cnts AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_ngram_frac,
           CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
             / CAST(SUM(cnt) AS DOUBLE) AS dup_ngram_frac
    FROM cnts GROUP BY doc_id
"""


@query("t_repetition_metrics", _REPETITION_SQL)
def t_repetition_metrics(spark, sf_dir):
    """Gopher/C4-style repetition filters: top-bigram share and
    duplicated-bigram share per document (boilerplate / spun-text
    detectors for corpus curation)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.repetition_metrics(d, "doc_id", "text", n=2)


_CLUSTER_SQL = f"""
    WITH RECURSIVE pairs AS ({{jaccard}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    )
    SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node
"""


@query("dedup_clusters", _CLUSTER_SQL.format(jaccard=_EXACT_JACCARD_SQL.format(thr=0.8)))
def dedup_clusters(spark, sf_dir):
    """Near-dup pairs resolved to connected components: (node,
    cluster_id = min reachable doc_id). The oracle walks the same pair
    set with a recursive CTE; the engine collects a pair list this small
    in one bounded collect and finishes with a driver union-find
    (distributed label rounds run only above the driver bound — see
    dedup.resolve_clusters)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = DD.minhash_near_duplicates(d, "doc_id", "text", threshold=0.8)
    return DD.resolve_clusters(pairs)


_CANONICAL_SQL = f"""
    WITH RECURSIVE pairs AS ({_EXACT_JACCARD_SQL.format(thr=0.8)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    cc AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node)
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
"""


@query("dedup_canonical_docs", _CANONICAL_SQL)
def dedup_canonical_docs(spark, sf_dir):
    """The dedup end-game: drop every near-dup cluster member except the
    canonical (smallest doc_id) survivor — the corpus a training run
    would actually consume. Plain anti-join of documents against
    non-canonical cluster members: the loser set scales with the corpus
    duplication rate, so a forced broadcast would OOM at lake scale —
    AQE converts the join to broadcast at runtime when the set is
    actually small."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = DD.minhash_near_duplicates(d, "doc_id", "text", threshold=0.8)
    clusters = DD.resolve_clusters(pairs)
    losers = clusters.filter(F.col("node") != F.col("cluster_id")).select("node")
    return d.join(
        losers, d["doc_id"] == F.col("node"), "left_anti"
    ).select("doc_id", "n_chars")


_CONTAMINATION_SQL = """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ), grams AS (
      SELECT doc_id, source,
             list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                            || ' ' || ts[i+3] || ' ' || ts[i+4]
                            for i in generate_series(1, len(ts) - 4)]) AS gs
      FROM toks WHERE len(ts) >= 5
    ), bg AS (
      SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE source = 'src0'
    ), cg AS (
      SELECT doc_id, unnest(gs) AS gram FROM grams WHERE source <> 'src0'
    )
    SELECT doc_id, COUNT(*) AS overlap_grams
    FROM cg JOIN bg USING (gram) GROUP BY doc_id
"""


@query("dedup_contamination", _CONTAMINATION_SQL)
def dedup_contamination(spark, sf_dir):
    """Benchmark-contamination sweep: training-corpus docs (source <>
    'src0') sharing any distinct 5-gram with the held-out benchmark
    slice (source = 'src0'), with the count of overlapping grams."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return DD.contamination_flags(corpus, bench, "doc_id", "text", n=5)


@query(
    "t_token_budget_rates",
    """
    WITH per AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY lang
    )
    SELECT lang, tokens,
           LEAST(1.0, 50000.0 / CAST(tokens AS DOUBLE)) AS rate
    FROM per
    """,
)
def t_token_budget_rates(spark, sf_dir):
    """Token-budget mixture planning: per-language token totals and the
    sampling rate hitting a 50k-token budget per language (input to
    stratified_sample for token-balanced dataset mixing)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.token_budget_rates(d, "lang", "text", budget_per_stratum=50_000)


# ---------------------------------------------------------------------------
# PII scrubbing + corpus-level span dedup
# ---------------------------------------------------------------------------

# synthetic-PII injection (the corpus has none): deterministic per-doc
# email/ip/ssn/phone appended identically in Spark and the oracle, so
# the redaction is exercised on real matches.
_PII_INJECT_SQL = (
    "text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789 tel 555-123-4567'"
)


def _pii_oracle_sql() -> str:
    from azuredataengineering_deeplearning_spark.operators.text import PII_PATTERNS

    clean, staged, counts = "t", "t", []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({staged}, '{pat}')) AS INT) AS n_{name}"
        )
        staged = f"regexp_replace({staged}, '{pat}', '{repl}', 'g')"
    for _, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH inj AS (SELECT doc_id, {_PII_INJECT_SQL} AS t FROM documents)
    SELECT doc_id, {clean} AS clean_text, {", ".join(counts)} FROM inj
    """


@query("t_pii_scrub", _pii_oracle_sql())
def t_pii_scrub(spark, sf_dir):
    """PII redaction pass with per-class audit counts (email/IPv4/SSN/
    phone) — chained JVM regexp_replace, no shuffle at any scale."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    injected = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789 tel 555-123-4567"),
    )
    return d.select(
        "doc_id",
        T.pii_scrub(injected).alias("clean_text"),
        *T.pii_counts(injected),
    )


_SPAN_DEDUP_SQL = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ch AS (SELECT doc_id, [array_to_string(w[i:i+4], ' ')
                           for i in generate_series(1, len(w), 5)] AS chunks
           FROM w),
    sp AS (SELECT doc_id, unnest(list_distinct(chunks)) AS span FROM ch),
    common AS (SELECT span FROM sp GROUP BY span HAVING COUNT(*) >= 3),
    ca AS (SELECT coalesce(list(span), []) AS cl FROM common)
    SELECT doc_id,
           -- DuckDB array_to_string([]) is NULL; a fully-deduped doc is ''
           COALESCE(array_to_string(list_filter(chunks,
             s -> NOT list_contains(cl, s)), ' '), '') AS clean_text
    FROM ch, ca
"""


@query("t_span_dedup", _SPAN_DEDUP_SQL)
def t_span_dedup(spark, sf_dir):
    """C4-style corpus-level boilerplate removal generalized to k-token
    spans: any 5-token span occurring in ≥3 distinct documents is
    dropped from every document. One aggregate shuffle; the common-span
    set broadcasts back (docs never shuffle)."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.remove_common_spans(d, "doc_id", "text", k=5, min_docs=3)


# ---------------------------------------------------------------------------
# sequence packing + vocabulary statistics
# ---------------------------------------------------------------------------


@query(
    "t_pack_sequences",
    """
    WITH tc AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
                FROM documents),
    c AS (SELECT lang, doc_id, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
          FROM tc)
    SELECT lang, doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR(before / 2048) AS INT) AS pack_id,
           CAST(before % 2048 AS INT) AS pack_offset
    FROM c
    """,
)
def t_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: in doc_id order per language, assign
    each document the 2048-token bin where it starts, with its offset.
    Window is partitioned by the pack group — no global sort."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.pack_sequences(
        d, "doc_id", T.token_count("text"), budget=2048, pack_by="lang"
    )


@query(
    "t_vocab_stats",
    """
    SELECT token, CAST(COUNT(*) AS BIGINT) AS term_freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def t_vocab_stats(spark, sf_dir):
    """Corpus vocabulary statistics (term frequency + doc frequency) —
    the vocab-building pass; shuffle bounded by vocabulary size."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.vocab_stats(d, "doc_id", "text")


@query(
    "t_tfidf_topk",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT token, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * ln((1.0 + n.n) / (1.0 + dfq.df)) AS tfidf
      FROM tf JOIN dfq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, CAST(rn AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, token ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def t_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic tokens per document by smoothed TF-IDF —
    per-doc windows over broadcast corpus stats."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.tfidf_topk(d, "doc_id", "text", k=3).select(
        "doc_id", "token", "tfidf", "rank"
    )


@query(
    "t_select_until_budget",
    """
    WITH scored AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             n_chars AS quality
      FROM documents
    ), walked AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
                      ORDER BY quality DESC, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM scored
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens
    FROM walked WHERE before < 5000
    """,
)
def t_select_until_budget(spark, sf_dir):
    """Budget-capped best-first corpus selection: per language, take
    the longest (stand-in for best-scored) docs until 5000 tokens —
    the deterministic mixture-building op."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    scored = d.select(
        "doc_id", "lang", T.token_count("text").alias("n_tokens"),
        F.col("n_chars").alias("quality"),
    )
    return T.select_until_budget(
        scored, ["lang"], "quality", F.col("n_tokens"), 5000,
        descending=True, tiebreak=["doc_id"],
    ).select("doc_id", "lang", "n_tokens")


@query(
    "t_unigram_xent",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    vocab AS (SELECT token, COUNT(*) AS ctf FROM toks GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM toks)
    SELECT doc_id,
           -SUM(tf * ln(ctf * 1.0 / total)) / SUM(tf) AS xent
    FROM tf JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def t_unigram_xent(spark, sf_dir):
    """Corpus-unigram cross-entropy per document — the LM-based quality
    filter (KenLM-perplexity stand-in) as two aggregates + broadcasts."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.unigram_cross_entropy(d, "doc_id", "text")


@query(
    "t_unicode_fold",
    """
    SELECT doc_id,
           nfc_normalize(text) AS t_nfc,
           strip_accents(nfc_normalize(text)) AS t_folded
    FROM documents
    """,
)
def t_unicode_fold(spark, sf_dir):
    """Unicode canonicalization before fingerprinting: NFC compose then
    accent-fold, Arrow-batched (one Python call per batch). DuckDB's
    nfc_normalize/strip_accents are the oracle."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    nfc, fold = T.nfc_normalize_udf(), T.strip_accents_udf()
    return d.select(
        "doc_id",
        nfc(F.col("text")).alias("t_nfc"),
        fold(nfc(F.col("text"))).alias("t_folded"),
    )


@query(
    "t_chunk_overlap",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id, CAST(s.i - 1 AS INT) AS chunk_idx,
           array_to_string(w[(1 + (s.i - 1) * 24):(1 + (s.i - 1) * 24 + 31)], ' ') AS chunk
    FROM w CROSS JOIN LATERAL (
      SELECT unnest(generate_series(
        1, CAST(CEIL(GREATEST(len(w) - 8, 1) / 24.0) AS BIGINT))) AS i
    ) s
    """,
)
def t_chunk_overlap(spark, sf_dir):
    """Overlapping 32-token chunks with 8-token overlap (24-token
    stride) per document — retrieval/RAG corpus prep; one posexplode,
    fan-out bounded by tokens/stride."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    return T.chunk_text_overlap(d, "doc_id", "text", size=32, overlap=8).select(
        "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"), "chunk"
    )


@query(
    "dedup_incremental",
    r"""
    WITH fp AS (SELECT doc_id, source,
                       md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS h
                FROM documents),
    store AS (SELECT DISTINCT h FROM fp WHERE source = 'src0'),
    batch AS (SELECT doc_id, h FROM fp WHERE source <> 'src0'),
    intra AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, MIN(doc_id) OVER (PARTITION BY h) AS m FROM batch
      ) WHERE doc_id = m
    )
    SELECT doc_id FROM intra WHERE h NOT IN (SELECT h FROM store)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental exact dedup: today's batch (sources != src0) against
    the fingerprint store accumulated from history (src0) — scans only
    the batch, never re-hashes the historical corpus. Store-side is
    fp-only (32 bytes/doc); bucket it by fp at lake scale and the daily
    anti-join never re-shuffles history."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    history = d.filter(F.col("source") == "src0")
    batch = d.filter(F.col("source") != "src0")
    store = history.select(T.fingerprint("text").alias("fp")).distinct()
    survivors, _ = DD.incremental_dedup(batch, store, "doc_id", "text")
    return survivors.select("doc_id")


@query(
    "u_temperature_mixture",
    """
    WITH n AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    w AS (SELECT source, cnt, POW(cnt, 0.5) AS pw, SUM(POW(cnt, 0.5)) OVER () AS tot FROM n),
    r AS (SELECT source, LEAST(1.0, 300 * pw / tot / cnt) AS rate FROM w)
    SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
          < CAST(FLOOR(r.rate * 10000) AS BIGINT)
    """,
)
def u_temperature_mixture(spark, sf_dir):
    """Temperature-weighted source mixing (alpha=0.5 up-weights small
    sources) to ~300 rows in expectation — the LLM data-mixing rule as
    a deterministic map-only filter (portable hash keep-decision; no
    seeded RNG, reproducible across engines and task retries)."""
    from azuredataengineering_deeplearning_spark.operators import setops as U

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return U.temperature_mixture(d, "source", "doc_id", 300, alpha=0.5).select(
        "doc_id", "source"
    )


_BUCKET60 = (
    "CAST(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS BIGINT)"
)

_DSIR_SQL = f"""
    WITH toks AS (
      SELECT doc_id, source = 'src0' AS t, {_BUCKET60} AS bucket
      FROM (SELECT doc_id, source, unnest({_SW}) AS tok FROM documents)
    ),
    counts AS (
      SELECT bucket,
             SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cr
      FROM toks GROUP BY bucket
    ),
    tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM counts),
    doc_b AS (
      SELECT doc_id, bucket, COUNT(*) AS tf
      FROM toks WHERE NOT t GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           SUM(tf * (ln((ct + 1.0) / (tt + 256.0))
                   - ln((cr + 1.0) / (tr + 256.0)))) AS log_weight
    FROM doc_b JOIN counts USING (bucket) CROSS JOIN tot
    GROUP BY doc_id
"""


@query("t_dsir_scores", _DSIR_SQL)
def t_dsir_scores(spark, sf_dir):
    """DSIR importance weights: hashed-unigram likelihood ratio of the
    src0 'target' distribution vs the rest of the corpus. The portable
    60-bit md5 bucket hash makes Spark and DuckDB agree bit-for-bit on
    the bucket tables; the score is an exact double on both engines."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.dsir_scores(
        d, "doc_id", "text", F.col("source") == "src0", buckets=256
    )


@query(
    "t_dsir_select",
    f"""
    WITH scored AS ({_DSIR_SQL})
    SELECT doc_id, log_weight FROM scored
    ORDER BY log_weight DESC, doc_id LIMIT 50
    """,
)
def t_dsir_select(spark, sf_dir):
    """Importance-resampling selection: top-50 raw documents by DSIR
    weight (deterministic doc_id tiebreak). TakeOrderedAndProject — the
    top-k never materializes a global sort."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    scores = T.dsir_scores(
        d, "doc_id", "text", F.col("source") == "src0", buckets=256
    )
    return scores.orderBy(
        F.col("log_weight").desc(), F.col("doc_id")
    ).limit(50)


@query(
    "t_gopher_rules",
    f"""
    WITH w AS (SELECT doc_id, {_SW} AS w FROM documents),
    feats AS (
      SELECT doc_id, len(w) AS n,
             list_sum(list_transform(w, t -> length(t))) * 1.0 / len(w) AS ml,
             len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) * 1.0
               / len(w) AS af,
             len(list_filter(w, t -> t = 'the' OR t = 'a')) AS ns
      FROM w
    )
    SELECT doc_id,
           n >= 40 AND n <= 100000 AS ok_token_count,
           ml >= 2.0 AND ml <= 10.0 AS ok_mean_len,
           af >= 0.8 AS ok_alpha,
           ns >= 2 AS ok_stopwords,
           (n >= 40 AND n <= 100000) AND (ml >= 2.0 AND ml <= 10.0)
             AND af >= 0.8 AND ns >= 2 AS keep
    FROM feats
    """,
)
def t_gopher_rules(spark, sf_dir):
    """Gopher-rules first-pass quality gate (token-count bounds, mean
    token length, alphabetic fraction, stopword hits) as per-rule
    boolean columns plus the conjunction."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.gopher_quality_flags(d, "doc_id", "text")


@query(
    "t_unigram_drift",
    f"""
    WITH toks AS (
      SELECT source AS g, {_BUCKET60} AS bucket
      FROM (SELECT source, unnest({_SW}) AS tok FROM documents)
    ),
    counts AS (SELECT g, bucket, COUNT(*) AS c FROM toks GROUP BY g, bucket),
    totals AS (SELECT g, SUM(c) AS t FROM counts GROUP BY g),
    grid AS (
      SELECT a.g AS ga, a.t AS ta, b.g AS gb, b.t AS tb, u.bucket
      FROM totals a JOIN totals b ON a.g <> b.g
      CROSS JOIN (SELECT DISTINCT bucket FROM counts) u
    )
    SELECT ga AS source_a, gb AS source_b,
           SUM(((COALESCE(ca.c, 0) + 1.0) / (ta + 256.0))
               * ln(((COALESCE(ca.c, 0) + 1.0) / (ta + 256.0))
                  / ((COALESCE(cb.c, 0) + 1.0) / (tb + 256.0)))) AS kl
    FROM grid
    LEFT JOIN counts ca ON ca.g = grid.ga AND ca.bucket = grid.bucket
    LEFT JOIN counts cb ON cb.g = grid.gb AND cb.bucket = grid.bucket
    GROUP BY ga, gb
    """,
)
def t_unigram_drift(spark, sf_dir):
    """Pairwise corpus drift: smoothed KL divergence between per-source
    hashed-unigram distributions — the distribution-shift monitor for a
    multi-source training corpus."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.unigram_drift(d, "source", "text", buckets=256)


@query(
    "t_bigram_xent",
    f"""
    WITH t AS (SELECT doc_id, {_SW} AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest([{{'w1': w[i], 'w2': w[i+1]}}
                     for i in generate_series(1, len(w) - 1)],
                    recursive := true)
      FROM t WHERE len(w) >= 2
    ),
    tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
    cnt AS (SELECT w1, w2, SUM(tf) AS c12 FROM tf GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM cnt GROUP BY 1),
    c2 AS (SELECT w2, SUM(c12) AS c2 FROM cnt GROUP BY 1),
    n AS (SELECT SUM(c12) AS nn FROM cnt)
    SELECT tf.doc_id,
           -SUM(tf.tf * ln(0.7 * (cnt.c12 / c1.c1)
                          + (1.0 - 0.7) * (c2.c2 / n.nn)))
             / SUM(tf.tf) AS xent2
    FROM tf
    JOIN cnt ON tf.w1 = cnt.w1 AND tf.w2 = cnt.w2
    JOIN c1 ON tf.w1 = c1.w1
    JOIN c2 ON tf.w2 = c2.w2
    CROSS JOIN n
    GROUP BY tf.doc_id
    """,
)
def t_bigram_xent(spark, sf_dir):
    """Interpolated bigram-LM cross-entropy per document (λ=0.7) — the
    KenLM-style quality score, one corpus scan."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.bigram_cross_entropy(d, "doc_id", "text", lam=0.7)


@query(
    "t_pmi_collocations",
    f"""
    WITH t AS (SELECT {_SW} AS w FROM documents),
    p AS (
      SELECT unnest(flatten([
               [{{'w1': w[i], 'w2': w[j]}}
                for j in generate_series(i + 1, least(i + 5, len(w)))]
               for i in generate_series(1, len(w) - 1)]),
             recursive := true)
      FROM t WHERE len(w) >= 2
    ),
    c_ab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM p GROUP BY 1, 2),
    n AS (SELECT SUM(c_ab) AS nn FROM c_ab),
    c_a AS (SELECT w1, SUM(c_ab) AS c_a FROM c_ab GROUP BY 1),
    c_b AS (SELECT w2, SUM(c_ab) AS c_b FROM c_ab GROUP BY 1)
    SELECT c_ab.w1, c_ab.w2, CAST(c_ab.c_ab AS BIGINT) AS c_ab,
           ln((c_ab.c_ab * n.nn) / (c_a.c_a * c_b.c_b)) AS pmi
    FROM c_ab JOIN c_a ON c_ab.w1 = c_a.w1
    JOIN c_b ON c_ab.w2 = c_b.w2 CROSS JOIN n
    WHERE c_ab.c_ab >= 5
    ORDER BY pmi DESC, c_ab.w1, c_ab.w2 LIMIT 50
    """,
)
def t_pmi_collocations(spark, sf_dir):
    """Corpus collocations by windowed PMI (window=5, min count 5) —
    the association-mining staple, linear pair fanout."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.pmi_collocations(d, "text", window=5, min_count=5, top_k=50)


@query(
    "t_script_profile",
    """
    WITH b AS (
      SELECT doc_id, GREATEST(length(text), 1) AS n, length(text) AS tl,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
             length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS space,
             length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) AS other
      FROM documents
    )
    SELECT doc_id,
           latin * 1.0 / n AS frac_latin,
           digit * 1.0 / n AS frac_digit,
           space * 1.0 / n AS frac_space,
           tl * 1.0 / n - latin * 1.0 / n - digit * 1.0 / n
               - space * 1.0 / n - other * 1.0 / n AS frac_punct,
           other * 1.0 / n AS frac_non_ascii
    FROM b
    """,
)
def t_script_profile(spark, sf_dir):
    """Character-class (script-mix) profile per document — the routing
    fingerprint for language pipelines and corruption detection."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return d.select("doc_id", *T.script_profile("text"))


_BM25_TERMS = ("data", "model", "learning", "cloud", "pipeline")
_BM25_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\W+')) AS term
      FROM documents
    ),
    t2 AS (SELECT * FROM toks WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM t2 GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t2
      WHERE term IN {str(_BM25_TERMS)} GROUP BY 1, 2
    ),
    dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
    ts AS (
      SELECT tf.doc_id,
             CAST(ln((stats.n - dfq.df_t + 0.5) / (dfq.df_t + 0.5) + 1.0)
                  * tf.tf * (1.2 + 1.0)
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                  AS DECIMAL(28,8)) AS s
      FROM tf
      JOIN dfq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25
    FROM ts GROUP BY doc_id
    ORDER BY SUM(s) DESC, doc_id ASC LIMIT 20
"""


@query("t_bm25_topk", _BM25_SQL)
def t_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 for a fixed query-term bag — ranked retrieval
    over the corpus (topic-slice selection / retrieval-eval set
    building). Per-(doc, term) scores round into decimal(28,8) before
    the per-doc sum so the total and the top-k cutoff are deterministic
    and engine-portable."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return T.bm25_topk(d, "doc_id", "text", list(_BM25_TERMS), k=20)


_HB_SQL = "CAST(concat('0x', substr(md5(CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT) % {n}"

_LEAKAGE_SPLIT_SQL = f"""
    WITH RECURSIVE pairs AS ({{jaccard}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    cc AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node),
    keyed AS (
      SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS group_key
      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
    )
    SELECT doc_id, group_key,
           CAST(CASE WHEN {_HB_SQL.format(k='group_key', n=10000)} < 9000
                THEN 0 ELSE 1 END AS INT) AS split
    FROM keyed
"""


@query(
    "u_leakage_safe_split",
    _LEAKAGE_SPLIT_SQL.format(jaccard=_EXACT_JACCARD_SQL.format(thr=0.8)),
)
def u_leakage_safe_split(spark, sf_dir):
    """90/10 train/eval split that can NEVER leak a near-duplicate
    across the boundary: the split hashes the near-dup cluster's
    canonical id (minhash pairs → connected components), so whole
    clusters move together. The oracle rebuilds the same components
    with a recursive CTE and applies the identical portable hash."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = DD.minhash_near_duplicates(d, "doc_id", "text", threshold=0.8)
    out = DD.leakage_safe_split(d, "doc_id", pairs, [0.9, 0.1])
    return out.select("doc_id", "group_key", "split")


_SFT_SYS = "Identify the language of the text."

@query(
    "sft_render_zephyr",
    f"""
    WITH clean AS (
      SELECT * FROM documents
      WHERE text IS NOT NULL AND lang IS NOT NULL
        AND length(text) > 0 AND length(lang) > 0
    ),
    dedup AS (
      SELECT text, lang, MIN(doc_id) AS doc_id
      FROM clean GROUP BY text, lang
    ),
    r AS (
      SELECT doc_id, lang, text,
             '<|system|>' || chr(10) || '{_SFT_SYS}' || '</s>' || chr(10)
             || '<|user|>' || chr(10) || text || '</s>' || chr(10)
             || '<|assistant|>' || chr(10) || lang || '</s>' AS rendered
      FROM dedup
    )
    SELECT doc_id, lang, rendered,
           CAST(len(string_split(rendered, ' ')) AS INT) AS n_tokens,
           CAST(CASE WHEN {_HB_SQL.format(k='text', n=10000)} < 8000
                THEN 0 ELSE 1 END AS INT) AS split
    FROM r
    WHERE len(string_split(rendered, ' ')) <= 256
    """,
)
def sft_render_zephyr(spark, sf_dir):
    """SFT chat-template dataset prep (zephyr format): null/empty
    filter, exact pair dedup with deterministic survivor, pure-concat
    template render, whitespace token budget, leakage-free md5-bucket
    80/20 split keyed on the user text — the reference's
    template_dataset.py:12-75 + prepare_dataset.py:11-60 chain as one
    map-side plan with a single dedup shuffle."""
    from azuredataengineering_deeplearning_spark.operators import sft as SFT

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = SFT.sft_prepare(
        d, "text", "lang", system=_SFT_SYS, template="zephyr",
        max_tokens=256, out="rendered",
    )
    return out.select("doc_id", "lang", "rendered", "n_tokens", "split")


@query(
    "lm_structured_output_eval",
    """
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0
                  THEN '[{"Action":"Replace","ChimeraTy'
                  ELSE '[{"Action":"' ||
                       (CASE WHEN doc_id % 3 = 0 THEN 'Inspect'
                             WHEN doc_id % 2 = 0 THEN 'Reboot'
                             ELSE 'Replace' END) ||
                       '","ChimeraType":"' || lang || '"}]'
             END AS pred,
             '[{"Action":"Replace","ChimeraType":"' || lang || '"}]' AS gold
      FROM documents
    )
    SELECT doc_id,
           j IS NOT NULL AS is_valid_json,
           CAST(COALESCE(json_array_length(j), -1) AS INT) AS n_items,
           CASE WHEN j IS NOT NULL
                THEN CASE WHEN json_extract_string(j, '$[0].Action')
                               IN ('Replace', 'Reboot', 'Reseat', 'Clean')
                          THEN 0 ELSE 1 END
           END AS oov_action,
           j IS NOT NULL AND pred = gold AS exact_match
    FROM (SELECT doc_id, pred, gold, try_cast(pred AS JSON) AS j FROM p)
    """,
)
def lm_structured_output_eval(spark, sf_dir):
    """Post-inference structured-output scoring (daily_eval.py's JSON
    contract): parse with an explicit schema, flag malformed output and
    out-of-vocabulary Actions, exact-match against gold semantically
    (canonical re-serialization — the synthetic predictions are built
    in canonical form, so the oracle's string comparison is the same
    predicate). Map-only; deterministic inputs derived from documents."""
    from azuredataengineering_deeplearning_spark.operators import lmeval as LE

    d = read_parquet(
        spark, f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"]
    )
    action = (
        F.when(F.col("doc_id") % 3 == 0, "Inspect")
        .when(F.col("doc_id") % 2 == 0, "Reboot")
        .otherwise("Replace")
    )
    pred = F.when(
        F.col("doc_id") % 11 == 0, F.lit('[{"Action":"Replace","ChimeraTy')
    ).otherwise(
        F.concat(
            F.lit('[{"Action":"'), action,
            F.lit('","ChimeraType":"'), F.col("lang"), F.lit('"}]'),
        )
    )
    gold = F.concat(
        F.lit('[{"Action":"Replace","ChimeraType":"'), F.col("lang"), F.lit('"}]')
    )
    df = d.select("doc_id", pred.alias("pred"), gold.alias("gold"))
    out = LE.structured_output_eval(
        df, "pred", "gold",
        "array<struct<Action:string,ChimeraType:string>>",
        {"Action": ["Replace", "Reboot", "Reseat", "Clean"]},
    )
    return out.select(
        "doc_id", "is_valid_json", "n_items", "oov_action", "exact_match"
    )


@query(
    "lm_accuracy_by_lang",
    """
    WITH p AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 11 = 0
                  THEN '[{"Action":"Replace","ChimeraTy'
                  ELSE '[{"Action":"' ||
                       (CASE WHEN doc_id % 3 = 0 THEN 'Inspect'
                             WHEN doc_id % 2 = 0 THEN 'Reboot'
                             ELSE 'Replace' END) ||
                       '","ChimeraType":"' || lang || '"}]'
             END AS pred,
             '[{"Action":"Replace","ChimeraType":"' || lang || '"}]' AS gold
      FROM documents
    ),
    s AS (
      SELECT lang,
             try_cast(pred AS JSON) IS NOT NULL AS valid,
             try_cast(pred AS JSON) IS NOT NULL AND pred = gold AS em,
             CASE WHEN try_cast(pred AS JSON) IS NOT NULL
                  THEN CAST(json_array_length(try_cast(pred AS JSON)) AS DOUBLE)
             END AS items
      FROM p
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           AVG(CASE WHEN valid THEN 1.0 ELSE 0.0 END) AS valid_rate,
           AVG(CASE WHEN em THEN 1.0 ELSE 0.0 END) AS exact_match_rate,
           AVG(items) AS mean_items
    FROM s GROUP BY lang
    """,
)
def lm_accuracy_by_lang(spark, sf_dir):
    """Per-language accuracy readout of the structured-output scorer —
    the daily_eval summary table (validity rate, exact-match rate, mean
    items) as one aggregate over the scored frame."""
    from azuredataengineering_deeplearning_spark.operators import lmeval as LE

    d = read_parquet(
        spark, f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"]
    )
    action = (
        F.when(F.col("doc_id") % 3 == 0, "Inspect")
        .when(F.col("doc_id") % 2 == 0, "Reboot")
        .otherwise("Replace")
    )
    pred = F.when(
        F.col("doc_id") % 11 == 0, F.lit('[{"Action":"Replace","ChimeraTy')
    ).otherwise(
        F.concat(
            F.lit('[{"Action":"'), action,
            F.lit('","ChimeraType":"'), F.col("lang"), F.lit('"}]'),
        )
    )
    gold = F.concat(
        F.lit('[{"Action":"Replace","ChimeraType":"'), F.col("lang"), F.lit('"}]')
    )
    df = d.select("doc_id", "lang", pred.alias("pred"), gold.alias("gold"))
    scored = LE.structured_output_eval(
        df, "pred", "gold", "array<struct<Action:string,ChimeraType:string>>"
    )
    return LE.accuracy_summary(scored, ["lang"])


@query(
    "lm_token_f1",
    """
    WITH p AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:30], ' ') AS pred,
             text AS gold
      FROM documents
    ),
    pt AS (
      SELECT doc_id, tok, COUNT(*) AS pc
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(pred, ' '), t -> t != '')) AS tok
            FROM p)
      GROUP BY 1, 2
    ),
    gt AS (
      SELECT doc_id, tok, COUNT(*) AS gc
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(gold, ' '), t -> t != '')) AS tok
            FROM p)
      GROUP BY 1, 2
    ),
    ov AS (
      SELECT pt.doc_id, SUM(LEAST(pc, gc)) AS overlap
      FROM pt JOIN gt ON pt.doc_id = gt.doc_id AND pt.tok = gt.tok
      GROUP BY 1
    ),
    sz AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(pred, ' '), t -> t != '')) AS INT) AS n_pred,
             CAST(len(list_filter(string_split(gold, ' '), t -> t != '')) AS INT) AS n_gold
      FROM p
    )
    SELECT sz.doc_id, n_pred, n_gold,
           CAST(COALESCE(overlap, 0) AS BIGINT) AS overlap,
           CASE WHEN n_pred > 0 THEN COALESCE(overlap, 0) * 1.0 / n_pred ELSE 0.0 END AS precision,
           CASE WHEN n_gold > 0 THEN COALESCE(overlap, 0) * 1.0 / n_gold ELSE 0.0 END AS recall,
           CASE WHEN (CASE WHEN n_pred > 0 THEN COALESCE(overlap, 0) * 1.0 / n_pred ELSE 0.0 END)
                   + (CASE WHEN n_gold > 0 THEN COALESCE(overlap, 0) * 1.0 / n_gold ELSE 0.0 END) > 0
                THEN 2.0 * (COALESCE(overlap, 0) * 1.0 / n_pred) * (COALESCE(overlap, 0) * 1.0 / n_gold)
                     / ((COALESCE(overlap, 0) * 1.0 / n_pred) + (COALESCE(overlap, 0) * 1.0 / n_gold))
                ELSE 0.0 END AS f1
    FROM sz LEFT JOIN ov ON sz.doc_id = ov.doc_id
    """,
)
def lm_token_f1(spark, sf_dir):
    """SQuAD-style token-overlap F1 between a 30-token prediction
    prefix and the reference text — multiset overlap via two map-side
    token-count aggregates and one (id, token) join."""
    from azuredataengineering_deeplearning_spark.operators import lmeval as LE

    d = read_parquet(
        spark, f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 30), " ").alias("pred"),
        F.col("text").alias("gold"),
    )
    return LE.token_f1(d, "doc_id", "pred", "gold")


@query("dedup_contamination_hashed", _CONTAMINATION_SQL)
def dedup_contamination_hashed(spark, sf_dir):
    """The contamination sweep's SCALE PATH: identical semantics joined
    on 8-byte xxhash64 gram keys (1.6x at 1M docs; the gap grows with
    gram length). Shares the string-gram oracle — a hash collision
    would surface as a count mismatch here, so the gate doubles as the
    collision canary."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return DD.contamination_flags(
        corpus, bench, "doc_id", "text", n=5, hash_grams=True
    )


@query(
    "dedup_paragraphs",
    """
    WITH p AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS para,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), k AS (
      SELECT doc_id, pos, para,
             (length(trim(para)) < 1) OR
             (ROW_NUMBER() OVER (PARTITION BY lower(trim(para))
                                 ORDER BY doc_id, pos) = 1) AS keep
      FROM p
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN para END, ' '
                               ORDER BY pos), '') AS text_deduped
    FROM k GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark, sf_dir):
    """Sub-document (paragraph/sentence) dedup — first occurrence of a
    normalized paragraph wins GLOBALLY, each document keeps its
    survivors in original order (kills the cross-page boilerplate that
    document-level dedup can't see). One posexplode + one window on the
    normalized-paragraph hash + one reassembling groupBy — two
    shuffles, no joins. TOKEN granularity here (the synthetic corpus
    has no paragraph breaks; ~60 units/doc exercises the same
    explode→window→reassemble machinery) — the separator is a
    parameter, '\n\n' in real corpora."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.paragraph_dedup(d, "doc_id", "text", sep=" ")
