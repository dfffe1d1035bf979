"""Text-analysis operators (north-star additions; SURVEY §7 step 7).

Grounded in the reference's text handling (regex cleaning
``daily_eval.py:52-65``, token-length profiling
``prepare_dataset.py:59-71``) and extended to the LLM-data-pipeline
surface: tokenization, language-ID scoring, quality scoring, document
fingerprinting. Everything is a JVM-side expression over one scan — the
only fanout is the shingle explode used by the dedup layer.

Cross-engine determinism: token hashes are the first 15 hex chars of
md5 (a 60-bit integer both Spark and DuckDB can derive bit-identically);
xxhash64 is offered as the cheaper Spark-only scale path.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under PEP 563

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.functions.strings import sql_ident

TOKEN_SPLIT = " "  # driver corpus is single-space tokenized


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str, sep: str = TOKEN_SPLIT) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(_c(col), sep)


def bind_once(expr: Column, build) -> Column:
    """Evaluate ``expr`` ONCE per row and hand it to ``build`` as a
    bound lambda variable. Catalyst INLINES any outer expression a
    higher-order-function lambda references into the lambda body, so
    ``transform(sequence(...), i -> f(expr, i))`` re-evaluates ``expr``
    per ELEMENT — O(tokens²) work per document when ``expr`` is the
    token split (measured ~4x on the sf0.1 shingle explode; far worse
    for the doubly-nested PMI pair builder). Routing ``expr`` through a
    one-element-array ``transform`` makes it a ``NamedLambdaVariable``:
    computed once, referenced many times."""
    return F.element_at(F.transform(F.array(expr), build), 1)


def token_count(col: Column | str, sep: str = TOKEN_SPLIT) -> Column:
    """D12/O5 input: token count per document."""
    return F.size(tokens(col, sep))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token counting with a BPE-ish regex (word pieces + digits +
    punctuation as separate tokens) — the tokenizer-free estimate used
    for length profiling (``prepare_dataset.py:59-63`` analog)."""
    return F.size(
        F.filter(
            F.split(_c(col), r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
            lambda t: (t != "") & (t != " "),
        )
    )


def token_hash60(col: Column | str) -> Column:
    """Deterministic 60-bit token hash: first 15 hex chars of md5.
    Portable across engines (DuckDB: ``CAST('0x'||substr(md5(t),1,15) AS
    BIGINT)``); use :func:`token_hash_fast` in Spark-only paths."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")


def token_hash_fast(col: Column | str, seed: int = 42) -> Column:
    """xxhash64 — the cheap Spark-side hash for 100 TB scale paths."""
    return F.xxhash64(_c(col), F.lit(seed))


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ngrams_sql(col: str, k: int, sep: str = TOKEN_SPLIT, hashed: bool = False) -> str:
    """SQL expression for a document's k-word grams in order, repeats
    kept → array<string>, or array<bigint> with ``hashed``. A gram is
    the space-joined token slice; with ``hashed`` it is ``xxhash64`` of
    the slice itself, never materializing the string. Docs shorter than
    k words have no grams (the oracles drop them too).

    One string parsed once, where composing Column objects pays a Py4J
    round trip per expression node. slice + array_join is one bounds-checked
    copy per gram (~3.4x faster than n chained element_at/concat_ws).
    The split is bound once as the lambda variable ``w`` (the
    :func:`bind_once` shape): Catalyst inlines an outer expression a
    lambda references, re-tokenizing the document per gram."""
    gram = f"xxhash64(slice(w, i, {k}))" if hashed else f"array_join(slice(w, i, {k}), ' ')"
    empty = "bigint" if hashed else "string"
    return (
        f"element_at(transform(array(split({sql_ident(col)}, {_sql_string(sep)})), "
        f"w -> CASE WHEN size(w) >= {k} "
        f"THEN transform(sequence(1, size(w) - {k - 1}), i -> {gram}) "
        f"ELSE CAST(array() AS array<{empty}>) END), 1)"
    )


def word_shingles(col: str, k: int = 3, sep: str = TOKEN_SPLIT) -> Column:
    """Distinct k-word shingles of a document → array<string>. The
    discriminative unit for near-dup detection (word *sets* saturate on
    shared-vocabulary corpora)."""
    return F.expr(f"array_distinct({ngrams_sql(col, k, sep)})")


def gram_hashes(col: str, k: int = 3, sep: str = TOKEN_SPLIT) -> Column:
    """Distinct k-word shingles as 64-bit HASHES (array<bigint>) —
    ``xxhash64`` of the token SLICE directly, never materializing the
    joined shingle string. ~2x cheaper per document than
    :func:`word_shingles` (no array_join string building), for
    consumers that only compare shingles for equality (exact-jaccard
    gram joins, blocking). Keep :func:`word_shingles` where the string
    itself is consumed (minhash md5 oracle parity, forensics)."""
    return F.expr(f"array_distinct({ngrams_sql(col, k, sep, hashed=True)})")


def stopword_ratio(col: Column | str, stopwords: Sequence[str]) -> Column:
    """Share of tokens that are stopwords (quality/lang-ID feature)."""
    w = tokens(col)
    hits = F.size(F.filter(w, lambda t: t.isin(*[F.lit(s) for s in stopwords])))
    return hits / F.size(w)


def mean_token_length(col: Column | str) -> Column:
    """Average token length in characters."""
    w = tokens(col)
    return F.aggregate(
        F.transform(w, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ) / F.size(w)


def quality_score(
    col: Column | str,
    stopwords: Sequence[str] = ("the", "a"),
    min_tokens: int = 20,
    max_tokens: int = 1000,
) -> Column:
    """Composite document quality in [0, 1] — length window, stopword
    presence, token-length sanity. The heuristic pre-filter an LLM data
    pipeline runs before expensive scoring."""
    n = token_count(col)
    len_ok = (n >= min_tokens) & (n <= max_tokens)
    sw = stopword_ratio(col, stopwords)
    mtl = mean_token_length(col)
    return (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((sw > 0.01) & (sw < 0.5), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((mtl > 2.0) & (mtl < 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
    )


def lang_scores(
    col: Column | str, lang_markers: dict[str, Sequence[str]]
) -> dict[str, Column]:
    """Per-language marker-token hit ratios (n-gram-heuristic lang-ID)."""
    return {lang: stopword_ratio(col, words) for lang, words in lang_markers.items()}


def lang_id(col: Column | str, lang_markers: dict[str, Sequence[str]]) -> Column:
    """Predicted language = argmax marker ratio, lexicographic tiebreak
    (deterministic). Pure expressions — one scan, no UDF."""
    scores = lang_scores(col, lang_markers)
    best = None
    for lang in sorted(lang_markers):  # later langs win only on strict >
        s = scores[lang]
        if best is None:
            best = F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        else:
            best = F.when(s > best["score"], F.struct(s.alias("score"), F.lit(lang).alias("lang"))).otherwise(best)
    return best["lang"]


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized text
    (cross-engine); exact-dedup key."""
    return F.md5(F.trim(F.regexp_replace(_c(col), r"\s+", " ")))


def word_ngrams(col: str, n: int = 2, sep: str = TOKEN_SPLIT) -> Column:
    """All (non-distinct) n-word grams of a document → array<string>.
    Unlike :func:`word_shingles` this keeps multiplicity — the input to
    repetition metrics, where how *often* a gram repeats is the signal."""
    return F.expr(ngrams_sql(col, n, sep))


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher/C4-style repetition quality filters per document:

    - ``top_ngram_frac``: share of n-grams taken by the single most
      frequent n-gram (boilerplate / chant detector);
    - ``dup_ngram_frac``: share of n-grams that occur more than once
      (templated/spun-text detector).

    ZERO-SHUFFLE: both metrics group only WITHIN a document, so they
    compute map-side as a single codegen'd expression — sort the doc's
    gram array, then one linear pass (``aggregate``) tracking run
    lengths: max run = top-gram count, rows in runs > 1 = duplicated
    grams. The former (id, gram) explode+shuffle carried one row per
    gram per doc (petabytes of shuffle at 100 TB) for a computation
    that never crossed document boundaries. Docs with no n-grams
    (fewer than ``n`` words) emit no row, as before."""
    from azuredataengineering_deeplearning_spark.operators.relational import (
        widen_narrow_input,
    )

    run = "CASE WHEN g = acc.prev THEN acc.run + 1 ELSE 1L END"
    fold = (
        f"aggregate(array_sort({ngrams_sql(text_col, n)}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'maxrun', 0L, "
        "'dup', 0L, 'tot', 0L), "
        f"(acc, g) -> named_struct('prev', g, 'run', {run}, "
        f"'maxrun', greatest(acc.maxrun, {run}), "
        f"'dup', acc.dup + CASE WHEN {run} = 2 THEN 2 WHEN {run} > 2 THEN 1 ELSE 0 END, "
        "'tot', acc.tot + 1))"
    )
    ident = sql_ident(id_col)
    return (
        widen_narrow_input(df)
        .selectExpr(ident, f"{fold} AS __st")
        .filter("__st.tot > 0")
        .selectExpr(
            ident,
            "CAST(__st.maxrun AS DOUBLE) / __st.tot AS top_ngram_frac",
            "CAST(__st.dup AS DOUBLE) / __st.tot AS dup_ngram_frac",
        )
    )


def token_budget_rates(
    df: DataFrame,
    strata_col: str,
    text_col: str = "text",
    budget_per_stratum: int = 50_000,
) -> DataFrame:
    """Token-budget mixture planning: per-stratum token totals and the
    sampling rate that hits a per-stratum token budget → (stratum,
    tokens, rate). rate = min(1, budget / tokens) — under-budget strata
    keep everything; oversized strata downsample proportionally. Feed
    the rates to :func:`operators.setops.stratified_sample`. One grouped
    agg with map-side partials; no driver collect."""
    per = df.groupBy(strata_col).agg(
        F.sum(token_count(text_col)).alias("tokens")
    )
    return per.select(
        strata_col,
        "tokens",
        F.least(
            F.lit(1.0),
            F.lit(float(budget_per_stratum)) / F.col("tokens").cast("double"),
        ).alias("rate"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (pretraining-curation redaction pass)
# ---------------------------------------------------------------------------

# RE2-compatible (no lookarounds/backrefs) so the same patterns run in
# Spark's Java regex and the DuckDB oracle. Order matters: email before
# phone (an email's digits must not be half-eaten by the phone pattern).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b(?:\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
]


def pii_scrub(col: Column | str) -> Column:
    """Redact emails / IPv4s / SSNs / US phone numbers with typed
    placeholder tokens. A chain of JVM-side ``regexp_replace`` — one
    narrow projection, no shuffle, scales linearly with corpus bytes."""
    out = _c(col)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column | str) -> list[Column]:
    """Per-class PII hit counts (redaction audit metrics): one
    ``regexp_count`` per class, applied in the same scrub order on the
    progressively-redacted text so classes never double-count the same
    span (an email's digits are not also a phone)."""
    cols, cur = [], _c(col)
    for name, pat, repl in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return cols


# ---------------------------------------------------------------------------
# corpus-level span dedup (C4/Gopher line-dedup generalized)
# ---------------------------------------------------------------------------


def chunk_tokens(col: Column | str, k: int = 10, sep: str = TOKEN_SPLIT) -> Column:
    """Re-chunk a document into consecutive k-token spans
    (array<string>, last span may be short). The "line" unit for
    corpora without newline structure."""
    def build(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(
            F.lit(0), F.when(n > 0, (n - 1) / k).otherwise(0).cast("int")
        )
        return F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i * k + 1, k), sep)
        )

    return bind_once(F.split(_c(col), sep), build)


def remove_common_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_docs: int = 3,
    sep: str = TOKEN_SPLIT,
    out: str = "clean_text",
) -> DataFrame:
    """C4-style corpus-level boilerplate removal, span-generalized:
    drop every k-token span that appears in ≥ ``min_docs`` distinct
    documents, reassemble each document from its surviving spans.

    Plan shape: one explode → one (span-hash) aggregate shuffle to find
    common spans; the common set is tiny by construction (only spans
    shared by many docs), so it broadcasts back as an array-filter via
    a left-semi-free map join — documents are never shuffled. At 100 TB
    the aggregate is the only wide stage and it combines map-side."""
    # distinct spans per doc before the explode: the aggregate counts
    # documents, not occurrences (a span repeated inside one doc is 1)
    spans = F.explode(F.array_distinct(chunk_tokens(F.col(text_col), k, sep))).alias("span")
    common = (
        df.select(spans)
        .groupBy("span")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_docs)
        .select("span")
    )
    common_arr = F.broadcast(common.agg(F.collect_list("span").alias("__common")))
    return (
        df.crossJoin(common_arr)
        .select(
            id_col,
            F.array_join(
                F.filter(
                    chunk_tokens(F.col(text_col), k, sep),
                    lambda s: ~F.array_contains(F.col("__common"), s),
                ),
                sep,
            ).alias(out),
        )
    )


# ---------------------------------------------------------------------------
# sequence packing (pretraining batch assembly)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: Column | str,
    budget: int,
    pack_by: str | None = None,
    order_by: str | None = None,
) -> DataFrame:
    """Greedy in-order sequence packing: walk documents in a
    deterministic order, accumulate token counts, and assign each doc
    the bin where it *starts* (``floor(tokens_before / budget)``) — the
    GPT-style "concat then chunk, document-aligned" batch assembly.

    Emits ``(id, n_tokens, pack_id, pack_offset)``. With ``pack_by``
    (e.g. lang or shard), packing is independent per group and the
    window is partitioned — one shuffle. Without it the global running
    total routes through ``_ordered_running_sums`` (deterministic
    quantile-bounds buckets + literal offsets, ml.py) — parallel
    windows, never a single-task global sort; ``order`` (default
    ``id_col``) should be unique for deterministic packing."""
    tc = _c(token_count_col)
    order = F.col(order_by if order_by is not None else id_col)
    from pyspark.sql import Window

    if pack_by:
        w = Window.partitionBy(pack_by).orderBy(order)
        before = F.coalesce(
            F.sum(tc).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        )
        return df.select(
            F.col(pack_by),
            F.col(id_col),
            tc.alias("n_tokens"),
            F.floor(before / budget).cast("int").alias("pack_id"),
            (before % budget).cast("int").alias("pack_offset"),
        )
    from azuredataengineering_deeplearning_spark.operators.ml import (
        _ordered_running_sums,
    )

    # the kernel's within-bucket SUM window is null-propagating for an
    # all-null prefix, so run it over a 0-coalesced copy — null token
    # counts contribute nothing to the running total (old single-window
    # contract) while n_tokens itself stays raw
    sel = df.select(
        F.col(id_col),
        tc.alias("n_tokens"),
        F.coalesce(tc, F.lit(0)).alias("__tok"),
        order.alias("__ord"),
    )
    cum, _ = _ordered_running_sums(
        sel, "__ord", ["__tok"], ascending=True,
        raw=(sel, F.col("__ord"), {"__tok": F.col("__tok")}),
    )
    before = F.col("__cum___tok") - F.col("__tok")
    return cum.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.floor(before / budget).cast("int").alias("pack_id"),
        (before % budget).cast("int").alias("pack_offset"),
    )


# ---------------------------------------------------------------------------
# vocabulary / TF-IDF statistics
# ---------------------------------------------------------------------------


def vocab_stats(
    df: DataFrame, id_col: str, text_col: str, sep: str = TOKEN_SPLIT
) -> DataFrame:
    """Corpus vocabulary statistics: per-token total term frequency and
    document frequency. One explode → one aggregate (map-side combines);
    vocabulary cardinality, not corpus size, bounds the shuffle."""
    tok = F.explode(tokens(F.col(text_col), sep)).alias("token")
    return (
        df.select(F.col(id_col).alias("__d"), tok)
        .groupBy("token")
        .agg(
            F.count("*").alias("term_freq"),
            F.countDistinct("__d").alias("doc_freq"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    sep: str = TOKEN_SPLIT,
) -> DataFrame:
    """Top-k characteristic tokens per document by smoothed TF-IDF
    (``tf * ln((1+N)/(1+df))``, token-lexicographic tiebreak). The doc
    count and doc-frequency table are corpus-level aggregates that
    broadcast back onto the per-doc term counts; ranking is one window
    over (doc, token) — partitioned by doc, never global.

    Doc frequency is a ``count() over (partition by token)`` window on
    the reduced (doc, token) frame — kept DELIBERATELY after an r13-opt
    A/B against the vocab-bounded aggregate + broadcast-join-back form:
    at bench scale the join form's extra aggregate job + broadcast
    build round-trip costs more than the window's exchange+sort of the
    reduced frame (interleaved 10-rep medians 0.82 s window vs 1.08 s
    join at sf0.1). The join-back form becomes the right dial when the
    (doc, token) frame is huge relative to the vocabulary — at that
    point swap ``F.count("*").over(Window.partitionBy("token"))`` for
    ``tf.join(broadcast(tf.groupBy("token").count()), "token")``."""
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col), sep)).alias("token"))
    # one explode + one (doc, token) aggregate; doc frequency is a count
    # window over that already-reduced frame (one row per (doc, token)),
    # so the corpus is exploded and shuffled exactly once
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    n = F.broadcast(df.agg(F.countDistinct(id_col).alias("__n")))

    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("token")))
        .crossJoin(n)
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((1 + F.col("__n")) / (1 + F.col("df"))),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "token", "tfidf", F.col("rn").alias("rank"))
    )


def select_until_budget(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Column | str,
    token_count_col: Column | str,
    budget: int,
    descending: bool = True,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Budget-capped best-first selection: walk each group's documents
    best-first (``order_by``, e.g. quality score) and keep documents
    while the group's running token total stays under ``budget`` — the
    "fill N tokens per language with the best material" mixture op.
    Greedy-prefix semantics: the first document that crosses the budget
    is the last one taken. One window shuffle per group; deterministic
    given a total order (provide ``tiebreak``)."""
    from pyspark.sql import Window

    oc = F.col(order_by) if isinstance(order_by, str) else order_by
    ordering = [oc.desc() if descending else oc.asc()] + [F.col(t) for t in tiebreak]
    tc = _c(token_count_col)
    w = Window.partitionBy(*keys).orderBy(*ordering).rowsBetween(
        Window.unboundedPreceding, -1
    )
    before = F.coalesce(F.sum(tc).over(w), F.lit(0))
    return df.withColumn("__before", before).filter(
        F.col("__before") < budget
    ).drop("__before")


def unigram_cross_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = TOKEN_SPLIT,
    out: str = "xent",
) -> DataFrame:
    """Per-document cross-entropy against the corpus unigram LM:
    ``-(1/n) Σ ln p(token)`` with p from corpus-wide term frequencies.
    The cheap stand-in for KenLM-perplexity quality filtering — docs
    whose token mix diverges from the corpus (gibberish, wrong-language,
    boilerplate) score high. Two aggregates: the vocab-bounded unigram
    table broadcasts back onto (doc, token) counts; no model, no UDF.
    The vocab table is persisted (vocab-bounded, consumed by both the
    total and the scoring join) and the total derives from it — one
    corpus scan for the LM side instead of two. (r13-opt A/B: pinning
    the per-(doc, token) frame instead, to reach one corpus explode,
    measured SLOWER at sf0.1 — 1.49 s vs 0.97 s interleaved medians —
    because the cache materialization + two cache scans cost more than
    the second explode; the tiny vocab pin is the better trade until
    the corpus dwarfs the cache.)"""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col), sep)).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("ctf")).persist()
    total = F.broadcast(vocab.agg(F.sum("ctf").alias("__total")))
    return (
        tf.join(F.broadcast(vocab), "token")
        .crossJoin(total)
        .groupBy(id_col)
        .agg(
            (
                -F.sum(F.col("tf") * F.log(F.col("ctf") / F.col("__total")))
                / F.sum("tf")
            ).alias(out)
        )
    )


def nfc_normalize_udf():
    """Arrow-batched NFC normalizer (no Spark built-in exists). Unicode
    canonical composition is the first step of any dedup/fingerprint
    pipeline over web text — 'e'+COMBINING-ACUTE and U+00E9 must hash
    identically. pandas_udf: one Python call per Arrow batch, not per
    row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc


def strip_accents_udf():
    """Accent folding: NFD-decompose then drop combining marks (matches
    DuckDB ``strip_accents`` for Latin text). Arrow-batched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _strip(s: pd.Series) -> pd.Series:
        import unicodedata

        def fold(x):
            if x is None:
                return None
            return "".join(
                ch
                for ch in unicodedata.normalize("NFD", x)
                if not unicodedata.combining(ch)
            )

        return s.map(fold)

    return _strip


def chunk_text_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 256,
    overlap: int = 32,
    sep: str = TOKEN_SPLIT,
) -> DataFrame:
    """RAG-style overlapping chunker: split each document into
    ``size``-token windows stepping ``size - overlap`` tokens, so
    consecutive chunks share ``overlap`` tokens of context. Returns
    (id, chunk_idx, chunk). One posexplode — the fan-out is
    ceil(tokens/stride) rows per doc; documents shorter than ``size``
    yield themselves as chunk 0."""
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    stride = size - overlap

    def build(w: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(w) - overlap, F.lit(1)), F.lit(stride)
        )
        return F.transform(
            starts, lambda s: F.array_join(F.slice(w, s, size), " ")
        )

    chunks = bind_once(tokens(text_col, sep), build)
    return df.select(
        id_col, F.posexplode(chunks).alias("chunk_idx", "chunk")
    )


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    buckets: int = 256,
    smoothing: float = 1.0,
    sep: str = TOKEN_SPLIT,
    out: str = "log_weight",
    portable: bool = True,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, *Data Selection for
    Language Models via Importance Resampling*): fit hashed-unigram bag
    multinomials for the target distribution (rows where ``is_target``)
    and the raw distribution (the rest), then score every raw document

        ``log w(x) = Σ_tokens [ log p_target(bucket) − log p_raw(bucket) ]``

    with add-``smoothing`` Laplace estimates. High-weight documents look
    like the target corpus and are what importance resampling keeps.

    Scale shape: one token explode, one O(``buckets``) count table
    (broadcast-safe *by construction* — its size is the parameter, not
    the data), one broadcast join onto per-(doc, bucket) counts, one
    final per-doc aggregate. No UDF, no driver collect.

    ``portable=True`` buckets by the 60-bit md5 (:func:`token_hash60`)
    so a DuckDB oracle reproduces scores bit-for-bit; ``portable=False``
    switches to xxhash64 (:func:`token_hash_fast`) — the cheaper
    Spark-only hash for 100 TB runs (hash choice only permutes buckets;
    score distributions are statistically identical).

    Returns (id_col, ``out``) for raw-side documents only.
    """
    bucket_of = (
        token_hash60("token") % buckets
        if portable
        else F.pmod(token_hash_fast("token"), F.lit(buckets))
    )
    toks = df.select(
        F.col(id_col),
        is_target.alias("__t"),
        F.explode(tokens(F.col(text_col), sep)).alias("token"),
    ).withColumn("bucket", bucket_of)
    # ONE corpus explode: the per-(doc, bucket) count frame is the shared
    # base — the O(buckets) distribution tables and the raw-side scoring
    # frame both derive from it (previously each branch re-exploded the
    # corpus: two Generate+Exchange passes per run). Pinned because it
    # has two consumers and this build's AQE does not reuse exchanges
    # under broadcast branches. Size: ≤ docs × min(doc_len, buckets)
    # rows — the bucketized frame the query shuffles anyway.
    base = toks.groupBy(id_col, "__t", "bucket").agg(
        F.count("*").alias("tf")
    ).persist()
    # persisted: O(buckets) rows by construction, consumed by the totals
    # aggregate AND the scoring join. Bounded by the parameter, never
    # the data.
    counts = base.groupBy("bucket").agg(
        F.sum(F.when(F.col("__t"), F.col("tf")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("__t"), F.col("tf")).otherwise(0)).alias("cr"),
    ).persist()
    doc_b = base.filter(~F.col("__t")).select(id_col, "bucket", "tf")
    tot = counts.agg(
        F.sum("ct").alias("__tt"), F.sum("cr").alias("__tr")
    )
    sm, b = F.lit(float(smoothing)), F.lit(float(buckets))
    return (
        doc_b.join(F.broadcast(counts), "bucket")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.col("tf")
                * (
                    F.log((F.col("ct") + sm) / (F.col("__tt") + sm * b))
                    - F.log((F.col("cr") + sm) / (F.col("__tr") + sm * b))
                )
            ).alias(out)
        )
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: Sequence[str] = ("the", "a"),
    min_tokens: int = 40,
    max_tokens: int = 100_000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    sep: str = TOKEN_SPLIT,
) -> DataFrame:
    """Gopher-rules quality gate (Rae et al. 2021 §A1.1, adapted to a
    pre-tokenized corpus): per-document boolean columns for each rule —
    token-count bounds, mean-token-length bounds, fraction of tokens
    containing an alphabetic character, and minimum stopword hits — plus
    the conjunction ``keep``. Pure JVM expressions over one scan; the
    composite is the standard pretraining-corpus first-pass filter.
    """
    w = tokens(F.col(text_col), sep)
    n = F.size(w)
    mean_len = F.aggregate(
        w, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    ) / n
    alpha_frac = (
        F.size(F.filter(w, lambda t: t.rlike("[A-Za-z]"))) / n
    )
    sw = F.array([F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(w, lambda t: F.array_contains(sw, t)))
    return df.select(
        F.col(id_col),
        ((n >= min_tokens) & (n <= max_tokens)).alias("ok_token_count"),
        ((mean_len >= min_mean_len) & (mean_len <= max_mean_len)).alias(
            "ok_mean_len"
        ),
        (alpha_frac >= min_alpha_frac).alias("ok_alpha"),
        (n_stop >= min_stopwords).alias("ok_stopwords"),
        (
            (n >= min_tokens)
            & (n <= max_tokens)
            & (mean_len >= min_mean_len)
            & (mean_len <= max_mean_len)
            & (alpha_frac >= min_alpha_frac)
            & (n_stop >= min_stopwords)
        ).alias("keep"),
    )


def unigram_drift(
    df: DataFrame,
    group_col: str,
    text_col: str,
    buckets: int = 256,
    smoothing: float = 1.0,
    sep: str = TOKEN_SPLIT,
) -> DataFrame:
    """Pairwise corpus drift: smoothed KL divergence between the
    hashed-unigram distributions of every ordered pair of groups
    (sources, snapshots, shards) —

        ``KL(a‖b) = Σ_buckets p_a · ln(p_a / p_b)``

    with add-``smoothing`` estimates over the union of observed buckets.
    The monitoring twin of :func:`dsir_scores`: a source whose KL
    against the rest jumps between snapshots has drifted (new crawl
    seed, encoding bug, collapsed scraper).

    Scale shape: one explode, one (group × bucket) count aggregate —
    every later frame is O(groups × buckets), a few thousand rows
    regardless of corpus size."""
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(tokens(F.col(text_col), sep)).alias("token"),
    ).withColumn("bucket", token_hash60("token") % buckets)
    # One (g, bucket) count aggregate, then each group's whole
    # distribution is assembled into a bucket→count MAP (O(groups) rows,
    # each ≤ ``buckets`` entries). The KL grid is a cross join of that
    # map frame with itself plus one ``aggregate`` higher-order function
    # over the observed-bucket universe — replacing the previous
    # grid-expansion shape (totals aggregate + bucket-universe distinct
    # + two per-bucket left joins back onto counts: 4 Exchanges and 3
    # BroadcastExchanges per run) with 2 Exchanges and 1 tiny broadcast.
    # Same doubles: pa/pb use the identical smoothing expressions and
    # the sum runs over the identical bucket set (sorted, so summation
    # order is deterministic run-to-run — stricter than the previous
    # shuffle-order sum).
    counts = toks.groupBy("g", "bucket").agg(F.count("*").alias("c"))
    # persisted: O(groups) rows, consumed three times (both cross-join
    # sides + the bucket universe) — without the pin each consumer
    # re-scans the corpus. Bounded by parameters, never the data.
    dist = counts.groupBy("g").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("c")))
        ).alias("m"),
        F.sum("c").alias("t"),
    ).persist()
    # global universe of observed buckets (the oracle smooths over every
    # bucket any group observed, not the per-pair union)
    uni = dist.agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(F.map_keys("m"))))
        ).alias("u")
    )
    sm, b = F.lit(float(smoothing)), F.lit(float(buckets))
    pairs = (
        dist.select(F.col("g").alias("ga"), F.col("m").alias("ma"), F.col("t").alias("ta"))
        .crossJoin(
            dist.select(F.col("g").alias("gb"), F.col("m").alias("mb"), F.col("t").alias("tb"))
        )
        .filter(F.col("ga") != F.col("gb"))
        .crossJoin(F.broadcast(uni))
    )

    def _term(acc, bkt):
        pa = (F.coalesce(F.element_at(F.col("ma"), bkt), F.lit(0)) + sm) / (
            F.col("ta") + sm * b
        )
        pb = (F.coalesce(F.element_at(F.col("mb"), bkt), F.lit(0)) + sm) / (
            F.col("tb") + sm * b
        )
        return acc + pa * F.log(pa / pb)

    return pairs.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        F.aggregate("u", F.lit(0.0), _term).alias("kl"),
    )


def bigram_cross_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lam: float = 0.7,
    sep: str = TOKEN_SPLIT,
    out: str = "xent2",
) -> DataFrame:
    """Per-document cross-entropy against an interpolated bigram LM —
    the step up from :func:`unigram_cross_entropy` toward the KenLM
    quality filters of CCNet-style pipelines:

        ``-(1/(n-1)) Σ ln( λ·p(w_i|w_{i-1}) + (1−λ)·p(w_i) )``

    with corpus-MLE estimates. EVERYTHING derives from one pinned
    per-(doc, bigram) count frame: the corpus bigram table, the
    first-token marginal (the conditional's denominator), the
    second-token marginal (the unigram interpolation term), and the
    total — so the corpus text is scanned exactly once. The count
    tables are observed-bigram-bounded aggregates; joins onto the tf
    frame are plain equi-joins AQE can broadcast when small.

    Documents with fewer than two tokens have no bigrams and are
    absent from the output (no distribution to score)."""
    w = tokens(F.col(text_col), sep)
    pairs = F.arrays_zip(
        F.slice(w, 1, F.size(w) - 1).alias("w1"),
        F.slice(w, 2, F.size(w) - 1).alias("w2"),
    )
    toks = (
        df.filter(F.size(w) >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("__p"))
        .select(id_col, F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    )
    tf = toks.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("tf")).persist()
    cnt = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12")).persist()
    c1 = cnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = cnt.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n_tot = F.broadcast(cnt.agg(F.sum("c12").alias("__n")))
    lam_c = F.lit(float(lam))
    p = lam_c * (F.col("c12") / F.col("c1")) + (F.lit(1.0) - lam_c) * (
        F.col("c2") / F.col("__n")
    )
    # Route tf through the three count joins directly (the r12 form).
    # The r13 alternative — score the vocab²-bounded cnt frame first
    # (ln per distinct bigram) and join the (doc, bigram) frame once —
    # was kept on a tied local A/B but measured 0.67× by the r13
    # driver, and the r14 interleaved 10-rep A/B at sf0.1 agreed
    # (old median 2.07 s / min 1.06 vs new 2.13 / min 1.50): with a
    # broadcastable vocab every join is map-side in BOTH forms, so the
    # corpus frame is never shuffled either way, and the extra
    # build-chain depth of the pre-scored frame (cnt⋈c1⋈c2 must
    # materialize before the broadcast build) costs more than ln() per
    # row saves. The join-once shape only wins when the vocab outgrows
    # the broadcast threshold; revisit if the corpus vocabulary does.
    return (
        tf.join(cnt, ["w1", "w2"])
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(n_tot)
        .groupBy(id_col)
        .agg((-F.sum(F.col("tf") * F.log(p)) / F.sum("tf")).alias(out))
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    window: int = 5,
    min_count: int = 5,
    top_k: int = 50,
    sep: str = TOKEN_SPLIT,
) -> DataFrame:
    """Collocation mining: corpus-level pointwise mutual information
    over windowed token co-occurrences —

        ``PMI(a,b) = ln( c(a,b) · N / (c(a) · c(b)) )``

    with c(a,b) counting ordered pairs within ``window`` tokens (the
    linear-fanout formulation: ``window × n`` pairs per doc, never the
    quadratic all-pairs), c(·) the token occurrence counts and N the
    total pair count. High-PMI pairs are phrases; the association
    signal behind keyphrase extraction and compound detection.

    Returns the ``top_k`` pairs with ``c_ab ≥ min_count`` ordered by
    PMI (token-pair tiebreak). Count tables are vocab-bounded
    aggregates; the pair table is pinned because both marginals join
    onto it."""
    w = tokens(F.col(text_col), sep)

    # bind_once: without it the doubly-nested lambda re-splits the
    # document once per (i, j) PAIR — O(tokens² x window) re-splits
    def build(wv: Column) -> Column:
        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(wv) - 1, F.lit(0))),
                lambda i: F.transform(
                    F.sequence(
                        i + 1, F.least(i + window, F.size(wv))
                    ),
                    lambda j: F.struct(
                        F.element_at(wv, i.cast("int")).alias("w1"),
                        F.element_at(wv, j.cast("int")).alias("w2"),
                    ),
                ),
            )
        )

    pairs = bind_once(w, build)
    p = (
        df.filter(F.size(w) >= 2)
        .select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    )
    c_ab = p.groupBy("w1", "w2").agg(F.count("*").alias("c_ab")).persist()
    n_tot = F.broadcast(c_ab.agg(F.sum("c_ab").alias("__n")))
    c_a = c_ab.groupBy("w1").agg(F.sum("c_ab").alias("c_a"))
    c_b = c_ab.groupBy("w2").agg(F.sum("c_ab").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab") * F.col("__n"))
        / (F.col("c_a") * F.col("c_b"))
    )
    return (
        c_ab.filter(F.col("c_ab") >= min_count)
        .join(c_a, "w1")
        .join(c_b, "w2")
        .crossJoin(n_tot)
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )


def script_profile(
    col: Column | str,
    prefix: str = "frac_",
) -> list[Column]:
    """Per-document character-class profile: fractions of Latin letters,
    digits, whitespace, punctuation/symbols, and other (non-ASCII —
    CJK/Cyrillic/emoji land here) — the script-mix fingerprint used to
    route documents to language-specific pipelines and catch
    mojibake/binary-in-text corruption. Pure regexp counts over one
    scan; returns five columns to splat into a select."""
    c = _c(col)
    true_len = F.length(c)
    n = F.greatest(true_len, F.lit(1))  # denominator only: empty → 0s
    # count removed-by-class = true length minus post-removal length
    latin = (true_len - F.length(F.regexp_replace(c, "[A-Za-z]", ""))) / n
    digit = (true_len - F.length(F.regexp_replace(c, "[0-9]", ""))) / n
    space = (true_len - F.length(F.regexp_replace(c, r"\s", ""))) / n
    other = (true_len - F.length(F.regexp_replace(c, "[^\\x00-\\x7F]", ""))) / n
    punct = (true_len / n) - latin - digit - space - other
    return [
        latin.alias(f"{prefix}latin"),
        digit.alias(f"{prefix}digit"),
        space.alias(f"{prefix}space"),
        punct.alias(f"{prefix}punct"),
        other.alias(f"{prefix}non_ascii"),
    ]


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval: top-``k`` documents for a bag of query
    terms (Robertson et al., TREC-3) — the ranked-retrieval upgrade of
    :func:`tfidf_topk` used to pull topic-relevant training slices and
    to build retrieval-eval sets from the corpus itself.

    The corpus tokenize runs exactly TWICE (once into the doc-length
    frame, once into the query-term-filtered tf frame — both pinned
    with localCheckpoint so their broadcast consumers don't recompute
    the explode); the query-term filter prunes the scored frame to
    |terms| × matching docs BEFORE any join; document frequencies and
    the (N, avgdl) stats row are tiny aggregates broadcast back. Per-(doc, term)
    scores are rounded into ``decimal(28,8)`` before the per-doc sum,
    so the total is exact-decimal — independent of partition order and
    bit-identical across engines — and the (score desc, id asc) top-k
    cutoff is deterministic. Scales as the corpus tokenization scan:
    no corpus-size collect, no global sort (TakeOrderedAndProject)."""
    terms = sorted({t.lower() for t in query_terms})
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\W+")).alias("term"),
    ).filter(F.col("term") != "")
    # dl and tf are each consumed by TWO branches (dl by the stats
    # broadcast + the scoring join; tf by the dfreq broadcast + the
    # probe), and this Spark build's AQE does not reuse exchanges
    # under broadcast branches — unpinned, the corpus tokenize runs
    # FOUR times. Pin both reduced frames (O(docs) and
    # O(|terms| x matching docs)) so it runs twice: once per frame.
    dl = (
        toks.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("__n"), F.avg("dl").alias("__avgdl")
        )
    )
    tf = (
        toks.filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(stats)
    )
    idf = F.log(
        (F.col("__n") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
    term_score = (idf * F.col("tf") * (k1 + 1.0) / denom).cast("decimal(28,8)")
    per_doc = scored.groupBy(id_col).agg(F.sum(term_score).alias("__s"))
    return (
        per_doc.orderBy(F.col("__s").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.col("__s").cast("double").alias("bm25"))
    )
