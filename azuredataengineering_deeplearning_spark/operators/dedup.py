"""Deduplication operators (north-star; SURVEY §7 step 7).

Four families, each a different cost/recall point:

- **exact**: hash-groupBy on a content fingerprint — one shuffle of
  (hash, id); the only O(n) method.
- **MinHash + LSH**: shingle → k min-hashes → banded buckets →
  candidate pairs → exact-jaccard verify. Candidates are generated by a
  *bucket join*, never an all-pairs product — the 100 TB path.
- **SimHash**: 32-bit sign-aggregated token-hash sketch; near-dups have
  small Hamming distance. One groupBy per doc; pairing via bucket join
  on rotated prefixes or blocked exact check.
- **n-gram Jaccard**: exact pairwise similarity — quadratic, for
  verification and small/blocked inputs only.

All hash arithmetic uses the portable 60-bit md5 prefix
(:func:`operators.text.token_hash60`) so every stage is DuckDB-checkable;
swap ``token_hash_fast`` in Spark-only deployments for cheaper hashing.
"""

from __future__ import annotations

from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from azuredataengineering_deeplearning_spark.functions.strings import sql_ident
from azuredataengineering_deeplearning_spark.sources.readers import local_rows_df
from azuredataengineering_deeplearning_spark.operators.text import (
    fingerprint,
    ngrams_sql,
    token_hash60,
    tokens,
    word_shingles,
)

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime modulus for the hash family

# Sketch/signature frames persisted inside the near-dup operators
# (shingles, minhash signatures, simhash sketches). Spark has no
# "unpersist once the consumer's action finishes" hook, so without a
# release path repeated calls in a long session accumulate cached
# frames until executor storage evicts them. Frames register here with
# STRONG references on purpose: the JVM cache outlives the Python
# handle (GC of the handle does NOT unpersist), so a weak registry
# would lose the only way to release the executor storage. The handles
# themselves are a few hundred bytes each. resolve_clusters consumes its
# pair plan eagerly (a bounded collect, or a checkpoint on overflow), so
# a cache_scope around minhash + resolve_clusters releases the sketches
# as soon as the components are known.
_CACHED: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _CACHED.append(df)
    return df


def unpersist_caches(blocking: bool = False) -> int:
    """Release every sketch/signature frame persisted by the dedup
    operators. Call after the pair frames returned by
    :func:`minhash_near_duplicates` / :func:`simhash_near_duplicates`
    have been materialized (count/write/collect); returns the number of
    frames released. Safe to call any time — a released frame is
    recomputed from lineage if a plan still references it."""
    n = 0
    while _CACHED:
        _CACHED.pop().unpersist(blocking)
        n += 1
    return n


def tracked_cache_count() -> int:
    """Number of sketch/signature frames currently held by the registry
    (observability hook for pipelines asserting they leak nothing)."""
    return len(_CACHED)


@contextmanager
def cache_scope(blocking: bool = False):
    """Auto-release scope for the dedup sketch caches: every frame
    persisted by dedup operators INSIDE the block is unpersisted on
    exit (success or error). Frames persisted before entry are left
    alone — scopes nest safely.

    Use around a dedup stage whose outputs are fully materialized
    within the block (counted/written/collected)::

        with dedup.cache_scope():
            pairs = minhash_near_duplicates(docs, ...)
            pairs.write.parquet(out)          # materializes
        # signature/sketch caches released here

    This closes the opt-in gap of :func:`unpersist_caches` — a pipeline
    that wraps its dedup stage holds zero tracked caches afterward."""
    mark = len(_CACHED)
    try:
        yield
    finally:
        while len(_CACHED) > mark:
            _CACHED.pop().unpersist(blocking)

# fixed affine hash family (a, b) pairs — drawn once from a seeded RNG,
# frozen as constants so signatures are reproducible everywhere
MINHASH_FAMILY: list[tuple[int, int]] = [
    (1195601180, 1939988556), (1656942675, 202218516), (660371334, 1424804304),
    (1807079470, 1402900643), (561270875, 426660601), (1532402147, 1122945821),
    (13367162, 1756857564), (1585329705, 1285731623), (1097864081, 344598892),
    (1870297389, 481937539), (953672125, 1425101661), (719445706, 1575722205),
    (1576968556, 635568313), (33657995, 1537823043), (328375601, 941880425),
    (1946764346, 903426384),
]


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup by content fingerprint: returns (id, canonical_id,
    is_duplicate). ``canonical_id`` is the min (or max) id sharing the
    fingerprint — deterministic survivor selection, unlike
    ``dropDuplicates``. One shuffle of (hash, id) pairs."""
    h = fingerprint(text_col).alias("__fp")
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    canonical = (
        df.select(h, F.col(id_col))
        .groupBy("__fp")
        .agg(agg.alias("canonical_id"))
    )
    return (
        df.select(F.col(id_col), h)
        .join(canonical, "__fp")
        .select(
            id_col,
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).cast("int").alias("is_duplicate"),
        )
    )


def exact_canonical(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out: str = "canonical_id",
    skew_safe: bool = False,
) -> DataFrame:
    """Single-pass twin of :func:`exact_duplicates` for COMPOSITES: the
    input frame with ``canonical_id`` (min id sharing the content
    fingerprint) attached via ``MIN(id) OVER (PARTITION BY fp)`` — one
    shuffle on the fingerprint, NO join back.

    Why it exists: ``exact_duplicates`` returns a separate (id,
    canonical, is_duplicate) frame, so a pipeline that joins it back to
    the features evaluates the scan→clean→fingerprint lineage two or
    three times (once per plan branch). Inside a larger lazy plan the
    window form evaluates the lineage ONCE. Skew bound: a window
    partition is one duplicate group — bounded by the corpus
    duplication factor, same key distribution the groupBy form
    shuffles. Keep ``exact_duplicates`` when you want the dedup verdict
    as its own small frame (its groupBy output is O(distinct fp)).

    NULL-text divergence (deliberate): ``exact_duplicates``' inner join
    silently DROPS null-fingerprint rows (NULL never equi-joins), while
    the window form groups all NULLs together — the min-id null-text
    doc gets ``canonical_id == doc_id`` and survives a
    ``doc_id == canonical_id`` filter, the rest are its duplicates.
    The window semantics match the SQL-window oracle
    (``MIN(id) OVER (PARTITION BY fp)`` treats NULL as one group) and
    are the saner contract; pre-filter null text explicitly if you
    want it gone.

    ``skew_safe=True``: swaps the window for
    ``groupBy(fp).agg(min(id))`` + an equi-join back on the
    fingerprint. ``min`` is decomposable, so map-side partial
    aggregation bounds a dominant duplicate group at one row per map
    task before the shuffle, and AQE's skew-join splits the probe side
    — AQE fixes skewed JOINS, not windows. Flip it on when one
    content fingerprint covers a material fraction of the corpus
    (boilerplate-heavy crawls); it trades the single-lineage property
    for bounded max-task time (the input lineage feeds both join
    branches). NULL semantics match the window form: the md5
    fingerprint of NULL text is NULL (would silently vanish in an
    equi-join), so the join key coalesces it to a sentinel — all
    null-text rows stay one group, exactly like the window."""
    from pyspark.sql import Window

    if skew_safe:
        keyed = df.withColumn(
            "__fp", F.coalesce(fingerprint(text_col), F.lit("\x00null"))
        )
        mins = keyed.groupBy("__fp").agg(F.min(id_col).alias(out))
        return keyed.join(mins, "__fp").drop("__fp")
    w = Window.partitionBy(fingerprint(text_col))
    return df.withColumn(out, F.min(id_col).over(w))


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    min_chars: int = 1,
    out: str = "text_deduped",
    skew_safe: bool = True,
) -> DataFrame:
    """Sub-document dedup: remove paragraphs whose normalized text
    already appeared earlier in the corpus, keeping each document's
    surviving paragraphs in original order (the pretraining-corpus
    boilerplate killer — repeated headers/footers/licenses across
    pages survive DOCUMENT-level dedup because the documents differ).

    First occurrence wins, globally: the canonical slot for a
    paragraph hash is ``min (id, position)``; only that slot keeps the
    paragraph. Paragraphs shorter than ``min_chars`` (after trim) are
    kept verbatim — deduping "Yes." across a corpus destroys meaning.

    Plan shape, ``skew_safe=True`` (default — the 100-TB shape): split
    → posexplode, then ``groupBy(xxhash64(norm)).agg(min(struct(id,
    pos)))`` for the canonical slot and an equi-join back on the hash.
    ``min(struct)`` is decomposable, so map-side partial aggregation
    bounds the hot key at one row per map task BEFORE the shuffle —
    a boilerplate paragraph present in most of a 100-TB corpus costs
    O(#tasks) reduce rows, not O(corpus) rows in one task. The join
    back is skew-tolerant too: at small scale AQE broadcasts the
    O(distinct-paragraph) min frame; at large scale the sort-merge
    probe side is split by AQE's skew-join. Cost vs the window form:
    the explode lineage appears in both join branches (2 scans of the
    source), traded for bounded max-task time.

    Plan shape, ``skew_safe=False``: ONE window over
    ``xxhash64(normalized)`` (same skew bound as
    :func:`exact_canonical`: a window partition is one duplicate
    group — AQE splits skewed JOINS, not windows), one scan, two
    shuffles, no joins. Cheaper when the duplication factor is benign;
    a single dominant paragraph funnels O(its copies) through one
    task.

    Both paths then reassemble survivors per document with one (id)
    groupBy + ``sort_array`` on the carried position. At 100 TB the
    explode is the cost driver: paragraphs-per-doc is a small constant
    multiplier and the 64-bit hash key partitions uniformly across
    duplicate groups.

    Returns one row per input document: ``id_col``, ``out`` (the
    reassembled text), ``n_paras`` (original), ``n_kept``."""
    from pyspark.sql import Window

    import re as _re

    # sep is a LITERAL separator; F.split takes a regex — escape it
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep), -1)
        ).alias("__pos", "__para"),
    )
    norm = F.lower(F.trim(F.col("__para")))
    short = F.length(F.trim(F.col("__para"))) < min_chars
    if skew_safe:
        keyed = paras.withColumn("__h", F.xxhash64(norm))
        mins = keyed.groupBy("__h").agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first")
        )
        first = F.col("__first")
        kept = keyed.join(mins, "__h").withColumn(
            "__keep",
            short
            | (
                (first[id_col] == F.col(id_col))
                & (first["__pos"] == F.col("__pos"))
            ),
        )
    else:
        w = Window.partitionBy(F.xxhash64(norm))
        first = F.min(F.struct(F.col(id_col), F.col("__pos"))).over(w)
        kept = paras.withColumn(
            "__keep",
            short
            | (
                (first[id_col] == F.col(id_col))
                & (first["__pos"] == F.col("__pos"))
            ),
        )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("__keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("__pos"), F.col("__para")),
                            )
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias(out),
        )
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    # deliberately NOT widened (cf. relational.widen_narrow_input): the
    # signature groupBy redistributes right after the explode, and the
    # measured repartition cost exceeds the narrow-input compute here
    return df.select(
        F.col(id_col), word_shingles(text_col, k).alias("__shingles")
    ).filter("size(__shingles) > 0")


def _signatures(shingled: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, signature) from a :func:`_shingled` frame: shingle explode →
    60-bit md5 hash → mod 2^31-1 → ``num_hashes`` affine permutations,
    min per doc. One explode + one groupBy, all map-side-combinable; the
    mins are one SQL string, so building the plan costs a few Py4J
    calls, not a few per hash."""
    if num_hashes > len(MINHASH_FAMILY):
        raise ValueError(f"num_hashes must be <= {len(MINHASH_FAMILY)}")
    ident = sql_ident(id_col)
    mins = ", ".join(
        f"min(({a} * __h + {b}) % {MERSENNE31})"
        for a, b in MINHASH_FAMILY[:num_hashes]
    )
    return (
        shingled.selectExpr(ident, "explode(__shingles) AS __s")
        .select(id_col, (token_hash60("__s") % MERSENNE31).alias("__h"))
        .groupBy(id_col)
        .agg(F.expr(f"array({mins}) AS signature"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature (array<long>, length ``num_hashes``)
    over the distinct ``shingle_k``-word shingles; docs shorter than
    ``shingle_k`` words (or NULL text) have no row."""
    return _signatures(_shingled(df, id_col, text_col, shingle_k), id_col, num_hashes)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banded-LSH candidate generation: docs sharing any band's row
    values collide. A bucket *join* on (band, values) — candidate count
    scales with bucket occupancy, not n². Returns (id_a, id_b), a < b."""
    vals = [f"v{r}" for r in range(rows_per_band)]
    bucket = ", ".join(
        f"named_struct('band', {j}, "
        + ", ".join(f"'{v}', signature[{j * rows_per_band + r}]" for r, v in enumerate(vals))
        + ")"
        for j in range(bands)
    )
    banded = signatures.selectExpr(f"{sql_ident(id_col)} AS __id", f"inline(array({bucket}))")
    return (
        banded.withColumnRenamed("__id", "id_a")
        .join(banded.withColumnRenamed("__id", "id_b"), ["band", *vals])
        .filter("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs ≥
    threshold. Joins the (small) candidate set to per-doc shingle arrays
    twice — never touches non-candidate docs."""
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("__shingles").alias("__sa"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("__shingles").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection → (id_a, id_b, jaccard).

    With b=8 bands × r=2 rows, P(miss) = (1-s²)^8 — ≈2e-6 at s=0.9.
    False positives are removed by the exact verify stage, so output =
    {pairs with true Jaccard ≥ threshold} ∩ {LSH-reachable}."""
    rows_per_band = num_hashes // bands
    # the shingle frame feeds both the signature pipeline and the verify
    # join — persist it so the expensive explode+md5 runs once (at
    # cluster scale: checkpoint to the lake instead); release later via
    # unpersist_caches()
    sh = _persist_tracked(_shingled(df, id_col, text_col, shingle_k))
    # both sides of the band bucket self-join read it; the frame is
    # id + num_hashes longs (~140 B/doc), spill-safe
    sigs = _persist_tracked(_signatures(sh, id_col, num_hashes))
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    return jaccard_verify(cands, sh, id_col, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact shingle Jaccard ≥ threshold → (id_a, id_b, jaccard) — the
    ground-truth verifier for the sketch-based methods.

    Gram-join plan, not an all-pairs cross product: explode distinct
    shingles, equi-join on the shingle, count co-occurrences per pair
    (map-side combined), jaccard = i / (na + nb - i). Candidate volume
    is Σ_gram occ(gram)² — bounded by shingle co-occurrence, never n².
    Hot shingles still pair quadratically within the gram; pass
    ``block_cols`` (lang, length band, …) to bound that at scale, or
    use :func:`minhash_near_duplicates` when exactness isn't needed."""
    if threshold <= 0:
        raise ValueError(
            "threshold must be > 0: zero-overlap pairs are structurally "
            "absent from the gram join"
        )
    # gram_hashes, not word_shingles: the consumer only equality-joins
    # shingles, so hash the token SLICE directly (no array_join string
    # building — ~2x cheaper per doc, and this lineage evaluates twice,
    # once per join side) and shuffle 8-byte keys instead of ~25-char
    # strings. A 1-in-2^64 hash collision could only merge two grams
    # corpus-wide — far below the oracle's 6-decimal jaccard tolerance.
    from azuredataengineering_deeplearning_spark.operators.text import gram_hashes

    # pin the per-doc shingle arrays: THREE consumers (both join sides
    # + the size dim) would otherwise each re-tokenize and re-hash the
    # corpus — the lineage is the dominant per-pass cost (r14 A/B:
    # 2.55 s → 1.56 s median at sf0.1 together with the narrow
    # shuffle below). O(docs × grams) rows of 8-byte hashes, the same
    # pinned-intermediate pattern as minhash/dsir.
    sh = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols],
        gram_hashes(text_col, shingle_k).alias("__shingles"),
    ).filter(F.size("__shingles") > 0).persist()
    ex = sh.select(
        F.col(id_col), *[F.col(c) for c in block_cols],
        F.size("__shingles").alias("__n"),
        F.explode("__shingles").alias("__g"),
    )
    a = ex.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__g",
        *[F.col(c).alias(f"__ba_{c}") for c in block_cols],
    )
    b = ex.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__g",
        *[F.col(c).alias(f"__bb_{c}") for c in block_cols],
    )
    cond = (F.col("id_a") < F.col("id_b")) & (a["__g"] == b["__g"])
    # EXACT size-ratio prune: jaccard ≥ t ⟹ i ≥ t·(na+nb−i) ⟹
    # min(na,nb)/max(na,nb) ≥ t (since i ≤ min). Filtering at the join
    # output drops impossible pairs BEFORE the pair-count shuffle —
    # no candidate that could reach the threshold is lost.
    cond = (
        cond
        & (F.col("__na") >= F.lit(threshold) * F.col("__nb"))
        & (F.col("__nb") >= F.lit(threshold) * F.col("__na"))
    )
    for c in block_cols:
        cond = cond & (F.col(f"__ba_{c}") == F.col(f"__bb_{c}"))
    # sizes are consulted in the join CONDITION (the prune) but not
    # carried through it: the pair-count exchange moves (id_a, id_b)
    # + a partial count — 2 group keys instead of 4 — and na/nb are
    # re-attached afterwards from the O(docs) size dim off the pinned
    # arrays (guide §2.3, shuffle fewer bytes; most pairs share ~1
    # gram, so partial aggregation cannot shrink this exchange).
    inter = (
        a.join(b, cond)
        .select("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sizes = sh.select(F.col(id_col), F.size("__shingles").alias("__n"))
    inter = inter.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")),
        "id_a",
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")),
        "id_b",
    )
    jaccard = F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
    return (
        inter.select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-doc SimHash sketch → (id, simhash bigint).

    Token-frequency-weighted sign aggregation of the portable 60-bit
    token hash's low ``bits``: one explode + one groupBy with ``bits``
    conditional sums (map-side combined), then bit assembly — no UDF."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).withColumn("__h", token_hash60(F.col("__t")))
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__s{b}")
            for b in range(bits)
        ]
    )
    assembled = sums.select(
        id_col,
        sum(
            [
                F.when(F.col(f"__s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
                for b in range(bits)
            ],
            start=F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return assembled


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 32,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Pairs whose SimHash Hamming distance ≤ ``max_hamming`` →
    (id_a, id_b, hamming). Pairing is blocked (or unblocked for small
    inputs); at scale use the standard rotate-and-block scheme over
    sketch prefixes."""
    sk = simhash(df, id_col, text_col, bits)
    if block_cols:
        sk = sk.join(df.select(id_col, *block_cols), id_col)
    # both sides of the self-join read sk; persist so the sketch's
    # tokenize+groupBy lineage runs once, not once per branch (this
    # build's AQE never reuses exchanges under broadcast branches).
    # The sketch is one 8-byte row per doc — lake-checkpoint at scale.
    # Release via unpersist_caches() once the pair frame materializes.
    sk = _persist_tracked(sk)
    a = sk.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("__ha"),
        *[F.col(c).alias(f"__ba_{c}") for c in block_cols],
    )
    b = sk.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("__hb"),
        *[F.col(c).alias(f"__bb_{c}") for c in block_cols],
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"__ba_{c}") == F.col(f"__bb_{c}"))
    hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        a.join(b, cond)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


@contextmanager
def _job_description(spark, text: str):
    """Label the Spark jobs launched inside the block with ``text``
    (the Spark UI / status tracker job description), then restore the
    caller's description. The job group is not touched."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", caller)


# Largest pair list or cluster graph (in edges) the driver union-find
# finishes; a bigger one first runs distributed label rounds. ~50k (id, id) rows is
# ~1 MB on the driver. Tests monkeypatch it to force the rounds.
_DRIVER_EDGES = 50_000


def _union_find(edges) -> dict:
    """Driver union-find over (a, b) rows → {node: root}; the root of a
    set is its smallest member (unions hang the larger root under the
    smaller one)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _label_round(edges: DataFrame, labels: DataFrame | None) -> DataFrame:
    """One distributed min-label round, checkpointed. First a hook: every
    label p takes H(p), the smallest of its own label and the labels
    adjacent to its class (the nodes labelled p). Then every node jumps
    twice, ``label <- H(H(label))``. Hooking moves a whole class in one
    round once any member touches a smaller label; plain neighbour-min
    propagation moves a label one edge per round, which on a chain whose
    ids are shuffled is O(diameter) rounds. The first round (``labels``
    None: every label is its node) is the neighbour min alone, one
    aggregation."""
    if labels is None:
        return (
            edges.groupBy(F.col("__src").alias("node"))
            .agg(F.min(F.least("__src", "__dst")).alias("label"))
            .localCheckpoint(eager=True)
        )
    nbr = (
        edges.join(
            labels.select(F.col("node").alias("__dst"), F.col("label").alias("__nl")),
            "__dst",
        )
        .groupBy(F.col("__src").alias("node"))
        .agg(F.min("__nl").alias("__nbr"))
    )
    hook = (
        labels.join(nbr, "node")
        .select(F.col("label"), F.col("__nbr").alias("__h"))
        .union(labels.select(F.col("node").alias("label"), F.col("label").alias("__h")))
        .groupBy("label")
        .agg(F.min("__h").alias("__h"))
    )

    def jump(df: DataFrame) -> DataFrame:
        return df.join(hook, "label").select("node", F.col("__h").alias("label"))

    return jump(jump(labels)).localCheckpoint(eager=True)


def _class_surplus(labels: DataFrame) -> int:
    """Distinct labels minus fixed points (label == node): a lower bound
    on the cluster graph's edge count. A component split into j classes
    has at least j - 1 cluster edges, and its minimum is a fixed point,
    so components number at most the fixed points. One aggregation over
    the label table, where the cluster graph costs two joins over the
    edges: on a chain with sorted ids every label stays distinct until
    it reaches the chain's minimum, so only the last rounds build the
    graph."""
    fixed = F.count(F.when(F.col("label") == F.col("node"), 1))
    return labels.agg(F.countDistinct("label") - fixed).first()[0]


def _cluster_graph(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Distinct (label(src), label(dst)) pairs with label(src) <
    label(dst): the edges between label classes. The edge list is
    symmetric, so one direction (``src < dst``) finds them all."""
    la, lb = F.col("__a"), F.col("__b")
    return (
        edges.filter(F.col("__src") < F.col("__dst"))
        .join(
            labels.select(F.col("node").alias("__src"), F.col("label").alias("__a")),
            "__src",
        )
        .join(
            labels.select(F.col("node").alias("__dst"), F.col("label").alias("__b")),
            "__dst",
        )
        .filter(la != lb)
        .select(F.least(la, lb).alias("__a"), F.greatest(la, lb).alias("__b"))
        .distinct()
    )


def resolve_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components over a near-dup pair list → (node,
    cluster_id), cluster_id = smallest id in the node's component.

    The pair list itself is collected first, with ``limit(_DRIVER_EDGES
    + 1)``. If it fits, a driver union-find with min roots finishes and
    the result is a driver-local frame. The pairs are persisted for that
    collect, so on overflow the symmetric, distinct edge list is built
    from the computed pairs, not from a second run of the pair plan
    (band and verify joins included); it is checkpointed and the
    persist released on both paths.

    Rounds. Every node carries a label, at first itself. The *cluster
    graph* is the set of edges between label classes: before any round,
    the checkpointed edges themselves (``src <= dst``, so self-loop
    nodes are kept; a pair list that overflowed only through repeated
    or mirrored pairs fits here); after a round, the distinct
    (label(src), label(dst)) pairs with label(src) < label(dst). Each
    pass collects the cluster graph with ``limit(_DRIVER_EDGES + 1)``.
    If it fits, the driver union-find finishes the job; if not, one
    distributed round (hook plus pointer jumps, :func:`_label_round`)
    runs and the pass repeats. After a round whose labels already prove
    the cluster graph too big (:func:`_class_surplus`, a lower bound on
    its size, over ``_DRIVER_EDGES``), the next round runs without
    building it.

    Correctness. A round only lowers a label, and only to the label of
    a node in the same component (a neighbour's, a neighbour of its
    class, or a label's label), so every label is a node of its own
    component, and the component's minimum m keeps label m. A component with no
    cross-class edge is therefore one class labelled m. In any other
    component every class has a cross edge (the component is connected),
    so each class label is a union-find node, and the union-find root of
    the component is its smallest label, m.

    Termination. A cross edge (u, v) with label(u) < label(v) lowers
    label(v) in the next round. So while the cluster graph is non-empty
    (a skipped collect means it is), some label strictly drops, and
    labels are node ids bounded below: the loop ends without an
    iteration cap. Hooking keeps the round count near O(log diameter)
    on chains, whatever the order of their ids (a 300-node chain takes
    7 rounds to a single class); near-dup graphs (unions of small
    cliques) fit the driver bound after at most one round.

    Driver bound. No collect holds more than ``_DRIVER_EDGES + 1`` rows
    (~1 MB), whatever the hub degree or component size.

    Pairs with a NULL id are ignored. The result never reads ``pairs``
    again (a driver-local frame, or the label → root map broadcast onto
    the checkpointed label table), so caches the pair plan depends on
    (the MinHash sketches under :func:`cache_scope`) may be released as
    soon as this returns. The Spark jobs it launches carry the job
    description ``dedup.resolve_clusters``; the caller's description is
    restored on exit and its job group is left alone."""
    spark = pairs.sparkSession
    with _job_description(spark, "dedup.resolve_clusters"):
        raw = (
            pairs.select(F.col(id_a).alias("__src"), F.col(id_b).alias("__dst"))
            .dropna()
            .persist()
        )
        try:
            id_type = raw.schema["__src"].dataType
            schema = StructType(
                [StructField("node", id_type), StructField("cluster_id", id_type)]
            )
            rows = raw.limit(_DRIVER_EDGES + 1).collect()
            if len(rows) <= _DRIVER_EDGES:
                return local_rows_df(spark, _union_find(rows).items(), schema)
            edges = (
                raw.union(
                    raw.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst"))
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
        finally:
            raw.unpersist()
        labels = None
        graph = edges.filter(F.col("__src") <= F.col("__dst"))
        while True:
            if graph is not None:
                rows = graph.limit(_DRIVER_EDGES + 1).collect()
                if len(rows) <= _DRIVER_EDGES:
                    break
            labels = _label_round(edges, labels)
            graph = None
            if _class_surplus(labels) <= _DRIVER_EDGES:
                graph = _cluster_graph(edges, labels)
        roots = _union_find(rows)
        if labels is None:
            return local_rows_df(spark, roots.items(), schema)
        if roots:
            root_map = local_rows_df(spark, roots.items(), schema).toDF("label", "__root")
            labels = labels.join(F.broadcast(root_map), "label", "left").select(
                "node", F.coalesce("__root", "label").alias("label")
            )
        return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    hash_grams: bool = False,
) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing any
    distinct n-gram with a benchmark/eval set → (id, overlap_grams).

    Both sides explode to distinct n-grams and meet in one equi-join on
    the gram; docs with zero overlap never leave the join. At 100 TB the
    benchmark side is tiny and broadcast (Spark does this automatically
    below the threshold); ``hash_grams=True`` joins on ``xxhash64`` of
    the gram instead of the string — 8 bytes of shuffle/broadcast per
    gram instead of ~n words, the key-only change this docstring used
    to merely describe. Hash collisions can only ADD a false overlap
    (1 in 2^64 per candidate pair — fine for a contamination GATE; keep
    string grams for exact-forensics or oracle-matched output).

    ``hash_grams=True`` also skips the gram STRING entirely: the hash
    is ``xxhash64`` of the token slice (same kernel as
    ``text.gram_hashes``), so the corpus side never pays array_join
    string building — ~2x less per-document work on the big side."""
    from azuredataengineering_deeplearning_spark.operators.relational import (
        widen_narrow_input,
    )

    explode = f"explode(array_distinct({ngrams_sql(text_col, n, hashed=hash_grams)})) AS __g"
    bench_grams = benchmark.selectExpr(explode).distinct()
    corpus_grams = widen_narrow_input(corpus).selectExpr(sql_ident(id_col), explode)
    return (
        corpus_grams.join(bench_grams, "__g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap_grams"))
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block: Column,
    max_dist: int = 1,
    out_dist: str = "dist",
) -> DataFrame:
    """Record-linkage candidate pairs by edit distance within blocks.

    The quadratic self-join is bounded by ``block`` (prefix, phonetic
    key, length bucket, ...): only rows sharing a block key meet, so
    cost is Σ block_size² instead of n² — the same blocking discipline
    as the MinHash band-bucket join. Distance uses Spark's
    threshold-bounded ``levenshtein`` (early-exits scanning past
    ``max_dist``). A LENGTH prefilter runs first: edit distance ≥
    |len(a) − len(b)|, so pairs outside ``max_dist`` in length never
    pay the DP scan — exact-preserving, and on name-like data it
    removes most of each block's quadratic bulk. Returns
    ``id_a < id_b`` pairs with the distance."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("__ta"),
        F.length(text_col).alias("__la"),
        block.alias("__b"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("__tb"),
        F.length(text_col).alias("__lb"),
        block.alias("__b"),
    )
    j = a.join(b, "__b").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
    )
    d = F.levenshtein(F.col("__ta"), F.col("__tb"), max_dist)
    return (
        j.withColumn(out_dist, d)
        .filter(F.col(out_dist) >= 0)  # threshold form returns -1 above max
        .select("id_a", "id_b", out_dist)
    )


def incremental_dedup(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Daily-batch exact dedup against an accumulated fingerprint store —
    the incremental form of :func:`exact_duplicates`: each ingest scans
    only the NEW batch, never re-hashing the historical corpus (the
    100-TB discipline: history is represented by its fingerprint set,
    32 bytes/doc).

    Returns ``(survivors, updated_store)``: survivors are new rows whose
    content fingerprint is absent from the store AND not claimed by a
    smaller id within the batch (deterministic intra-batch survivor,
    same min-id rule as the batch op); the updated store is the old one
    plus the batch's distinct fingerprints.

    Scale shape: one (fp, id) shuffle for the intra-batch group, one
    fp-keyed anti-join against the store. Bucket the store by ``fp`` so
    the daily join never re-shuffles the store side; at retention scale
    the store is orders of magnitude smaller than the corpus it
    summarizes."""
    fp = fingerprint(text_col)
    batch = new_docs.select(F.col(id_col), fp.alias("__fp"))
    canon = batch.groupBy("__fp").agg(F.min(id_col).alias("__min_id"))
    intra = (
        batch.join(canon, "__fp")
        .filter(F.col(id_col) == F.col("__min_id"))
        .select(id_col, "__fp")
    )
    fresh = intra.join(
        store.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
    ).select(id_col)
    survivors = new_docs.join(fresh, id_col, "left_semi")
    updated_store = (
        store.select("fp")
        .unionByName(batch.select(F.col("__fp").alias("fp")))
        .distinct()
    )
    return survivors, updated_store


def leakage_safe_split(
    df: DataFrame,
    key: str,
    pairs: DataFrame,
    fractions: Sequence[float],
    out: str = "split",
) -> DataFrame:
    """Train/val/test split where near-duplicates NEVER straddle splits.

    A hash split on the document id leaks: a near-dup pair lands one
    copy in train and one in test, and the eval measures memorization.
    This splits on the near-dup CLUSTER instead — every document is
    keyed by its component's canonical id (``resolve_clusters`` min
    label; singletons key as themselves), and the portable hash split
    of ``setops.hash_group_split`` assigns the whole cluster to one
    side. Cost: the components pass over the (sparse) pair list plus
    one left join of the cluster map onto the corpus — the map scales
    with the duplication rate, not the corpus, so AQE broadcasts it
    when small. The decision is the 60-bit md5 bucket of the group
    key: deterministic, engine-portable, reproducible run over run."""
    from azuredataengineering_deeplearning_spark.operators.setops import (
        hash_group_split,
    )

    clusters = resolve_clusters(pairs)
    with_group = (
        df.join(clusters, df[key] == clusters["node"], "left")
        .withColumn("group_key", F.coalesce("cluster_id", F.col(key)))
        .drop("node", "cluster_id")
    )
    return hash_group_split(with_group, "group_key", fractions, out=out)
