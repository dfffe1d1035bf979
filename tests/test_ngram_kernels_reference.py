"""The MinHash / LSH / n-gram kernels against plain-Python models.

One seeded corpus holds planted near duplicates and exact copies,
documents shorter than the shingle width (they shingle to nothing and
are dropped), NULL and empty text, and documents that repeat n-grams.
Each operator's rows are rebuilt in Python from the definitions in
their docstrings (split on one space, md5 → first 15 hex digits → mod
2^31-1 → the affine family → min) and compared row for row.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter
from itertools import combinations

import pytest

from azuredataengineering_deeplearning_spark.operators import dedup as DD
from azuredataengineering_deeplearning_spark.operators import text as T

M31 = DD.MERSENNE31
WORDS = [f"w{i}" for i in range(40)]


def _corpus(seed: int = 7) -> list[tuple[int, str | None]]:
    rng = random.Random(seed)
    docs: list[tuple[int, str | None]] = []

    def add(text):
        docs.append((len(docs) + 1, text))

    for _ in range(12):
        base = [rng.choice(WORDS) for _ in range(rng.randint(30, 45))]
        add(" ".join(base))
        # planted near duplicate: one word replaced mid-document
        near = list(base)
        near[len(near) // 2] = "zz"
        add(" ".join(near))
        if rng.random() < 0.4:
            add(" ".join(base))  # exact copy
    for _ in range(10):
        add(" ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 25))))
    for short in ("w1", "w1 w2", "w3 w4"):  # shorter than k = 3
        add(short)
    add(None)
    add("")
    # repeated n-grams: a chant, a templated line, one repeated bigram
    add("la la la la la la la la")
    add(" ".join(["buy now"] * 5 + ["w5 w6 w7"]))
    add("w1 w2 w1 w2 w3 w9 w8 w1 w2")
    return docs


CORPUS = _corpus()


def _grams(text: str | None, k: int) -> list[str]:
    if text is None:
        return []
    w = text.split(" ")
    return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(k: int = 3) -> dict[int, set[str]]:
    out = {i: set(_grams(t, k)) for i, t in CORPUS}
    return {i: s for i, s in out.items() if s}


def _signature(shingles: set[str], num_hashes: int = 16) -> list[int]:
    hs = [_hash60(s) % M31 for s in shingles]
    return [min((a * h + b) % M31 for h in hs) for a, b in DD.MINHASH_FAMILY[:num_hashes]]


def _candidates(sigs: dict[int, list[int]], bands: int = 8, r: int = 2) -> set:
    buckets: dict = {}
    for i, sig in sigs.items():
        for j in range(bands):
            buckets.setdefault((j, *sig[j * r : (j + 1) * r]), []).append(i)
    return {(a, b) for ids in buckets.values() for a, b in combinations(sorted(ids), 2)}


def _jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_minhash_signatures_match_python_model(docs):
    want = {i: _signature(s) for i, s in _shingles().items()}
    got = {r.doc_id: list(r.signature) for r in DD.minhash_signatures(docs, "doc_id", "text").collect()}
    assert got == want
    # the short, NULL and empty documents have no shingles, so no row
    assert {i for i, t in CORPUS if len(_grams(t, 3)) == 0}.isdisjoint(got)


def test_lsh_candidates_and_verified_pairs_match_python_model(docs):
    shingles = _shingles()
    cands = _candidates({i: _signature(s) for i, s in shingles.items()})
    sigs = DD.minhash_signatures(docs, "doc_id", "text")
    got = {(r.id_a, r.id_b) for r in DD.lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert got == cands

    for threshold in (0.8, 0.5):
        want = {
            p: _jaccard(shingles[p[0]], shingles[p[1]])
            for p in cands
            if _jaccard(shingles[p[0]], shingles[p[1]]) >= threshold
        }
        with DD.cache_scope():
            rows = DD.minhash_near_duplicates(
                docs, "doc_id", "text", threshold=threshold
            ).collect()
        got = {(r.id_a, r.id_b): r.jaccard for r in rows}
        assert got.keys() == want.keys(), threshold
        assert all(got[p] == pytest.approx(want[p], abs=1e-12) for p in want)
        # the planted near duplicates (one word replaced) pass 0.8
        assert len(want) >= 12, threshold


def test_repetition_metrics_match_python_model(docs):
    want = {}
    for i, t in CORPUS:
        grams = _grams(t, 2)
        if not grams:
            continue  # fewer than n words: no row
        counts = Counter(grams)
        want[i] = (
            max(counts.values()) / len(grams),
            sum(c for c in counts.values() if c > 1) / len(grams),
        )
    rows = T.repetition_metrics(docs, "doc_id", "text", n=2).collect()
    got = {r.doc_id: (r.top_ngram_frac, r.dup_ngram_frac) for r in rows}
    assert got.keys() == want.keys()
    for i, (top, dup) in want.items():
        assert got[i] == (pytest.approx(top, abs=1e-12), pytest.approx(dup, abs=1e-12)), i
    chant = next(i for i, t in CORPUS if t == "la la la la la la la la")
    assert got[chant] == (1.0, 1.0)


@pytest.mark.parametrize("hash_grams", [False, True])
def test_contamination_overlap_grams_match_python_model(spark, docs, hash_grams):
    rng = random.Random(11)
    long_docs = [t for _, t in CORPUS if len(_grams(t, 5)) > 0]
    bench_texts = []
    for t in rng.sample(long_docs, 4):  # each leaks a 5-to-9-word span
        w = t.split(" ")
        start = rng.randrange(0, len(w) - 4)
        bench_texts.append(" ".join(w[start : start + rng.randint(5, 9)]))
    bench_texts += ["w1 w2", None, " ".join(rng.choice(WORDS) for _ in range(12))]
    bench = spark.createDataFrame(
        list(enumerate(bench_texts)), "doc_id long, text string"
    )
    bench_grams = {g for t in bench_texts for g in _grams(t, 5)}
    want = {
        i: n
        for i, t in CORPUS
        if (n := len(set(_grams(t, 5)) & bench_grams)) > 0
    }
    rows = DD.contamination_flags(docs, bench, "doc_id", "text", n=5, hash_grams=hash_grams).collect()
    assert {r.doc_id: r.overlap_grams for r in rows} == want
    assert len(want) >= 4
