"""Round-7 regression tests for the r6 ADVICE findings.

Each test pins a concrete failure mode found by the round-6 advisor:

1. ``resolve_clusters`` once split the component of a two-wave
   lollipop graph (a stale driver-side label overlay); the graph stays
   as a regression input for both the driver and distributed paths.
2. KQL ``prev``/``next`` self-join evaluated the row numbering in two
   plan branches; with tied sort keys the branches could disagree.
3. ``quantile_transform`` global path dropped NULL values at the rank
   join (NULL never equi-joins), diverging from the keyed path.
4. ``embedding_near_duplicates`` hard-coded int64 ids, breaking the
   generic ``id_col`` contract for string doc ids; and nothing guarded
   its documented bounded-side driver collect.
"""

import pytest
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.operators import dedup as DD
from azuredataengineering_deeplearning_spark.operators.encoders import (
    quantile_transform,
)
from azuredataengineering_deeplearning_spark.operators import similarity as SIM
from azuredataengineering_deeplearning_spark.sources.kql import kql_to_df


# ---------------------------------------------------------------------------
# 1. resolve_clusters: the two-wave lollipop on both paths
# ---------------------------------------------------------------------------

# Two-wave lollipop that drove an older kernel wrong (hub nodes kept a
# stale label 1 instead of the true component min 0): a fast seed (1)
# crawls a tail chain, the hub (12-50/51/52) widens the graph, and the
# slow seed (0) reaches the hub only through later rounds.
BAIL_LOLLIPOP = [
    (1, 10), (10, 11), (11, 12), (12, 50), (12, 51), (12, 52),
    (0, 100), (100, 101), (101, 102), (102, 103), (103, 1),
]


@pytest.mark.parametrize("bound", [1, 2, 3, None])
@pytest.mark.parametrize("shift", [1, 100])
def test_resolve_clusters_tiny_frontier_thresholds(resolve, components, bound, shift):
    # sweep the driver bound (the frontier threshold the driver
    # union-find takes over at) across the lollipop's edge counts: every
    # split between distributed rounds and the driver union-find (None:
    # the default bound, driver only) must match the reference. The
    # lollipop is shifted by 1 and by 100 so that the hub and seed ids
    # interleave differently with the tail chain's ids.
    edges = [(a + shift, b + shift) for a, b in BAIL_LOLLIPOP]
    assert resolve(edges, bound) == components(edges)


# ---------------------------------------------------------------------------
# 2. KQL prev/next under tied sort keys
# ---------------------------------------------------------------------------


def test_kql_prev_consistent_under_ties(spark):
    rows = [
        (1, "a", 10.0), (1, "b", 20.0), (1, "c", 30.0),
        (2, "d", 40.0), (2, "e", 50.0),
    ]
    tdf = spark.createDataFrame(rows, "k long, name string, val double")
    out = kql_to_df({"T": tdf}, "T | sort by k asc | extend d = val - prev(val)")
    res = out.collect()
    # KQL serialize over non-unique sort keys may pick any total order,
    # but it must be ONE order: exactly one row has no prev, every
    # consumed prev-value is a real row value, and no value is consumed
    # twice (pre-fix, the shifted branch could renumber ties and pair a
    # row with the wrong neighbor or itself).
    nulls = [r for r in res if r["d"] is None]
    assert len(nulls) == 1
    consumed = [round(r["val"] - r["d"], 6) for r in res if r["d"] is not None]
    assert len(set(consumed)) == len(consumed)
    vals = {r["val"] for r in res}
    assert set(consumed) <= vals
    # the max-val row is last in any k-asc serialization of this data
    # only if ties break that way — but 50.0 (unique k=2 tail) always
    # has a prev from k<=2, and 10/20/30 share k=1: self-pairing is the
    # bug signature
    assert all(r["d"] != 0.0 for r in res if r["d"] is not None)


# ---------------------------------------------------------------------------
# 3. quantile_transform: NULL values keep their rank on the global path
# ---------------------------------------------------------------------------


def test_quantile_transform_global_nulls_match_keyed(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0), (4, None), (5, 9.0), (6, 5.0)],
        "id long, v double",
    )
    g = quantile_transform(df, [], "v").orderBy("id").collect()
    k = (
        quantile_transform(df.withColumn("__k", F.lit(1)), ["__k"], "v")
        .orderBy("id")
        .collect()
    )
    for a, b in zip(g, k):
        assert a["v_q"] is not None, "global path dropped the NULL group"
        assert abs(a["v_q"] - b["v_q"]) < 1e-12
    # nulls rank FIRST (percent_rank semantics): rank 0.0
    by_id = {r["id"]: r["v_q"] for r in g}
    assert by_id[2] == 0.0 and by_id[4] == 0.0


# ---------------------------------------------------------------------------
# 4. embedding_near_duplicates: generic ids + bounded-side guard
# ---------------------------------------------------------------------------


def _vec_rows():
    return [
        ("doc-a", [1.0, 0.0, 0.0]),
        ("doc-b", [0.999, 0.01, 0.0]),   # near-dup of doc-a
        ("doc-c", [0.0, 1.0, 0.0]),
        ("doc-d", [0.0, 0.0, 1.0]),
    ]


def test_embedding_near_duplicates_string_ids(spark):
    df = spark.createDataFrame(
        _vec_rows(), "vec_id string, embedding array<double>"
    )
    got = SIM.embedding_near_duplicates(df, threshold=0.9).collect()
    assert len(got) == 1
    (r,) = got
    assert (r["id_a"], r["id_b"]) == ("doc-a", "doc-b")  # value-ordered
    assert r["cos"] > 0.99
    # schema follows the input id type
    assert dict(SIM.embedding_near_duplicates(df, threshold=0.9).dtypes)[
        "id_a"
    ] == "string"


def test_embedding_near_duplicates_long_ids_unchanged(spark):
    df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(_vec_rows())],
        "vec_id long, embedding array<double>",
    )
    got = SIM.embedding_near_duplicates(df, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(0, 1)]


def test_embedding_near_duplicates_cap_guard(spark):
    df = spark.createDataFrame(
        _vec_rows(), "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="lsh_ann_topk"):
        SIM.embedding_near_duplicates(df, max_collect=2)


def test_numpy_topk_query_cap_guard(spark):
    df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(_vec_rows())],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ivf_topk"):
        SIM.numpy_topk(df, df, max_collect=2)


def test_resolve_clusters_bail_trigger_observed(resolve, components, spy_rounds):
    # whitebox: an edge list over the driver bound must actually bail
    # to distributed rounds (not just produce right answers by luck),
    # and the driver only ever receives a graph within the bound
    got = resolve(BAIL_LOLLIPOP, 2)
    assert got == components(BAIL_LOLLIPOP)
    assert spy_rounds["rounds"] >= 1
    assert spy_rounds["driver_rows"] and max(spy_rounds["driver_rows"]) <= 2


def test_resolve_clusters_hub_star_bails_and_resolves(resolve, components, spy_rounds):
    # a 200-spoke hub star fed by a chain: the 232 edges overflow a
    # 50-edge driver bound, so distributed rounds run until the cluster
    # graph fits; the hub's spokes then carry one label and the driver
    # finishes the chain. The adversarial-hub shape SCALING.md's driver
    # bound is about, swept across both paths as well.
    hub = 100
    spokes = [(hub, 200_000 + i) for i in range(200)]
    chain = [(0, 300_000)] + [
        (300_000 + i, 300_001 + i) for i in range(30)
    ] + [(300_030, hub)]
    edges = spokes + chain
    want = components(edges)
    assert set(want.values()) == {0}  # one component, min id 0
    assert resolve(edges, 50) == want
    assert spy_rounds["rounds"] >= 1 and max(spy_rounds["driver_rows"]) <= 50
    for bound in (1, 2, 3, None):
        assert resolve(edges, bound) == want, bound


def test_numpy_topk_string_ids(spark):
    # generic-id contract now consistent with embedding_near_duplicates
    df = spark.createDataFrame(
        _vec_rows(), "vec_id string, embedding array<double>"
    )
    got = SIM.numpy_topk(df, df, k=1).collect()
    assert all(isinstance(r["query_id"], str) for r in got)
    by_q = {r["query_id"]: r["neighbor_id"] for r in got}
    assert by_q["doc-a"] == "doc-b" and by_q["doc-b"] == "doc-a"


def test_exact_canonical_null_text_grouping(spark):
    # pinned divergence: window form groups NULL fingerprints; the
    # min-id null-text doc is its own canonical (survives), the other
    # null-text docs are its duplicates
    from azuredataengineering_deeplearning_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in DD.exact_canonical(df, "doc_id", "text").collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}


def test_numpy_topk_mixed_id_types(spark):
    # query_id follows the QUERIES frame's id type, neighbor_id the
    # corpus frame's — the two may differ
    corpus = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(_vec_rows())],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        _vec_rows()[:2], "vec_id string, embedding array<double>"
    )
    got = SIM.numpy_topk(corpus, queries, k=1).collect()
    assert all(isinstance(r["query_id"], str) for r in got)
    assert all(isinstance(r["neighbor_id"], int) for r in got)
