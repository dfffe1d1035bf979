"""Orchestration tests + hypothesis property tests (SURVEY §5.3)."""

import time

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from azuredataengineering_deeplearning_spark.operators import profile as P
from azuredataengineering_deeplearning_spark.operators import windows as W
from azuredataengineering_deeplearning_spark.orchestration import (
    RetryPolicy,
    TaskResult,
    run_parallel,
    with_retry,
)

# ---------------------------------------------------------------------------
# orchestration
# ---------------------------------------------------------------------------


pytestmark = pytest.mark.slow  # heavy differential/fuzz suite: deselected by default (pytest.ini), run with -m ""


def test_retry_recovers():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("transient")
        return "done"

    policy = RetryPolicy(attempts=3, base_delay=0.01)
    assert with_retry(flaky, policy)() == "done"
    assert calls["n"] == 3


def test_retry_exhausts():
    policy = RetryPolicy(attempts=2, base_delay=0.01)
    with pytest.raises(ValueError):
        with_retry(lambda: (_ for _ in ()).throw(ValueError("nope")), policy)()


def test_run_parallel_mixed_outcomes():
    out = run_parallel(
        {
            "ok": lambda: 42,
            "bad": lambda: 1 / 0,
        },
        max_workers=2,
        policy=RetryPolicy(attempts=2, base_delay=0.01),
    )
    assert out["ok"].ok and out["ok"].result == 42
    assert not out["bad"].ok and isinstance(out["bad"].error, ZeroDivisionError)
    assert out["bad"].attempts_used == 2


def test_run_parallel_fail_fast():
    with pytest.raises(RuntimeError):
        run_parallel(
            {"bad": lambda: 1 / 0},
            policy=RetryPolicy(attempts=1),
            fail_fast=True,
        )


def test_run_parallel_actually_parallel():
    t0 = time.time()
    run_parallel({f"t{i}": lambda: time.sleep(0.3) for i in range(4)}, max_workers=4)
    assert time.time() - t0 < 1.0  # 4 x 0.3s sequential would be 1.2s


# ---------------------------------------------------------------------------
# hypothesis properties (small row counts — each example runs Spark jobs)
# ---------------------------------------------------------------------------

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),          # key
            st.integers(0, 10_000),     # order/time
            st.integers(-1000, 1000),   # value
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: (r[0], r[1]),
    ),
    salt=st.sampled_from([1, 7, 100, 10_000]),
)
@_slow
def test_salted_cumsum_invariant(spark, rows, salt):
    df = spark.createDataFrame(rows, "k int, t int, v int")
    plain = W.cumsum(df, ["k"], "t", "v").select("k", "t", "cumsum")
    salted = W.salted_cumsum(df, ["k"], "t", "v", salt_size=salt).select(
        "k", "t", F.col("cumsum").alias("s")
    )
    assert (
        plain.join(salted, ["k", "t"]).filter(F.col("cumsum") != F.col("s")).count()
        == 0
    )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    ),
    gap=st.sampled_from([1, 10, 100]),
)
@_slow
def test_sessionize_matches_python_model(spark, rows, gap):
    df = spark.createDataFrame(rows, "k int, t long")
    got = {
        (r.k, r.t): r.session_id
        for r in W.sessionize(df, ["k"], "t", gap=gap).collect()
    }
    for k in {r[0] for r in rows}:
        ts = sorted(t for kk, t in rows if kk == k)
        sid = 1
        for prev, cur in zip(ts, ts[1:]):
            expected_bump = 1 if cur - prev > gap else 0
            sid += expected_bump
            assert got[(k, cur)] == sid
        assert got[(k, ts[0])] == 1


@given(
    vals=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=30)
)
@_slow
def test_shrink_types_preserves_values(spark, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v long")
    shrunk = P.shrink_types(df, ["v"])
    before = {r.i: r.v for r in df.collect()}
    after = {r.i: r.v for r in shrunk.collect()}
    assert before == after  # downcast never loses observed values


# ---------------------------------------------------------------------------
# connected components vs the reference (tests/conftest.py)
# ---------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_resolve_clusters_matches_union_find(resolve, components, edges):
    # both paths find the same components as the reference, with min-id
    # canonical labels (the property the canonical-survivor dedup
    # depends on): bound 1 forces distributed rounds first, the default
    # bound resolves on the driver
    want = components(edges)
    for bound in (1, None):
        assert resolve(edges, bound) == want, bound


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1),           # pack group
            st.integers(0, 10_000),      # doc id
            st.integers(0, 500),         # token count
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda r: r[1],
    ),
    budget=st.sampled_from([64, 256, 1024]),
)
@_slow
def test_pack_sequences_invariants(spark, rows, budget):
    from azuredataengineering_deeplearning_spark.operators import text as T

    df = spark.createDataFrame(rows, "g int, doc_id int, n int")
    out = T.pack_sequences(df, "doc_id", F.col("n"), budget, pack_by="g")
    got = sorted(
        ((r.g, r.doc_id, r.n_tokens, r.pack_id, r.pack_offset) for r in out.collect())
    )
    # model: exclusive running sum in doc order per group
    by_g = {}
    for g, d, n, pid, off in got:
        before = by_g.get(g, 0)
        assert pid == before // budget, (g, d)
        assert off == before % budget
        by_g[g] = before + n
    # pack ids are dense-monotone per group and offsets stay under budget
    for _, _, _, pid, off in got:
        assert 0 <= off < budget and pid >= 0


@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
    fracs=st.sampled_from([[0.5, 0.5], [0.8, 0.1, 0.1], [1.0]]),
)
@_slow
def test_hash_group_split_total_and_stable(spark, keys, fracs):
    from azuredataengineering_deeplearning_spark.operators import setops as U

    df = spark.createDataFrame([(k,) for k in keys], "k int")
    a = {r.k: r.split for r in U.hash_group_split(df, "k", fracs).collect()}
    b = {r.k: r.split for r in U.hash_group_split(df, "k", fracs).collect()}
    assert a == b  # deterministic
    assert all(0 <= s < len(fracs) for s in a.values())  # total function


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2", "u3"]),
            st.integers(min_value=0, max_value=50),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_funnel_invariants(spark, events):
    """Funnel invariants on arbitrary event streams: step times are
    non-decreasing down the funnel, nulls are monotone, and
    furthest_step counts the non-null times."""
    import datetime as dt
    from pyspark.sql import functions as F
    from azuredataengineering_deeplearning_spark.operators import windows as W

    base = dt.datetime(2024, 1, 1)
    rows = [(u, base + dt.timedelta(minutes=m), e) for u, m, e in events]
    df = spark.createDataFrame(rows, "u string, ts timestamp, e string")
    out = W.funnel_progress(
        df, "u", "ts",
        [("a", F.col("e") == "a"), ("b", F.col("e") == "b"), ("c", F.col("e") == "c")],
    ).collect()
    for r in out:
        ts = [r.t_a, r.t_b, r.t_c]
        non_null = [t for t in ts if t is not None]
        # monotone nulls: no time after the first missing step
        first_null = next((i for i, t in enumerate(ts) if t is None), 3)
        assert all(t is None for t in ts[first_null:])
        # ordered completion times
        assert non_null == sorted(non_null)
        assert r.furthest_step == len(non_null)


@given(
    values=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=2,
        max_size=25,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ewma_band_anomaly_consistency(spark, values):
    """ewma_bands invariant: a flagged point is outside its band, an
    unflagged point with a band is inside (<=), and bands are symmetric
    around the ewma."""
    import datetime as dt
    from azuredataengineering_deeplearning_spark.operators import timeseries as TS

    base = dt.date(2024, 1, 1)
    rows = [("k", base + dt.timedelta(days=i), v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "uid string, d date, y double")
    out = TS.ewma_bands(df, ["uid"], "d", "y", alpha=0.3, k=2.0, span=10).collect()
    for r in out:
        if r.sigma is None:
            assert not r.is_anomaly
            continue
        dev, band = abs(r.y - r.ewma), 2.0 * r.sigma
        assert r.is_anomaly == (dev > band)
        assert abs((r.hi - r.ewma) - (r.ewma - r.lo)) < 1e-9


def test_backfill_partitions_idempotent_and_isolated(spark, tmp_path):
    from pyspark.sql import functions as F

    from azuredataengineering_deeplearning_spark.orchestration import (
        backfill_partitions,
    )

    path = str(tmp_path / "table")
    # seed: two day-partitions
    spark.createDataFrame(
        [(1, "d1"), (2, "d2")], "v int, day string"
    ).write.partitionBy("day").parquet(path)

    calls = {"n": 0}

    def build(s, day):
        calls["n"] += 1
        # buggy builder also emits a foreign partition row — must be filtered
        return s.createDataFrame(
            [(100 + calls["n"], day), (999, "d1")], "v int, day string"
        )

    res = backfill_partitions(spark, build, path, "day", ["d2", "d3"], max_workers=2)
    assert all(r.ok for r in res.values())
    got = {(r.day, r.v) for r in spark.read.parquet(path).collect()}
    # d1 untouched (the 999 contamination row was filtered); d2 replaced; d3 added
    assert ("d1", 1) in got and ("d1", 999) not in got
    assert not {v for d, v in got if d == "d2"} & {2}
    assert any(d == "d3" for d, _ in got)
    # idempotence: re-running d3 leaves exactly one row set for d3
    backfill_partitions(spark, build, path, "day", ["d3"])
    d3 = [r for r in spark.read.parquet(path).collect() if r.day == "d3"]
    assert len(d3) == 1
