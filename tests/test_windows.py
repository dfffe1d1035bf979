"""Property tests for window operators (SURVEY §5.3)."""

import pyspark.sql.functions as F
import pytest

from azuredataengineering_deeplearning_spark.operators import scd as SCD
from azuredataengineering_deeplearning_spark.operators import windows as W
from azuredataengineering_deeplearning_spark.sources.readers import load_tables


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_tables(spark, sf_dir, ["events"])["events"].cache()


@pytest.mark.parametrize(
    "salt_size",
    [3_600_000_000_000, 86_400_000_000_000, 10**18],  # 1h, 1d, one-bucket
)
def test_salted_cumsum_equals_unsalted(spark, events, salt_size):
    plain = W.cumsum(events, ["user_id"], "ts_ns", "value").select("event_id", "cumsum")
    salted = W.salted_cumsum(
        events, ["user_id"], "ts_ns", "value", salt_size=salt_size
    ).select("event_id", F.col("cumsum").alias("salted"))
    diffs = (
        plain.join(salted, "event_id")
        .filter(F.col("cumsum") != F.col("salted"))
        .count()
    )
    assert diffs == 0


def test_sessionize_input_order_invariance(spark, events):
    a = W.sessionize(events, ["user_id"], "ts_ns", gap=3_600_000_000_000)
    shuffled = events.orderBy(F.rand(7))
    b = W.sessionize(shuffled, ["user_id"], "ts_ns", gap=3_600_000_000_000)
    joined = a.select("event_id", "session_id").join(
        b.select("event_id", F.col("session_id").alias("s2")), "event_id"
    )
    assert joined.filter(F.col("session_id") != F.col("s2")).count() == 0


def test_sessionize_gap_semantics(spark):
    rows = [(1, 0), (1, 50), (1, 200), (1, 220), (2, 0)]
    df = spark.createDataFrame(rows, "k int, t long")
    out = {
        (r.k, r.t): r.session_id
        for r in W.sessionize(df, ["k"], "t", gap=100).collect()
    }
    assert out[(1, 0)] == 1 and out[(1, 50)] == 1
    assert out[(1, 200)] == 2 and out[(1, 220)] == 2
    assert out[(2, 0)] == 1


def test_expanding_mean_excludes_current(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0)], "k int, t int, v double"
    )
    got = [
        r.expanding_mean
        for r in W.expanding_mean_excluding_current(df, ["k"], "t", "v")
        .orderBy("t")
        .collect()
    ]
    assert got[0] is None
    assert got[1] == 10.0
    assert got[2] == 15.0


def test_cumulative_mode(spark):
    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "b"), (1, 4, "a"), (1, 5, "a")]
    df = spark.createDataFrame(rows, "k int, t int, v string")
    got = [
        r.prev_mode
        for r in W.cumulative_mode(df, ["k"], "t", "v").orderBy("t").collect()
    ]
    # t=1: no history; t=2: {a}→a; t=3: tie a/b → most recent = b;
    # t=4: b twice → b; t=5: tie a2/b2 → most recent occurrence is a (t=4)
    assert got == [None, "a", "b", "b", "a"]


def test_scd2_invariants(spark, sf_dir):
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    out = SCD.apply_scd2(o, ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"])
    SCD.validate_scd2(out, ["o_custkey"])
    # contiguity: expiration of version i = day before effective of i+1
    nxt = W.lag_over(
        out, ["o_custkey"], "effectiveDate", "effectiveDate", -1, out="next_eff"
    )
    bad = nxt.filter(
        F.col("next_eff").isNotNull()
        & (
            F.to_date(F.col("expirationDate").cast("string"), "yyyyMMdd")
            != F.date_sub(F.to_date(F.col("next_eff").cast("string"), "yyyyMMdd"), 1)
        )
    ).count()
    assert bad == 0


def test_sliding_windows_drop_partials(spark):
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(5)], "k int, t int, v double"
    )
    out = W.sliding_windows(df, ["k"], "t", "v", 3).orderBy("t").collect()
    assert len(out) == 3  # rows 0,1,2 start full windows; 3,4 are partial
    assert out[0].window == [0.0, 1.0, 2.0]
    assert out[2].window == [2.0, 3.0, 4.0]


def test_asof_join_directions(spark):
    from azuredataengineering_deeplearning_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 25, "p2"), (2, 5, "p3")], ["k", "t", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 20, 200.0), (3, 1, 300.0)], ["k", "t", "w"]
    )
    back = {
        r.tag: (r.t_right, r.w)
        for r in asof_join(left, right, on="t", by=["k"]).collect()
    }
    # p1@10 -> 8; p2@25 -> 20; p3 (key 2, no right rows) -> nulls
    assert back == {"p1": (8, 100.0), "p2": (20, 200.0), "p3": (None, None)}
    fwd = {
        r.tag: r.t_right
        for r in asof_join(
            left, right, on="t", by=["k"], direction="forward"
        ).collect()
    }
    assert fwd == {"p1": 20, "p2": None, "p3": None}
    near = {
        r.tag: r.t_right
        for r in asof_join(
            left, right, on="t", by=["k"], direction="nearest"
        ).collect()
    }
    assert near == {"p1": 8, "p2": 20, "p3": None}


def test_asof_join_name_collision_suffix(spark):
    from azuredataengineering_deeplearning_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10, 1.0)], ["k", "t", "v"])
    right = spark.createDataFrame([(1, 9, 2.0)], ["k", "t", "v"])
    out = asof_join(left, right, on="t", by=["k"])
    assert set(out.columns) == {"k", "t", "v", "t_right", "v_right"}
    row = out.collect()[0]
    assert (row.v, row.v_right) == (1.0, 2.0)


def test_interval_join_matches_naive(spark):
    from azuredataengineering_deeplearning_spark.operators.joins import interval_join

    pts = spark.range(0, 500).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 13 % 997).alias("t")
    )
    ivs = spark.range(0, 60).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 31 % 900).alias("lo"),
        (F.col("id") * 31 % 900 + F.col("id") % 50).alias("hi"),
        F.col("id").alias("iv_id"),
    )
    got = interval_join(pts, ivs, "t", "lo", "hi", by=["k"], bucket_size=17)
    naive = pts.join(ivs, "k").filter(F.col("t").between(F.col("lo"), F.col("hi")))
    assert got.count() == naive.count()
    g = {tuple(r) for r in got.select("k", "t", "iv_id").collect()}
    n = {tuple(r) for r in naive.select("k", "t", "iv_id").collect()}
    assert g == n
    # auto bucket size path
    auto = interval_join(pts, ivs, "t", "lo", "hi", by=["k"])
    assert auto.count() == naive.count()


def _merge_asof_reference(L, R, direction):
    """pandas ``merge_asof`` over the same rows — the contract the
    engine's as-of join reproduces. ``L`` rows are (k, t, lid), ``R``
    rows (k, t, rv); returns {lid: (t_right, rv)} with None for
    unmatched."""
    import pandas as pd

    lp = pd.DataFrame(L, columns=["k", "t", "lid"]).sort_values("t", kind="mergesort")
    rp = pd.DataFrame(R, columns=["k", "t_right", "rv"]).sort_values(
        "t_right", kind="mergesort"
    )
    ref = pd.merge_asof(
        lp, rp, left_on="t", right_on="t_right", by="k", direction=direction
    )
    none = lambda v: None if pd.isna(v) else v
    return {
        r.lid: (none(r.t_right), none(r.rv)) for r in ref.itertuples(index=False)
    }


def test_asof_join_equals_merge_asof(spark):
    import random

    from azuredataengineering_deeplearning_spark.operators.joins import asof_join

    random.seed(11)
    L = [(random.randint(0, 15), random.randint(0, 500), i) for i in range(800)]
    R = list(
        {
            (k, t): (k, t, float(i))
            for i, (k, t) in enumerate(
                (random.randint(0, 15), random.randint(0, 500)) for _ in range(300)
            )
        }.values()
    )
    ldf = spark.createDataFrame(L, ["k", "t", "lid"])
    rdf = spark.createDataFrame(R, ["k", "t", "rv"])
    for d in ("backward", "forward", "nearest"):
        got = {
            r.lid: (r.t_right, r.rv)
            for r in asof_join(ldf, rdf, on="t", by=["k"], direction=d).collect()
        }
        assert got == _merge_asof_reference(L, R, d), d
    # matched-row null fields stay null (struct semantics, not ffill)
    l2 = spark.createDataFrame([(1, 10)], ["k", "t"])
    r2 = spark.createDataFrame(
        [(1, 5, 1.0), (1, 8, None)], "k long, t long, v double"
    )
    row = asof_join(l2, r2, on="t", by=["k"]).collect()[0]
    assert row.t_right == 8 and row.v is None


def test_asof_join_nearest_cases(spark):
    from azuredataengineering_deeplearning_spark.operators.joins import asof_join

    L = [
        (1, 15, 0),   # tie: 10 and 20 both 5 away -> backward (10)
        (1, 16, 1),   # strictly closer to 20
        (1, 10, 2),   # exact match
        (1, 14, 3),   # strictly closer to 10
        (2, 7, 4),    # key with no right rows -> nulls
        (3, 5, 5),    # every right row later -> first later one
        (4, 100, 6),  # every right row earlier -> last earlier one
        (5, 12, 7),   # nearest right row carries a NULL field
    ]
    R = [
        (1, 10, 1.0), (1, 20, 2.0),
        (3, 50, 3.0), (3, 60, 4.0),
        (4, 1, 5.0), (4, 2, 6.0),
        (5, 10, None), (5, 30, 7.0),
    ]
    ldf = spark.createDataFrame(L, "k long, t long, lid long")
    rdf = spark.createDataFrame(R, "k long, t long, rv double")
    out = asof_join(ldf, rdf, on="t", by=["k"], direction="nearest")
    # one shuffle, and every frame ends at the current row: a frame to
    # unboundedFollowing re-aggregates a key's tail per row (quadratic)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "unboundedfollowing" not in plan.lower()
    got = {r.lid: (r.t_right, r.rv) for r in out.collect()}
    assert got == {
        0: (10, 1.0), 1: (20, 2.0), 2: (10, 1.0), 3: (10, 1.0),
        4: (None, None), 5: (50, 3.0), 6: (2, 6.0), 7: (10, None),
    }
    assert got == _merge_asof_reference(L, R, "nearest")


def test_asof_join_nearest_timestamp_on(spark):
    import datetime as dt

    from azuredataengineering_deeplearning_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    m = lambda minutes, us=0: t0 + dt.timedelta(minutes=minutes, microseconds=us)
    L = [
        (1, m(5), 0),      # tie at 5 minutes each way -> backward
        (1, m(5, 1), 1),   # one microsecond past the midpoint -> forward
        (1, m(10), 2),     # exact match
        (2, m(3), 3),      # no right rows for this key
    ]
    R = [(1, m(0), 1.0), (1, m(10), 2.0)]
    ldf = spark.createDataFrame(L, "k int, t timestamp, lid int")
    rdf = spark.createDataFrame(R, "k int, t timestamp, rv double")
    got = {
        r.lid: (r.t_right, r.rv)
        for r in asof_join(ldf, rdf, on="t", by=["k"], direction="nearest").collect()
    }
    assert got == {
        0: (m(0), 1.0), 1: (m(10), 2.0), 2: (m(10), 2.0), 3: (None, None),
    }
    ref = _merge_asof_reference(L, R, "nearest")
    assert {
        lid: (None if t is None else t.to_pydatetime(), v)
        for lid, (t, v) in ref.items()
    } == got


def test_rolling_zscore_known_values(spark):
    rows = [(1, i, float(v)) for i, v in enumerate([10, 10, 10, 10, 100])]
    df = spark.createDataFrame(rows, "k int, t int, value double")
    out = {r.t: r.z for r in
           W.rolling_zscore(df, ["k"], "t", "value", lookback=10, out="z").collect()}
    # first row: no history -> NULL; rows 2-4: constant window sigma=0 -> NULL
    assert out[0] is None and out[2] is None
    # last row: mean=10 sd=0 over [10,10,10,10]... sigma 0 -> NULL too
    assert out[4] is None
    rows2 = [(1, i, float(v)) for i, v in enumerate([10, 20, 30, 40])]
    out2 = {r.t: r.z for r in
            W.rolling_zscore(spark.createDataFrame(rows2, "k int, t int, value double"),
                             ["k"], "t", "value", lookback=10, out="z").collect()}
    # t=2: window [10,20] mean 15 sd 7.071 -> (30-15)/7.071 = 2.1213
    assert abs(out2[2] - 2.1213) < 1e-3
    # t=1: single prior point -> stddev_samp undefined -> NULL
    assert out2[1] is None


def test_funnel_steps_strict_order(spark):
    rows = [
        ("u1", 1, "view"), ("u1", 2, "click"), ("u1", 3, "purchase"),
        # u2 clicks BEFORE viewing: click can't count; stalls at view
        ("u2", 5, "click"), ("u2", 6, "view"),
        # u3 never views
        ("u3", 1, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id string, us long, event_type string")
    out = {r.user_id: r for r in
           W.funnel_steps(df, "user_id", "us", "event_type",
                          ["view", "click", "purchase"]).collect()}
    assert (out["u1"].t_step0, out["u1"].t_step1, out["u1"].t_step2) == (1, 2, 3)
    assert out["u1"].steps_completed == 3
    assert out["u2"].t_step0 == 6 and out["u2"].t_step1 is None
    assert out["u2"].steps_completed == 1
    assert out["u3"].steps_completed == 0


def test_global_row_number_dense_and_ordered(spark):
    from pyspark.sql import functions as F
    from azuredataengineering_deeplearning_spark.operators.windows import global_row_number

    df = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 5000).alias("k")  # permuted order key
    )
    out = global_row_number(df, ["k"], num_partitions=8).collect()
    rns = sorted(r["rn"] for r in out)
    assert rns == list(range(1, 5001))                      # dense, 1-based
    by_rn = sorted(out, key=lambda r: r["rn"])
    assert [r["k"] for r in by_rn] == sorted(r["k"] for r in out)  # order matches


def test_funnel_progress_enforces_order(spark):
    import datetime as dt
    from azuredataengineering_deeplearning_spark.operators import windows as W

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 completes in order
        ("u1", t(0), "view"), ("u1", t(1), "click"), ("u1", t(2), "buy"),
        # u2 clicked BEFORE viewing: click must not count
        ("u2", t(5), "click"), ("u2", t(6), "view"),
        # u3 views only
        ("u3", t(0), "view"),
        # u4 never views: excluded entirely
        ("u4", t(0), "click"),
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, e string")
    from pyspark.sql import functions as F

    out = {r.u: r for r in W.funnel_progress(
        df, "u", "ts",
        [("view", F.col("e") == "view"),
         ("click", F.col("e") == "click"),
         ("buy", F.col("e") == "buy")],
    ).collect()}
    assert set(out) == {"u1", "u2", "u3"}
    assert out["u1"].furthest_step == 3 and out["u1"].t_buy == t(2)
    assert out["u2"].furthest_step == 1 and out["u2"].t_click is None
    assert out["u3"].furthest_step == 1


def test_funnel_summary_fractions(spark):
    import datetime as dt
    from azuredataengineering_deeplearning_spark.operators import windows as W
    from pyspark.sql import functions as F

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [("u%d" % i, t(0), "a") for i in range(4)] + [
        ("u0", t(1), "b"), ("u1", t(1), "b")
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, e string")
    prog = W.funnel_progress(
        df, "u", "ts", [("a", F.col("e") == "a"), ("b", F.col("e") == "b")]
    )
    out = {r.step: r for r in W.funnel_summary(prog, ["a", "b"]).collect()}
    assert out["a"].n_reached == 4 and out["a"].frac_of_first == 1.0
    assert out["b"].n_reached == 2 and out["b"].frac_of_first == 0.5


def test_event_transitions_counts_and_probs(spark):
    import datetime as dt
    from azuredataengineering_deeplearning_spark.operators import windows as W

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        ("u1", t(0), 1, "a"), ("u1", t(1), 2, "b"), ("u1", t(2), 3, "a"),
        ("u2", t(0), 4, "a"), ("u2", t(1), 5, "c"),
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, eid int, e string")
    out = {(r.from_event, r.to_event): r for r in
           W.event_transitions(df, "u", "ts", "e", "eid").collect()}
    # from 'a': a->b, a->c (one each); b->a once
    assert out[("a", "b")].n == 1 and out[("a", "c")].n == 1
    assert abs(out[("a", "b")].prob - 0.5) < 1e-12
    assert out[("b", "a")].prob == 1.0
    assert ("a", "a") not in out  # no cross-user pair (u1 end -> u2 start)


def test_paths_to_conversion_semantics(spark):
    import datetime as dt
    from azuredataengineering_deeplearning_spark.operators import windows as W
    from pyspark.sql import functions as Fx

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1: view > click > purchase (and a post-purchase event ignored)
        ("u1", t(0), 1, "view"), ("u1", t(1), 2, "click"),
        ("u1", t(2), 3, "purchase"), ("u1", t(3), 4, "view"),
        # u2: four pre-events, only last 3 kept
        ("u2", t(0), 5, "a"), ("u2", t(1), 6, "view"), ("u2", t(2), 7, "click"),
        ("u2", t(3), 8, "view"), ("u2", t(4), 9, "purchase"),
        # u3: converts instantly -> empty path
        ("u3", t(0), 10, "purchase"),
        # u4: never converts -> excluded
        ("u4", t(0), 11, "view"),
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, eid int, e string")
    out = {r.path: r.n_users for r in W.paths_to_conversion(
        df, "u", "ts", "e", "purchase", k=3, tiebreak_col="eid"
    ).collect()}
    assert out.get("view>click") == 1          # u1
    assert out.get("view>click>view") == 1     # u2, oldest 'a' dropped
    assert out.get("") == 1                    # u3
    assert sum(out.values()) == 3              # u4 absent


def test_frequent_sequences_counts_motifs(spark):
    import datetime as dt
    from azuredataengineering_deeplearning_spark.operators import windows as W

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = []
    eid = 0
    for u in ("u1", "u2", "u3"):
        for i, e in enumerate(["a", "b", "c", "a"]):
            eid += 1
            rows.append((u, t(i), eid, e))
    df = spark.createDataFrame(rows, "u string, ts timestamp, eid int, e string")
    out = {r.path: r.n_occurrences for r in W.frequent_sequences(
        df, "u", "ts", "e", n=3, min_count=2, top_k=10, tiebreak_col="eid"
    ).collect()}
    assert out == {"a>b>c": 3, "b>c>a": 3}  # two motifs per user, no cross-user


@pytest.mark.slow
def test_asof_salted_equals_native(spark):
    """Salted (time-bucketed + carry) as-of must return exactly the
    union+window join's rows — uniform keys, a hot key owning most rows,
    buckets with no right rows, and both directions."""
    import random

    from azuredataengineering_deeplearning_spark.operators.joins import (
        asof_join,
        asof_join_salted,
    )

    random.seed(7)
    # key 0 is hot (70% of left rows); right side unique per (k, t)
    L = [
        (0 if random.random() < 0.7 else random.randint(1, 9),
         random.randint(0, 1000), i)
        for i in range(900)
    ]
    R = list(
        {
            (k, t): (k, t, float(i))
            for i, (k, t) in enumerate(
                (random.randint(0, 9), random.randint(0, 1000))
                # sparse right → many empty buckets exercise the carry
                for _ in range(120)
            )
        }.values()
    )
    ldf = spark.createDataFrame(L, ["k", "t", "lid"])
    rdf = spark.createDataFrame(R, ["k", "t", "rv"])
    for d in ("backward", "forward"):
        for w in (7, 50, 5000):  # tiny buckets, medium, one-bucket-fits-all
            na = {
                r.lid: (r.t_right, r.rv)
                for r in asof_join(
                    ldf, rdf, on="t", by=["k"], direction=d
                ).collect()
            }
            sa = {
                r.lid: (r.t_right, r.rv)
                for r in asof_join_salted(
                    ldf, rdf, on="t", by=["k"], bucket_width=w, direction=d
                ).collect()
            }
            assert sa == na, (d, w)


def test_asof_salted_global_key_and_null_fields(spark):
    from azuredataengineering_deeplearning_spark.operators.joins import (
        asof_join_salted,
    )

    # by=[] — a single global sequence (the degenerate hot key)
    l2 = spark.createDataFrame([(10, 1), (3, 2), (99, 3)], ["t", "lid"])
    r2 = spark.createDataFrame(
        [(5, 1.0), (8, None), (50, 2.0)], "t long, v double"
    )
    got = {
        r.lid: (r.t_right, r.v)
        for r in asof_join_salted(l2, r2, on="t", by=[], bucket_width=10).collect()
    }
    # lid 1 (t=10): nearest prior is t=8 whose v IS NULL (struct, not ffill)
    assert got == {1: (8, None), 2: (None, None), 3: (50, 2.0)}
    # auto bucket width (sized from the left span) gives the same rows
    auto = {
        r.lid: (r.t_right, r.v)
        for r in asof_join_salted(l2, r2, on="t", by=[]).collect()
    }
    assert auto == got


def test_global_ntile_matches_spark_ntile_property(spark):
    """The hand-derived tile formula must be bit-identical to Spark's
    NTILE over a global window, across sizes that exercise every
    remainder case and bucket-vs-rows regime."""
    from pyspark.sql import Window

    from azuredataengineering_deeplearning_spark.operators.windows import global_ntile

    for total, n in [(1, 4), (3, 4), (4, 4), (10, 4), (10, 3), (97, 8), (64, 64), (5, 7)]:
        df = spark.range(total).select(
            (F.col("id") * 37 % 101).alias("v"), F.col("id").alias("tid")
        )
        got = {
            (r.v, r.tid): r.t
            for r in global_ntile(df, ["v", "tid"], n, out="t").collect()
        }
        ref = {
            (r.v, r.tid): r.t
            for r in df.withColumn(
                "t", F.ntile(n).over(Window.orderBy("v", "tid"))
            ).collect()
        }
        assert got == ref, (total, n)


def test_global_row_number_desc_and_string_orders(spark):
    """Desc Column specs and string order columns (the sorted-sample
    bounds path) must both produce the exact global ranking."""
    from azuredataengineering_deeplearning_spark.operators.windows import global_row_number

    df = spark.range(200).select(
        (F.col("id") * 7 % 50).alias("num"),
        F.concat(F.lit("k"), F.lpad((F.col("id") * 13 % 97).cast("string"), 3, "0")).alias("s"),
        F.col("id").alias("tid"),
    ).repartition(7)
    # descending numeric with tiebreak
    got = [
        (r.num, r.tid)
        for r in global_row_number(df, [F.col("num").desc(), F.col("tid")], out="rn")
        .orderBy("rn")
        .collect()
    ]
    ref = sorted(((r.num, r.tid) for r in df.collect()), key=lambda t: (-t[0], t[1]))
    assert got == ref
    # string leading order (non-numeric bounds path)
    got_s = [
        (r.s, r.tid)
        for r in global_row_number(df, ["s", "tid"], out="rn").orderBy("rn").collect()
    ]
    ref_s = sorted(((r.s, r.tid) for r in df.collect()))
    assert got_s == ref_s


def test_global_row_number_is_recompute_stable(spark):
    """The bucket id is a pure function of the value: re-evaluating the
    SAME returned frame twice (lazy, no cache) must give identical
    numbering — the property the old pid-pinned kernel needed
    localCheckpoint for."""
    from azuredataengineering_deeplearning_spark.operators.windows import global_row_number

    df = spark.range(5000).select(
        (F.hash("id") % 1000).alias("v"), F.col("id").alias("tid")
    )
    out = global_row_number(df, ["v", "tid"], out="rn")
    first = sorted(map(tuple, out.collect()))
    second = sorted(map(tuple, out.collect()))
    assert first == second
