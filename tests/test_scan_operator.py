"""KQL ``scan`` operator (dialect subset) — operator semantics, the
KQL front-end, and a property test against a pure-Python reference of
the documented state machine (greedy, single-active, non-overlapping,
one row per step)."""

import random
import re

import pytest
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.operators.scan import scan_steps
from azuredataengineering_deeplearning_spark.sources.kql import kql_to_df


def _py_reference(events, k_steps):
    """events: list of step-index-or-None per row (visit order).
    Returns match_id per row (-1 = unmatched)."""
    mid = [-1] * len(events)
    nxt, m, cur = 0, 0, []
    for i, levels in enumerate(events):
        if nxt in levels:
            cur.append(i)
            if nxt == k_steps - 1:
                for r in cur:
                    mid[r] = m
                m += 1
                cur, nxt = [], 0
            else:
                nxt += 1
    return mid


@pytest.fixture(scope="module")
def ab(spark):
    # B1 A1 B2 B3 A2 B4 per key: matches (A1,B2) and (A2,B4)
    rows = [
        (1, 1, "B"), (1, 2, "A"), (1, 3, "B"),
        (1, 4, "B"), (1, 5, "A"), (1, 6, "B"),
        (2, 1, "A"), (2, 2, "A"), (2, 3, "B"), (2, 4, "B"),
        (3, 1, "B"), (3, 2, "C"),  # no match
    ]
    return spark.createDataFrame(rows, "k int, seq int, ev string")


def test_scan_two_step_greedy(ab):
    out = scan_steps(
        ab,
        ["k"],
        [("seq", True)],
        [F.col("ev") == "A", F.col("ev") == "B"],
    )
    got = sorted((r.k, r.seq, r.ev, r.match_id) for r in out.collect())
    assert got == [
        (1, 2, "A", 0), (1, 3, "B", 0),
        (1, 5, "A", 1), (1, 6, "B", 1),
        (2, 1, "A", 0), (2, 3, "B", 0),
    ]


def test_scan_three_step(spark):
    rows = [(1, i, ev) for i, ev in enumerate("ACBABCABC")]
    df = spark.createDataFrame(rows, "k int, seq int, ev string")
    out = scan_steps(
        df,
        ["k"],
        [("seq", True)],
        [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"],
    )
    got = sorted((r.seq, r.ev, r.match_id) for r in out.collect())
    # A(0) C. B(2) A. B. C(5) -> match 0 = rows 0,2,5; then A(6) B(7) C(8)
    assert got == [
        (0, "A", 0), (2, "B", 0), (5, "C", 0),
        (6, "A", 1), (7, "B", 1), (8, "C", 1),
    ]


def test_scan_descending_order(spark):
    df = spark.createDataFrame(
        [(1, 3, "A"), (1, 2, "B"), (1, 1, "C")], "k int, seq int, ev string"
    )
    out = scan_steps(
        df, ["k"], [("seq", False)],
        [F.col("ev") == "A", F.col("ev") == "B"],
    )
    got = sorted((r.seq, r.match_id) for r in out.collect())
    assert got == [(2, 0), (3, 0)]


def test_scan_no_keys_single_stream(spark):
    df = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "A"), (4, "B")], "seq int, ev string"
    )
    out = scan_steps(
        df, [], [("seq", True)], [F.col("ev") == "A", F.col("ev") == "B"]
    )
    assert out.count() == 4
    assert set(out.columns) == {"seq", "ev", "match_id"}


def test_scan_null_predicate_is_nonmatch(spark):
    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, "A"), (1, 3, "B")], "k int, seq int, ev string"
    )
    out = scan_steps(
        df, ["k"], [("seq", True)],
        [F.col("ev") == "A", F.col("ev") == "B"],
    )
    assert sorted(r.seq for r in out.collect()) == [2, 3]


def test_scan_property_vs_python_reference(spark):
    rng = random.Random(7)
    rows, expected_rows = [], []
    for key in range(30):
        evs = [rng.choice("ABCX") for _ in range(rng.randint(0, 40))]
        levels = [
            {0} if e == "A" else {1} if e == "B" else {2} if e == "C" else set()
            for e in evs
        ]
        mids = _py_reference(levels, 3)
        for i, (e, m) in enumerate(zip(evs, mids)):
            rows.append((key, i, e))
            if m >= 0:
                expected_rows.append((key, i, e, m))
    df = spark.createDataFrame(rows, "k int, seq int, ev string")
    out = scan_steps(
        df, ["k"], [("seq", True)],
        [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"],
    )
    got = sorted((r.k, r.seq, r.ev, r.match_id) for r in out.collect())
    assert got == sorted(expected_rows)


def _visit_order(rows, descending):
    """Reference serialized order of one key's rows: ``o`` (asc or
    desc) with NULLs last in both directions, then ``seq`` ascending."""
    return sorted(
        rows,
        key=lambda r: (
            r["o"] is None,
            0 if r["o"] is None else (-r["o"] if descending else r["o"]),
            r["seq"],
        ),
    )


@pytest.mark.parametrize("two_keys", [False, True])
@pytest.mark.parametrize("descending", [False, True])
def test_scan_property_nulls_keys_overlaps(spark, descending, two_keys):
    # NULL order values, NULL keys, one or two key columns, rows that
    # satisfy two steps at once, and long runs matching no step
    rng = random.Random(11 + 2 * descending + two_keys)
    rows, seq = [], 0
    while len(rows) < 1200:
        k1 = rng.choice([0, 1, 2, 3, 4, None])
        k2 = rng.choice([0, 1, None]) if two_keys else 0
        if rng.random() < 0.1:
            evs = ["X"] * rng.randint(20, 80)
        else:
            evs = [rng.choice(["A", "B", "C", "AB", "BC", "AC", "X"])]
        for ev in evs:
            o = None if rng.random() < 0.15 else rng.randint(0, 30)
            rows.append({"k1": k1, "k2": k2, "o": o, "seq": seq, "ev": ev})
            seq += 1
    groups: dict = {}
    for r in rows:
        groups.setdefault((r["k1"], r["k2"]), []).append(r)
    expected = set()
    for (k1, k2), grp in groups.items():
        visit = _visit_order(grp, descending)
        levels = [
            {j for j, c in enumerate("ABC") if c in r["ev"]} for r in visit
        ]
        mids = _py_reference(levels, 3)
        step = {}
        for r, m in zip(visit, mids):
            if m >= 0:
                expected.add((k1, k2, r["seq"], m, step.get(m, 0)))
                step[m] = step.get(m, 0) + 1
    df = spark.createDataFrame(
        [(r["k1"], r["k2"], r["o"], r["seq"], r["ev"]) for r in rows],
        "k1 int, k2 int, o int, seq int, ev string",
    )
    out = scan_steps(
        df,
        ["k1", "k2"] if two_keys else ["k1"],
        [("o", not descending), ("seq", True)],
        [F.col("ev").contains(c) for c in "ABC"],
        step_col="st",
    )
    got = {(r.k1, r.k2, r.seq, r.match_id, r.st) for r in out.collect()}
    assert len(expected) > 50
    assert got == expected


def test_kql_scan_front_end(ab):
    out = kql_to_df(
        {"T": ab},
        "T | sort by seq asc"
        " | scan by k with_match_id=m with"
        " (step s1: ev == 'A'; step s2: ev == 'B')",
    )
    got = sorted((r.k, r.seq, r.m) for r in out.collect())
    assert got == [(1, 2, 0), (1, 3, 0), (1, 5, 1), (1, 6, 1),
                   (2, 1, 0), (2, 3, 0)]
    assert "m" in out.columns


def test_kql_scan_semicolon_in_literal(ab):
    out = kql_to_df(
        {"T": ab},
        "T | sort by seq asc | scan by k with"
        " (step s1: ev == ';'; step s2: ev == 'B')",
    )
    assert out.count() == 0


def test_kql_scan_requires_sort(ab):
    with pytest.raises(ValueError, match="sort"):
        kql_to_df({"T": ab}, "T | scan by k with (step s1: ev == 'A')")


def test_kql_scan_malformed(ab):
    with pytest.raises(ValueError, match="scan"):
        kql_to_df({"T": ab}, "T | sort by seq asc | scan by k with (frob)")


def test_kql_scan_streaming_gated(spark, tmp_path):
    import os

    os.makedirs(tmp_path / "in", exist_ok=True)
    (tmp_path / "in" / "a.csv").write_text("k,seq,ev\n1,1,A\n")
    stream = (
        spark.readStream.format("csv")
        .schema("k int, seq int, ev string")
        .option("header", "true")
        .load(str(tmp_path / "in"))
    )
    with pytest.raises(ValueError, match="STREAMING"):
        kql_to_df(
            {"T": stream},
            "T | scan by k with (step s1: ev == 'A')",
        )


def test_scan_max_group_rows_guard(ab):
    # r11 hot-key guard: groups within the bound run normally...
    ok = scan_steps(
        ab, ["k"], [("seq", True)],
        [F.col("ev") == "A", F.col("ev") == "B"],
        max_group_rows=10,
    )
    assert ok.count() == 6
    # ...and an over-sized group fails LOUDLY inside the task, naming
    # the guard (key 1 has 6 rows > 3)
    with pytest.raises(Exception, match="max_group_rows"):
        scan_steps(
            ab, ["k"], [("seq", True)],
            [F.col("ev") == "A", F.col("ev") == "B"],
            max_group_rows=3,
        ).count()


def test_scan_no_candidates_fast_exit(spark):
    # rows matching no step are filtered out in the JVM, so nothing
    # reaches the matcher — semantics: zero matches, zero output rows
    df = spark.createDataFrame(
        [(1, i, "X") for i in range(50)], "k int, seq int, ev string"
    )
    out = scan_steps(
        df, ["k"], [("seq", True)],
        [F.col("ev") == "A", F.col("ev") == "B"],
    )
    assert out.count() == 0


def test_scan_guard_counts_candidate_rows(spark):
    # the guard bounds a key's CANDIDATE rows (rows matching a step):
    # 50 rows of which 2 match pass max_group_rows=3...
    rows = [
        (1, i, "A" if i == 10 else "B" if i == 40 else "X") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "k int, seq int, ev string")
    steps = [F.col("ev") == "A", F.col("ev") == "B"]
    out = scan_steps(df, ["k"], [("seq", True)], steps, max_group_rows=3)
    got = sorted((r.seq, r.match_id) for r in out.collect())
    assert got == [(10, 0), (40, 0)]
    # ...while a key with 4 candidate rows is over the bound
    over = df.unionByName(
        spark.createDataFrame(
            [(2, i, "AB"[i % 2]) for i in range(4)], df.schema
        )
    )
    with pytest.raises(Exception, match="max_group_rows"):
        scan_steps(
            over, ["k"], [("seq", True)], steps, max_group_rows=3
        ).count()


def test_scan_plan_filter_below_exchange_sort_feeds_matcher(ab):
    # non-candidate rows are dropped before the shuffle and never reach
    # Python; the JVM sort hands the single matcher pass ordered rows
    out = scan_steps(
        ab, ["k"], [("seq", True)], [F.col("ev") == "A", F.col("ev") == "B"]
    )
    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
    ops = [re.sub(r"^[\s+\-:|]*(\*\(\d+\) )?", "", ln) for ln in lines]
    names = [op.split(" ")[0] for op in ops]
    assert names.count("MapInPandas") == 1
    assert names[names.index("MapInPandas") + 1] == "Sort"
    exchange = names.index("Exchange")
    assert ops[exchange].startswith("Exchange hashpartitioning(k#")
    step_filter = names.index("Filter")
    assert step_filter > exchange
    assert "ev#" in ops[step_filter]


# ---- scan declare (round 11): state variables -------------------------

def test_scan_declare_additive_set_counter(spark):
    rows = [(1, 1, "A", 10.0), (1, 2, "X", 99.0), (1, 3, "B", 20.0),
            (1, 4, "A", 5.0), (1, 5, "B", 7.0),
            (2, 1, "A", 1.0), (2, 2, "B", 2.0)]
    df = spark.createDataFrame(rows, "k int, seq int, ev string, v double")
    out = kql_to_df(
        {"T": df},
        "T | sort by seq asc | scan by k with_match_id=m"
        " declare (total: real = 0, start_seq: long, cnt: long = 0)"
        " with ("
        " step s1: ev == 'A' => total = total + v, start_seq = seq,"
        " cnt = cnt + 1;"
        " step s2: ev == 'B' => total = total + v, cnt = cnt + 1)",
    )
    got = sorted(
        (r["k"], r["seq"], r["m"], r["total"], r["start_seq"], r["cnt"])
        for r in out.collect()
    )
    # running state per match, RESET at each new match (Kusto's
    # per-sequence-instance variable lifetime); state on a row reflects
    # that row's own assignments
    assert got == [
        (1, 1, 0, 10.0, 1, 1), (1, 3, 0, 30.0, 1, 2),
        (1, 4, 1, 5.0, 4, 1), (1, 5, 1, 12.0, 4, 2),
        (2, 1, 0, 1.0, 1, 1), (2, 2, 0, 3.0, 1, 2),
    ]


def test_scan_declare_defaults_and_null_propagation(spark):
    rows = [(1, "A", None), (2, "B", 3.0), (3, "A", 1.0), (4, "B", 2.0)]
    df = spark.createDataFrame(rows, "seq int, ev string, v double")
    out = kql_to_df(
        {"T": df},
        "T | sort by seq asc | scan with_match_id=m"
        " declare (tot: real = 0, untouched: long = 42) with ("
        " step s1: ev == 'A' => tot = tot + v;"
        " step s2: ev == 'B' => tot = tot + v)",
    )
    got = {r["seq"]: (r["tot"], r["untouched"]) for r in out.collect()}
    # null contribution poisons the rest of ITS match (sequential
    # null + x semantics), the next match starts clean; a declared var
    # with no assignments stays at its default
    assert got == {
        1: (None, 42), 2: (None, 42), 3: (1.0, 42), 4: (3.0, 42),
    }


def test_scan_declare_errors_loud(spark):
    df = spark.createDataFrame([(1, "A", 1.0)], "seq int, ev string, v double")
    t = {"T": df}
    with pytest.raises(ValueError, match="mixes additive and set"):
        kql_to_df(
            t, "T | sort by seq asc | scan declare (x: real = 0) with ("
            " step s1: ev == 'A' => x = x + v;"
            " step s2: ev == 'B' => x = v)",
        )
    with pytest.raises(ValueError, match="cross-variable"):
        kql_to_df(
            t, "T | sort by seq asc | scan"
            " declare (x: real = 0, y: real = 0) with ("
            " step s1: ev == 'A' => x = y + v;"
            " step s2: ev == 'B')",
        )
    with pytest.raises(ValueError, match="declare"):
        kql_to_df(
            t, "T | sort by seq asc | scan with ("
            " step s1: ev == 'A' => x = v; step s2: ev == 'B')",
        )
    with pytest.raises(ValueError, match="declared_var"):
        kql_to_df(
            t, "T | sort by seq asc | scan declare (x: real) with ("
            " step s1: ev == 'A' => nope = v; step s2: ev == 'B')",
        )
    with pytest.raises(ValueError, match="name: type"):
        kql_to_df(
            t, "T | sort by seq asc | scan declare (x real) with ("
            " step s1: ev == 'A'; step s2: ev == 'B')",
        )


def test_scan_declare_arrow_inside_literal_not_split(spark):
    df = spark.createDataFrame(
        [(1, "=>", 1.0), (2, "B", 2.0)], "seq int, ev string, v double"
    )
    out = kql_to_df(
        {"T": df},
        "T | sort by seq asc | scan declare (n: long = 0) with ("
        " step s1: ev == '=>' => n = n + 1; step s2: ev == 'B')",
    )
    assert sorted((r["seq"], r["n"]) for r in out.collect()) == [
        (1, 1), (2, 1)
    ]
