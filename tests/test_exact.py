"""``functions/exact.py`` — the one exact-numerics module.

Three contracts: the Spark helpers and their DuckDB ``sql_*`` twins give
bit-identical results on the same input; the fixed-point kernel equals
exact rational arithmetic (``fractions.Fraction``) of its rounding rule;
and no other package module spells the decimal types (so a change of
exact representation is made in that module alone).
"""

import math
import random
import re
import struct
from decimal import Decimal
from fractions import Fraction
from pathlib import Path

import pytest

from azuredataengineering_deeplearning_spark.functions.exact import (
    dec,
    exact_avg,
    exact_sum,
    exact_sum_product,
    sql_array_moments,
    sql_avg,
    sql_dec,
    sql_sum,
    sql_sum_product,
    sql_sum_wide,
    sql_wide,
    wide,
)

PKG = Path(__file__).resolve().parent.parent / "azuredataengineering_deeplearning_spark"
_TYPE_RE = re.compile(r"decimal\s*\(\s*(18|28)\s*,\s*6\s*\)", re.IGNORECASE)

# (group, value) over the domain the catalog uses: 2- and 4-decimal
# amounts, 6-decimal half-way points below 100, negatives, values near
# 1e9 whose sums stay below 2**53 micro-units, and NULLs, including a
# group with no non-null value.
ROWS = [
    (0, 0.0000005), (0, -0.0000005), (0, 1.2345675), (0, -2.5000005),
    (0, 0.1234565), (0, 99.9999995), (0, 3.14), (0, None),
    (1, 987654321.98), (1, 999999999.99), (1, -1234567890.1234),
    (1, 876543210.7654), (1, -0.01), (1, None),
    (2, None), (2, None),
    (3, -999999999.999), (3, -987654321.87654), (3, 0.0000025),
]

# 6-decimal half-way points above 100 in magnitude: the double's shortest
# decimal form ends in 5 at the 7th decimal while its binary value lies
# below or above the half-way point.
HALF_WAY_LARGE = [
    (0, 123456.7890125), (0, -123456.7890125), (0, 1000.0000005),
    (0, 4096.0000015), (0, 98765.4321095), (0, 1.0000004999999998),
]

# Magnitudes near 1e11: per-row values and sums past 2**53 micro-units.
NEAR_1E11 = [
    (1, 98765432109.876543), (1, 99999999999.99), (1, -12345678901.234566),
    (1, 87654321098.765432), (1, -0.01), (1, None),
    (3, -99999999999.999), (3, -98765432109.87654), (3, 0.0000025),
]

_2_53 = 2**53


def _bits(x):
    return None if x is None or (isinstance(x, float) and math.isnan(x)) else struct.pack("<d", x)


def _micro(x):
    """The kernel's rounding rule in Python floats: the same IEEE ops."""
    return math.floor(x * 1e6 + 0.5)


def _finish(ms):
    """The kernel's limb finisher over the micro-units ``ms``."""
    hi, lo = sum(m >> 24 for m in ms), sum(m & 0xFFFFFF for m in ms)
    return (float(hi) * 16777216.0 + float(lo)) / 1e6


def _spark_side(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "g int, x double")
    per_row = df.select(
        "g", "x", dec("x").alias("dec"), F.expr(sql_dec("x")).alias("sql_dec")
    ).collect()
    grouped = df.groupBy("g").agg(
        exact_sum("x", "s"),
        exact_avg("x", "a"),
        exact_sum_product("x", "x / 1e10", "sq"),
        F.expr(sql_sum("x", "sql_s")),
    ).collect()
    return per_row, {r["g"]: r for r in grouped}


def _duckdb_side(rows):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    per_row = con.execute(f"SELECT g, x, {sql_dec('x')} FROM t ORDER BY rowid").fetchall()
    grouped = con.execute(
        f"SELECT g, {sql_sum('x', 's')}, {sql_avg('x', 'a')}, {sql_sum_product('x', 'x / 1e10', 'sq')}"
        " FROM t GROUP BY g"
    ).fetchall()
    return per_row, {r[0]: r[1:] for r in grouped}


def _mismatches(spark, rows):
    """Per-row DECIMAL values compare exactly (Decimal objects), group
    results bit for bit; each also against the Fraction reference."""
    sp_rows, sp_groups = _spark_side(spark, rows)
    dk_rows, dk_groups = _duckdb_side(rows)
    bad = []
    for (g, x, d_dec), r in zip(dk_rows, sp_rows):
        assert (r["g"], _bits(r["x"])) == (g, _bits(x))
        ref = None if x is None else Decimal(_micro(x)).scaleb(-6)
        for name, val in (("dec", r["dec"]), ("sql_dec", r["sql_dec"]), ("duckdb_dec", d_dec)):
            if val != ref:
                bad.append((name, x, val, ref))
    assert set(sp_groups) == set(dk_groups)
    for g, (d_s, d_a, d_sq) in dk_groups.items():
        r = sp_groups[g]
        for name, s_val, d_val in (
            ("sum", r["s"], d_s),
            ("sql_sum", r["sql_s"], d_s),
            ("avg", r["a"], d_a),
            ("sum_product", r["sq"], d_sq),
        ):
            if _bits(s_val) != _bits(d_val):
                bad.append((name, g, s_val, d_val))
        ms = [_micro(x) for gg, x in rows if gg == g and x is not None]
        if ms and abs(sum(ms)) < _2_53 and r["s"] != float(Fraction(sum(ms), 10**6)):
            bad.append(("sum_vs_fraction", g, r["s"], float(Fraction(sum(ms), 10**6))))
    return bad


def test_exact_helpers_lockstep_with_duckdb(spark):
    """Spark helpers (Column form and their SQL text run on Spark) and
    the DuckDB fragments give identical results, NULLs included."""
    assert _mismatches(spark, ROWS) == []


def test_exact_helpers_lockstep_half_way_above_100(spark):
    assert _mismatches(spark, HALF_WAY_LARGE) == []


def test_exact_helpers_lockstep_near_1e11(spark):
    assert _mismatches(spark, NEAR_1E11) == []


def _wide_cast_mismatches(spark, rows):
    """The DECIMAL → DOUBLE casts the remaining DECIMAL sites finish
    through: per-row ``wide``/``sql_wide`` and a group ``SUM(wide)``."""
    import duckdb
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "g int, x double")
    sp_rows = df.select(
        wide(F.col("x")).cast("double").alias("wide"),
        F.expr(sql_wide("x")).cast("double").alias("sql_wide"),
    ).collect()
    sp_groups = {
        r["g"]: r["ws"]
        for r in df.groupBy("g").agg(F.sum(wide("x")).cast("double").alias("ws")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dk_rows = con.execute(f"SELECT x, CAST({sql_wide('x')} AS DOUBLE) FROM t ORDER BY rowid").fetchall()
    dk_groups = dict(
        con.execute(f"SELECT g, CAST(SUM({sql_wide('x')}) AS DOUBLE) FROM t GROUP BY g").fetchall()
    )
    bad = [
        (name, x, s_val, d_wide)
        for (x, d_wide), r in zip(dk_rows, sp_rows)
        for name, s_val in (("wide", r["wide"]), ("sql_wide", r["sql_wide"]))
        if _bits(s_val) != _bits(d_wide)
    ]
    assert set(sp_groups) == set(dk_groups)
    bad += [("wide_sum", g, sp_groups[g], d) for g, d in dk_groups.items() if _bits(sp_groups[g]) != _bits(d)]
    return bad


def test_wide_decimal_cast_lockstep_below_2_53(spark):
    assert _wide_cast_mismatches(spark, ROWS) == []


@pytest.mark.xfail(
    strict=True,
    reason="DuckDB's cast of a DECIMAL wider than 18 digits to DOUBLE is not"
    " correctly rounded past 2**53 micro-units; the sites still on DECIMAL"
    " finish through it (see CHANGES.md FOUND)",
)
def test_wide_decimal_cast_lockstep_near_1e11(spark):
    assert _wide_cast_mismatches(spark, NEAR_1E11) == []


def _reference_rows():
    """(group, a, b) rows: random 2- to 6-decimal values, negatives,
    half-way points, NULLs and an all-NULL group, both edges of the
    range, and a group whose micro-unit sum overflows one long."""
    rnd = random.Random(20240917)
    rows = []
    for g in range(6):
        for _ in range(40):
            scale = 10 ** rnd.choice((2, 4, 6))
            a = rnd.randrange(-10**9, 10**9) / scale
            b = rnd.randrange(-10**6, 10**6) / 10 ** rnd.choice((2, 6))
            rows.append((g, a, b))
        rows += [(g, None, 1.5), (g, 2.25, None), (g, -(rnd.randrange(10**6) + 0.5) / 10**6, 0.5)]
    rows += [(6, None, None), (6, None, 2.0)]
    # upper edge: 20 rows near 1e12, 1.9e19 micro-units in all
    rows += [(7, 999999999999.9 - i, 1.0) for i in range(20)]
    # lower edge: the smallest non-zero micro-units and values rounding to 0
    rows += [(8, 0.000001, 0.000001), (8, -0.000001, 3.0), (8, 4e-7, 1e-7), (8, -4e-7, 2.0)]
    return rows


def _check_against_fraction(rows, got):
    """``got``: {group: (sum, avg, sum_product)} from one engine."""
    for g in sorted({r[0] for r in rows}):
        ma = [_micro(a) for gg, a, _ in rows if gg == g and a is not None]
        pairs = [
            (_micro(a), _micro(b))
            for gg, a, b in rows
            if gg == g and a is not None and b is not None
        ]
        s, avg, sp = got[g]
        if not ma:
            assert (s, avg) == (None, None), g
        else:
            exact = Fraction(sum(ma), 10**6)
            if abs(sum(ma)) < _2_53:
                assert s == float(exact), (g, s, float(exact))
            else:  # one rounding of the total, then the division
                assert s == _finish(ma), (g, s)
                assert abs(s - float(exact)) <= math.ulp(float(exact)), g
            assert avg == s / len(ma), g
        if not pairs:
            assert sp is None, g
        else:
            exact = Fraction(sum(x * y for x, y in pairs), 10**12)
            assert abs(sp - float(exact)) <= math.ulp(float(exact)), (g, sp, float(exact))


def test_exact_kernel_matches_fraction_reference(spark):
    """Sums, averages and sums of products equal exact rational
    arithmetic of the micro-unit rounding rule in Spark and DuckDB:
    correctly rounded while the total is below 2**53 micro-units, within
    one ulp past it, and bit-identical between the engines throughout."""
    import duckdb

    rows = _reference_rows()
    df = spark.createDataFrame(rows, "g int, a double, b double")
    sp = {
        r["g"]: (r["s"], r["m"], r["p"])
        for r in df.groupBy("g")
        .agg(exact_sum("a", "s"), exact_avg("a", "m"), exact_sum_product("a", "b", "p"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, a DOUBLE, b DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    dk = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT g, {sql_sum('a')}, {sql_avg('a')}, {sql_sum_product('a', 'b')}"
            " FROM t GROUP BY g"
        ).fetchall()
    }
    _check_against_fraction(rows, sp)
    assert {g: tuple(map(_bits, v)) for g, v in sp.items()} == {
        g: tuple(map(_bits, v)) for g, v in dk.items()
    }


@pytest.mark.parametrize("value", [1e12, -1e12, 3e15])
def test_out_of_range_raises_in_both_engines(spark, value):
    """Past |x| < 1e12 the row falls back to the DECIMAL(18,6) cast,
    which raises under ANSI (Spark) and always (DuckDB) — never wraps."""
    import duckdb

    df = spark.createDataFrame([(0, 1.0), (0, value)], "g int, x double")
    with pytest.raises(Exception, match="(?i)out_of_range|overflow|decimal"):
        df.groupBy("g").agg(exact_sum("x", "s")).collect()
    con = duckdb.connect()
    with pytest.raises(duckdb.Error):
        con.execute(f"SELECT {sql_sum('x')} FROM (VALUES (1.0::DOUBLE), ({value}::DOUBLE)) t(x)").fetchall()


def test_nan_and_infinity_follow_the_decimal_cast(spark):
    """NaN and ±inf became NULL in Spark's DECIMAL cast and raised in
    DuckDB's; the kernel keeps both behaviours."""
    import duckdb

    rows = [(0, 1.5), (0, float("nan")), (0, float("inf")), (0, float("-inf"))]
    df = spark.createDataFrame(rows, "g int, x double")
    r = df.groupBy("g").agg(exact_sum("x", "s"), exact_avg("x", "a")).collect()[0]
    assert (r["s"], r["a"]) == (1.5, 1.5 / 4)
    con = duckdb.connect()
    for v in ("'nan'", "'inf'", "'-inf'"):
        with pytest.raises(duckdb.Error):
            con.execute(f"SELECT {sql_sum('x')} FROM (VALUES ({v}::DOUBLE)) t(x)").fetchall()


def test_product_past_per_row_range_raises(spark):
    import duckdb

    df = spark.createDataFrame([(1e7, 1e7)], "a double, b double")
    with pytest.raises(Exception, match="(?i)overflow"):
        df.agg(exact_sum_product("a", "b", "p")).collect()
    with pytest.raises(duckdb.Error):
        duckdb.connect().execute(
            f"SELECT {sql_sum_product('a', 'b')} FROM (VALUES (1e7::DOUBLE, 1e7::DOUBLE)) t(a, b)"
        ).fetchall()


# rows in the widened range: squares and weighted products up to 1e21,
# negatives, small values, half-way points and NULLs
WIDE_ROWS = [
    (0, 9.99e21), (0, -1234567890123456.7), (0, 3.5e-7), (0, None),
    (1, 1e20), (1, 1e20), (1, -2.5e15), (1, 0.0000005), (1, 123456789.123456),
    (2, None),
    (3, -0.0000005), (3, 4294.967296), (3, -4294.967296), (3, 1.5),
]


def test_sum_wide_matches_fraction_reference(spark):
    """``sql_sum_wide`` keeps the DECIMAL(28,6) row range: its micro-units
    are the rule's integers (the double product itself past 2**53), the
    group total is one rounding of their exact sum, and Spark and DuckDB
    agree bit for bit."""
    import duckdb
    from pyspark.sql import functions as F

    def micro(x):
        y = x * 1e6 + 0.5
        return math.floor(y) if abs(y) < _2_53 else int(y)

    df = spark.createDataFrame(WIDE_ROWS, "g int, x double")
    sp = dict(map(tuple, df.groupBy("g").agg(F.expr(sql_sum_wide("x", "s"))).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", WIDE_ROWS)
    dk = dict(con.execute(f"SELECT g, {sql_sum_wide('x')} FROM t GROUP BY g").fetchall())
    assert {g: _bits(v) for g, v in sp.items()} == {g: _bits(v) for g, v in dk.items()}
    for g, s in sp.items():
        ms = [micro(x) for gg, x in WIDE_ROWS if gg == g and x is not None]
        if not ms:
            assert s is None, g
            continue
        hi, lo = sum(m >> 32 for m in ms), sum(m & 0xFFFFFFFF for m in ms)
        assert s == (float(hi) * 4294967296.0 + float(lo)) / 1e6, g
        if abs(sum(ms)) < _2_53:
            assert s == float(Fraction(sum(ms), 10**6)), g


@pytest.mark.parametrize("value", [1e22, -1e22, float("nan")])
def test_sum_wide_past_range_follows_the_wide_cast(spark, value):
    """Past |x| < 1e22 the row takes the DECIMAL(28,6) cast: it raises
    (NaN: NULL on Spark) there and always on DuckDB."""
    import duckdb
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(0, 1.5), (0, value)], "g int, x double")
    agg = df.groupBy("g").agg(F.expr(sql_sum_wide("x", "s")))
    if math.isnan(value):
        assert agg.collect()[0]["s"] == 1.5
    else:
        with pytest.raises(Exception, match="(?i)out_of_range|overflow|decimal"):
            agg.collect()
    with pytest.raises(duckdb.Error):
        duckdb.connect().execute(
            f"SELECT {sql_sum_wide('x')} FROM (VALUES ({value!r}::DOUBLE)) t(x)".replace("nan", "'nan'")
        ).fetchall()


def test_weighted_mean_keeps_the_wide_product_range(spark):
    """Products past the DECIMAL(18,6) range (|x·w| ≥ 1e12) still sum."""
    from azuredataengineering_deeplearning_spark.operators.aggregates import weighted_mean

    df = spark.createDataFrame([(0, 4e9, 1e9), (0, 2e9, 3e9)], "g int, v double, w double")
    assert weighted_mean(df, ["g"], "v", "w", "m").collect()[0]["m"] == pytest.approx(2.5e9, rel=1e-15)


def test_array_moments_match_grouped_sums(spark):
    """The array fold gives the grouped sum and wide sum of squares over
    the same elements bit for bit; a NULL element makes both NULL."""
    from pyspark.sql import functions as F

    series = {0: [1.5, -2.25, 1e6 + 0.5, 3.0000005], 1: [1e9, -1e9, 7.0], 2: [], 3: [1.0, None]}
    rows = [(g, i, x) for g, xs in series.items() for i, x in enumerate(xs)]
    s, ss = sql_array_moments("arr")
    folded = {
        r["g"]: (r["s"], r["ss"])
        for r in spark.createDataFrame(list(series.items()), "g int, arr array<double>")
        .select("g", F.expr(s).alias("s"), F.expr(ss).alias("ss"))
        .collect()
    }
    grouped = {
        r["g"]: (r["s"], r["ss"])
        for r in spark.createDataFrame(rows, "g int, i int, x double")
        .groupBy("g")
        .agg(F.expr(sql_sum("x", "s")), F.expr(sql_sum_wide("x * x", "ss")))
        .collect()
    }
    assert folded[2] == (0.0, 0.0) and folded[3] == (None, None)
    assert {g: tuple(map(_bits, folded[g])) for g in (0, 1)} == {
        g: tuple(map(_bits, grouped[g])) for g in (0, 1)
    }


def test_windowed_sum_equals_grouped_sum(spark):
    """``over=`` gives the same finisher per frame as the grouped sum."""
    from pyspark.sql import functions as F

    rows = [(g, i, v) for g, i, (_, v) in ((i % 2, i, r) for i, r in enumerate(ROWS))]
    df = spark.createDataFrame(rows, "g int, i int, x double")
    win = df.select(
        "g",
        F.expr(sql_sum("x", "s", over="PARTITION BY g ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING")),
    ).distinct()
    grouped = df.groupBy("g").agg(exact_sum("x", "s"))
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, grouped.collect()))


def test_no_module_but_exact_names_the_decimal_types():
    offenders = [
        f"{p.relative_to(PKG)}:{i}: {line.strip()}"
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG).as_posix() != "functions/exact.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _TYPE_RE.search(line)
    ]
    assert offenders == [], "use functions.exact instead:\n" + "\n".join(offenders)
