"""``functions/exact.py`` — the one exact-numerics module.

Two contracts: the Spark helpers and their DuckDB ``sql_*`` twins give
bit-identical doubles on the same input, and no other package module
spells the decimal types (so a change of exact representation is made
in that module alone).
"""

import math
import re
import struct
from pathlib import Path

import pytest

from azuredataengineering_deeplearning_spark.functions.exact import (
    dec,
    exact_avg,
    exact_sum,
    sql_avg,
    sql_dec,
    sql_sum,
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


def _bits(x):
    return None if x is None or (isinstance(x, float) and math.isnan(x)) else struct.pack("<d", x)


def _spark_side(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "g int, x double")
    per_row = df.select(
        "g",
        "x",
        dec("x").cast("double").alias("dec"),
        F.expr(sql_dec("x")).cast("double").alias("sql_dec"),
        wide(F.col("x")).cast("double").alias("wide"),
        F.expr(sql_wide("x")).cast("double").alias("sql_wide"),
    ).collect()
    grouped = df.groupBy("g").agg(
        exact_sum("x", "s"),
        exact_avg("x", "a"),
        F.sum(wide("x")).cast("double").alias("ws"),
    ).collect()
    return per_row, {r["g"]: r for r in grouped}


def _duckdb_side(rows):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    per_row = con.execute(
        f"SELECT g, x, CAST({sql_dec('x')} AS DOUBLE), CAST({sql_wide('x')} AS DOUBLE)"
        " FROM t ORDER BY rowid"
    ).fetchall()
    grouped = con.execute(
        f"SELECT g, {sql_sum('x', 's')}, {sql_avg('x', 'a')},"
        f" CAST(SUM({sql_wide('x')}) AS DOUBLE) AS ws FROM t GROUP BY g"
    ).fetchall()
    return per_row, {r[0]: r[1:] for r in grouped}


def _mismatches(spark, rows):
    sp_rows, sp_groups = _spark_side(spark, rows)
    dk_rows, dk_groups = _duckdb_side(rows)
    bad = []
    for (g, x, d_dec, d_wide), r in zip(dk_rows, sp_rows):
        assert (r["g"], _bits(r["x"])) == (g, _bits(x))
        for name, s_val, d_val in (
            ("dec", r["dec"], d_dec),
            ("sql_dec", r["sql_dec"], d_dec),
            ("wide", r["wide"], d_wide),
            ("sql_wide", r["sql_wide"], d_wide),
        ):
            if _bits(s_val) != _bits(d_val):
                bad.append((name, x, s_val, d_val))
    assert set(sp_groups) == set(dk_groups)
    for g, (d_s, d_a, d_ws) in dk_groups.items():
        r = sp_groups[g]
        for name, s_val, d_val in (("sum", r["s"], d_s), ("avg", r["a"], d_a), ("wide_sum", r["ws"], d_ws)):
            if _bits(s_val) != _bits(d_val):
                bad.append((name, g, s_val, d_val))
    return bad


def test_exact_helpers_lockstep_with_duckdb(spark):
    """Spark helpers (Column form and their SQL fragments run on Spark)
    and the DuckDB fragments give bit-identical doubles, NULLs included."""
    assert _mismatches(spark, ROWS) == []


@pytest.mark.xfail(
    strict=True,
    reason="Spark's cast rounds the double's shortest decimal form HALF_UP,"
    " DuckDB's rounds from the binary value (see CHANGES.md FOUND)",
)
def test_exact_helpers_lockstep_half_way_above_100(spark):
    assert _mismatches(spark, HALF_WAY_LARGE) == []


@pytest.mark.xfail(
    strict=True,
    reason="DuckDB's cast of a DECIMAL wider than 18 digits to DOUBLE is not"
    " correctly rounded past 2**53 micro-units; Spark's is (see CHANGES.md FOUND)",
)
def test_exact_helpers_lockstep_near_1e11(spark):
    assert _mismatches(spark, NEAR_1E11) == []


def test_no_module_but_exact_names_the_decimal_types():
    offenders = [
        f"{p.relative_to(PKG)}:{i}: {line.strip()}"
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG).as_posix() != "functions/exact.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _TYPE_RE.search(line)
    ]
    assert offenders == [], "use functions.exact instead:\n" + "\n".join(offenders)
