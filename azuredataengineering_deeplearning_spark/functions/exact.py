"""Exact numerics: the one module that names the engine's decimal types.

Floating-point sums are order-dependent: Spark's partial aggregation adds
doubles in partition order, DuckDB in its own order, and at ~1e8
magnitudes the results differ in the 6th decimal the correctness harness
hashes. The fix is exact decimal arithmetic: cast operands to
DECIMAL(18,6) (exact, order-independent sums), aggregate, cast the final
scalar back to DOUBLE. Both engines then produce bit-identical doubles
on the catalog's value domains (``tests/test_exact.py`` pins where not).

Each Spark helper has a DuckDB SQL twin (``sql_dec``, ``sql_wide``,
``sql_sum``, ``sql_avg``), so the Spark side and the oracle side stay in
lockstep by construction: ``dec`` casts a
value to DECIMAL(18,6), ``wide`` to the DECIMAL(28,6) accumulator for
sums of products and running totals, and ``exact_sum`` / ``exact_avg``
aggregate in decimal and return DOUBLE. No other module spells these
types (``tests/test_exact.py`` checks), so the exact representation is
chosen here once.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"
WIDE = "decimal(28,6)"


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: Column | str) -> Column:
    """Cast to the engine's exact-arithmetic decimal type."""
    return _col(col).cast(DEC)


def wide(col: Column | str) -> Column:
    """Cast to the widened exact accumulator type."""
    return _col(col).cast(WIDE)


def exact_sum(col: Column | str, alias: str) -> Column:
    """SUM with order-independent decimal accumulation, result DOUBLE."""
    return F.sum(dec(col)).cast("double").alias(alias)


def exact_avg(col: Column | str, alias: str) -> Column:
    """AVG as exact-sum / count — identical IEEE division in both engines."""
    c = _col(col)
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)


def sql_dec(expr: str) -> str:
    """DuckDB fragment matching :func:`dec`."""
    return f"CAST({expr} AS {DEC.upper()})"


def sql_wide(expr: str) -> str:
    """DuckDB fragment matching :func:`wide`."""
    return f"CAST({expr} AS {WIDE.upper()})"


def sql_sum(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`exact_sum`."""
    return f"CAST(SUM({sql_dec(expr)}) AS DOUBLE) AS {alias}"


def sql_avg(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`exact_avg`."""
    return f"CAST(SUM({sql_dec(expr)}) AS DOUBLE) / COUNT({expr}) AS {alias}"
