"""Exact numerics: the one module that names the engine's decimal types.

Floating-point sums are order-dependent: Spark's partial aggregation adds
doubles in partition order, DuckDB in its own order, and at ~1e8
magnitudes the results differ in the 6th decimal the correctness harness
hashes. The kernel here sums in fixed-point int64 instead, and every
helper is one SQL text that Spark (through ``F.expr``) and the DuckDB
oracles run alike, so the two engines agree bit for bit by construction.

Rounding rule. A DOUBLE ``x`` becomes micro-units (1e-6) through IEEE
operations only: ``m = floor(x * 1e6 + 0.5)``, so both engines compute the
same integer. Half-way points of the binary product round toward +inf.
The sum ``x * 1e6 + 0.5`` is exact except at ``x * 1e6 = 0.5 - 2**-54``
and, for ``|x * 1e6|`` in [2**52, 2**53), at odd products (ties to even
round them up one micro-unit; ``x`` itself carries no finer digit there).

Limb layout. A sum keeps two long accumulators per group, the high and
low parts of each row's ``m`` (``m >> 24`` and ``m & 0xFFFFFF``). The
finisher computes ``(double(SUM(hi)) * 2**24 + double(SUM(lo))) / 1e6``
once per group. Both terms are exact while the low sum stays below
2**53 (groups under 2**29 rows), so the result is the exact total
rounded once, then divided once: correctly rounded while the total is
below 2**53 micro-units (~9e9), and the same operations in both engines
past that. A sum of products ``dec(a) * dec(b)`` splits each factor into
an integer part and micro-units (``ai = floor(a)``, ``af = m(a) - ai*1e6``)
and accumulates the micro-unit part ``ai*m(b) + m(a)*bi - ai*bi*1e6``
and the 1e-12 part ``af*bf`` in two limb pairs, finished as
``(M + F / 1e6) / 1e6``; for inputs with at most three decimals the
1e-12 part is a whole number of micro-units and the result is again
correctly rounded below 2**53 micro-units. ``sql_sum_wide`` (rows in the
widened range, such as squares and weighted products) takes the same
micro-units in DOUBLE (integral: past 2**53 the double product itself)
and splits them at 2**32 with exact DOUBLE operations, finished alike
with weight 2**32; ``sql_array_moments`` folds these limbs over an
array's elements, so a grouped oracle over the exploded elements gives
the same doubles.

Range. A row converts while ``|x * 1e6| < 1e18`` (``|x| < 1e12``, the
DECIMAL(18,6) range). Past it the row falls back to the DECIMAL(18,6)
cast, which raises under ANSI in both engines; NaN and infinities
become NULL on Spark and raise on DuckDB, as the DECIMAL cast always
did. ``sql_sum_wide`` rows convert while ``|x| < 1e22`` (the DECIMAL(28,6)
range) and fall back to that cast past it; its low limbs sum exactly in
a double for groups under 2**21 rows. Products need ``|a * b| < 9.2e12``
per row; past it the long multiply raises. A group holds
``|SUM(hi)| < 2**63`` (a total of about 2**87 micro-units, 1.5e20;
2**95, 4e22, for ``sql_sum_wide``) and ``SUM(lo) < 2**63`` (2**39 and
2**31 rows). Nothing wraps: Spark raises on a long overflow under ANSI,
and DuckDB's HUGEINT limb sum raises when cast back to BIGINT.

Still DECIMAL. ``dec`` (DECIMAL(18,6), the value ``m`` exactly) and
``wide`` (the DECIMAL(28,6) accumulator) remain where an exact value is
stored or carried from one aggregate into a later one: the incremental
and streaming fold state (``operators/incremental.py``
``aggregate_batch``, ``catalog/incremental.py``; moving it would change
stored table schemas), the salted and global cumulative-sum offsets
(``operators/windows.py``, also under ``weighted_percentile``'s
cumulative weights), the per-unit sums ``operators/aggregates.py``
ranks and re-sums for its concentration and ABC panels, and the KQL
``top-hitters`` input of ``catalog/kql.py``. Each of these sites runs
the same DECIMAL helpers in its oracle, whose DuckDB cast of a wide
DECIMAL to DOUBLE is not correctly rounded past 2**53 micro-units.
No other module spells these types (``tests/test_exact.py`` checks).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"
WIDE = "decimal(28,6)"


def _micro(x: str) -> str:
    """SQL: the BIGINT micro-units of DOUBLE ``x`` (NULL stays NULL)."""
    t = f"(({x}) * 1e6)"
    return (
        f"(CASE WHEN abs({t}) < 1e18 THEN CAST(floor({t} + 0.5) AS BIGINT)"
        f" ELSE CAST(CAST({x} AS {DEC}) * 1000000 AS BIGINT) END)"
    )


def _over(over: str | None) -> str:
    return f" OVER ({over})" if over else ""


def _limbs(m: str) -> tuple[str, str, str]:
    """SQL: BIGINT ``m`` as its high and low limbs (``m >> 24``,
    ``m & 0xFFFFFF``) and the high limb's weight."""
    return f"(({m}) >> 24)", f"(({m}) & 16777215)", "16777216e0"


def _wide_limbs(x: str) -> tuple[str, str, str]:
    """SQL: the micro-units ``t`` of DOUBLE ``x`` (|x| < 1e22) as limbs of
    2**32, split in DOUBLE: ``t`` is integral (below 2**53 it is the
    BIGINT rule's value, past it the double itself), so the quotient by
    2**32, its floor and the remainder are all exact."""
    y = f"(({x}) * 1e6 + 0.5)"
    t = (
        f"(CASE WHEN abs({y}) < 9007199254740992e0 THEN CAST(floor({y}) AS DOUBLE)"
        f" WHEN abs({x}) < 1e22 THEN {y} ELSE CAST(CAST({x} AS {WIDE}) AS DOUBLE) END)"
    )
    h = f"floor({t} / 4294967296e0)"
    return f"CAST({h} AS BIGINT)", f"CAST({t} - {h} * 4294967296e0 AS BIGINT)", "4294967296e0"


def _finish(hi: str, lo: str, weight: str) -> str:
    """SQL: DOUBLE of the exact BIGINT limb totals ``hi * weight + lo``."""
    return f"(CAST({hi} AS DOUBLE) * {weight} + CAST({lo} AS DOUBLE))"


def _limb_total(limbs: tuple[str, str, str], over: str | None) -> str:
    """SQL: DOUBLE of the exact sum of per-row ``limbs``, each summed in a
    long. The BIGINT cast keeps DuckDB (which sums BIGINT to HUGEINT) on
    the same int64 → double conversion as Spark."""
    hi, lo, weight = limbs
    return _finish(
        *(f"CAST(SUM({v}){_over(over)} AS BIGINT)" for v in (hi, lo)), weight
    )


def _named(sql: str, alias: str | None) -> str:
    return f"{sql} AS {alias}" if alias else sql


def sql_sum(expr: str, alias: str | None = None, over: str | None = None) -> str:
    """SQL (Spark and DuckDB): exact SUM of DOUBLE ``expr`` as DOUBLE;
    ``over`` is a window specification body for a windowed sum."""
    return _named(f"({_limb_total(_limbs(_micro(expr)), over)} / 1e6)", alias)


def sql_sum_wide(expr: str, alias: str | None = None) -> str:
    """SQL: exact SUM of DOUBLE ``expr`` whose rows reach the widened
    range (|x| < 1e22, products and squares), as DOUBLE."""
    return _named(f"({_limb_total(_wide_limbs(expr), None)} / 1e6)", alias)


def sql_avg(expr: str, alias: str | None = None, over: str | None = None) -> str:
    """SQL: exact sum / COUNT(expr) — the same IEEE division in both engines."""
    return _named(f"({sql_sum(expr, over=over)} / COUNT({expr}){_over(over)})", alias)


def sql_sum_product(a: str, b: str, alias: str | None = None) -> str:
    """SQL: exact SUM(dec(a) * dec(b)) as DOUBLE, in integer, cross and
    fraction limbs so that no per-row product overflows."""
    (ma, ai), (mb, bi) = (
        (_micro(x), f"CAST(floor(CASE WHEN abs({x}) < 1e12 THEN {x} END) AS BIGINT)")
        for x in (a, b)
    )
    micros = f"{ai} * {mb} + {ma} * {bi} - {ai} * {bi} * 1000000"
    picos = f"({ma} - {ai} * 1000000) * ({mb} - {bi} * 1000000)"
    return _named(
        f"(({_limb_total(_limbs(micros), None)}"
        f" + {_limb_total(_limbs(picos), None)} / 1e6) / 1e6)",
        alias,
    )


def sql_array_moments(arr: str) -> tuple[str, str]:
    """SQL (Spark): exact sum and sum of squares of the DOUBLE elements of
    ``arr``, as DOUBLE — a fold of the same limbs ``sql_sum`` and
    ``sql_sum_wide`` accumulate, so a grouped oracle over the exploded
    elements gives the same doubles. A NULL element makes both NULL."""

    def fold(limbs: tuple[str, str, str]) -> str:
        hi, lo, weight = limbs
        zero = "CAST(0 AS BIGINT)"
        return (
            f"aggregate({arr}, named_struct('h', {zero}, 'l', {zero}),"
            f" (acc, x) -> named_struct('h', acc.h + {hi}, 'l', acc.l + {lo}),"
            f" acc -> {_finish('acc.h', 'acc.l', weight)} / 1e6)"
        )

    # shiftright, not ``>>``: after an ARRAY/STRUCT/MAP keyword (callers
    # bind the array through ``array(...)``) Spark's lexer reads ``>>``
    # as two closing type brackets
    m = _micro("x")
    return fold((f"shiftright({m}, 24)", *_limbs(m)[1:])), fold(_wide_limbs("x * x"))


def exact_sum(expr: str, alias: str) -> Column:
    """SUM with order-independent fixed-point accumulation, result DOUBLE."""
    return F.expr(sql_sum(expr, alias))


def exact_avg(expr: str, alias: str) -> Column:
    """AVG as exact sum / count, result DOUBLE."""
    return F.expr(sql_avg(expr, alias))


def exact_sum_product(a: str, b: str, alias: str) -> Column:
    """Exact SUM(dec(a) * dec(b)), result DOUBLE."""
    return F.expr(sql_sum_product(a, b, alias))


def sql_dec(expr: str) -> str:
    """SQL: DOUBLE ``expr`` as DECIMAL(18,6) by the kernel's rounding rule."""
    return f"CAST(CAST({_micro(expr)} AS DECIMAL(18,0)) * 0.000001 AS {DEC.upper()})"


def sql_wide(expr: str) -> str:
    """SQL: cast to the widened exact accumulator type."""
    return f"CAST({expr} AS {WIDE.upper()})"


def dec(expr: str) -> Column:
    """DOUBLE SQL ``expr`` as the stored exact DECIMAL(18,6) value."""
    return F.expr(sql_dec(expr))


def wide(col: Column | str) -> Column:
    """Cast a decimal or an exact literal to the widened accumulator type."""
    return (F.col(col) if isinstance(col, str) else col).cast(WIDE)
