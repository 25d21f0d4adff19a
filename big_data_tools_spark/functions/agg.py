"""Deterministic aggregate helpers (order-independent float policy).

Summing doubles is order-dependent (different partitionings => results
differing in final ulps), so ``round(sum(double), 2)`` can land on
opposite sides of a rounding boundary between Spark and the DuckDB
oracle — or between two Spark runs with different partition counts.

Policy:
- money-like columns (2-decimal doubles): cast to DECIMAL(18,2) and
  sum exactly — decimal addition is associative, so the result is
  partition-order independent and engine independent;
- computed per-row doubles (ratios, products): both engines produce
  bit-identical per-row values (same IEEE ops on the same inputs), so
  quantize per row with round(x, 6), lift into DECIMAL(28,8), sum
  exactly, and divide by the count at the end;
- ``dsum`` rounds its exact sum while it is still DECIMAL, then casts
  to DOUBLE: both engines round a DECIMAL half away from zero, while a
  DOUBLE half-cent (1.005 is 1.00499... in binary) rounds up in Spark
  and down in DuckDB;
- ``money_avg`` and ``dmean`` round the exact mean the same way, half
  away from zero, by integer division of the scaled exact sum by the
  count (DuckDB has no DECIMAL division: ``DECIMAL / BIGINT`` is a
  DOUBLE), and cast to DOUBLE last. Both engines' expressions are
  rendered from one SQL formula, so they take the column as SQL text;
  as one parsed expression the Spark side also costs fewer Py4J calls
  than the same tree built from Column operators.

Each Spark helper has a ``sql_*`` twin that renders the equivalent
DuckDB expression so query and oracle cannot drift.

Scale note: Spark decimal sums use 128-bit accumulation in Tungsten —
no meaningful overhead vs double sums, and partial aggregation still
applies.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money_sum(col: Column, digits: int = 2) -> Column:
    """Exact, order-independent sum of a 2-decimal money column."""
    return F.round(F.sum(col.cast("decimal(18,2)")).cast("double"), digits)


def _rounded_mean(total: str, n: str, scale: int, digits: int, spark: bool) -> str:
    """SQL for ``total / n`` rounded half away from zero to ``digits``,
    exactly: ``total`` is a DECIMAL sum with at most ``scale`` decimals,
    so ``total * 10**scale`` is an integer and the rounding is integer
    division. The engines spell only the integer type and the integer
    division differently."""
    scale = max(scale, digits)
    int_type, div = ("DECIMAL(38,0)", "div") if spark else ("HUGEINT", "//")
    units = f"CAST({total} * {10**scale} AS {int_type})"
    d = f"{n} * {10 ** (scale - digits)}"
    q = f"((2 * abs({units}) + {d}) {div} (2 * {d}))"
    return f"(CASE WHEN {units} < 0 THEN -{q} ELSE {q} END / {10**digits})"


def _money_mean(x: str, digits: int, spark: bool) -> str:
    return _rounded_mean(f"sum(CAST({x} AS DECIMAL(18,2)))", f"count({x})", 2, digits, spark)


def _dmean(x: str, digits: int, row_scale: int, spark: bool) -> str:
    total = f"sum(CAST(round({x}, {row_scale}) AS DECIMAL(28,8)))"
    return _rounded_mean(total, f"count({x})", row_scale, digits, spark)


def money_avg(x: str, digits: int = 2) -> Column:
    """Exact-sum mean of a 2-decimal money column (SQL expression ``x``)."""
    return F.expr(_money_mean(x, digits, spark=True))


def dsum(col: Column, digits: int = 2, row_scale: int = 6) -> Column:
    """Order-independent sum of computed doubles via per-row
    quantization to ``row_scale`` decimals + exact decimal sum,
    rounded to ``digits`` before the cast to double."""
    q = F.round(col, row_scale).cast("decimal(28,8)")
    return F.round(F.sum(q), digits).cast("double")


def dmean(x: str, digits: int = 2, row_scale: int = 6) -> Column:
    """Order-independent mean of computed doubles (SQL expression
    ``x``; per-row quantization as in :func:`dsum`)."""
    return F.expr(_dmean(x, digits, row_scale, spark=True))


# ------------------------------------------------------- DuckDB SQL twins
#
# r9 float policy: every twin appends `+ 0.0` after the terminal
# round. Spark's round() drops the sign of a zero (BigDecimal HALF_UP
# has no signed zero) while DuckDB's keeps it (round(-1e-9, 2) ->
# -0.0), and the driver hash distinguishes -0.0 from 0.0 (the r8
# corpus_heaps_beta FAIL). `x + 0.0` is the IEEE identity for every
# value except -0.0 -> +0.0, so this reproduces Spark's semantics
# exactly with a one-sided, no-op-for-nonzero edit. sql_dsum needs no
# `+ 0.0`: it rounds a DECIMAL, which has no signed zero; nor do the
# means, whose rounding is integer arithmetic.

def sql_money_sum(x: str, digits: int = 2) -> str:
    return f"(round(CAST(sum(CAST({x} AS DECIMAL(18,2))) AS DOUBLE), {digits}) + 0.0)"


def sql_money_avg(x: str, digits: int = 2) -> str:
    return _money_mean(x, digits, spark=False)


def sql_dsum(x: str, digits: int = 2, row_scale: int = 6) -> str:
    return (
        f"CAST(round(sum(CAST(round({x}, {row_scale}) AS DECIMAL(28,8))), {digits})"
        " AS DOUBLE)"
    )


def sql_dmean(x: str, digits: int = 2, row_scale: int = 6) -> str:
    return _dmean(x, digits, row_scale, spark=False)
