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
  and down in DuckDB.

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


def money_avg(col: Column, digits: int = 2) -> Column:
    """Exact-sum mean of a 2-decimal money column."""
    return F.round(F.sum(col.cast("decimal(18,2)")).cast("double") / F.count(col), digits)


def dsum(col: Column, digits: int = 2, row_scale: int = 6) -> Column:
    """Order-independent sum of computed doubles via per-row
    quantization to ``row_scale`` decimals + exact decimal sum,
    rounded to ``digits`` before the cast to double."""
    q = F.round(col, row_scale).cast("decimal(28,8)")
    return F.round(F.sum(q), digits).cast("double")


def dmean(col: Column, digits: int = 2, row_scale: int = 6) -> Column:
    """Order-independent mean of computed doubles (see :func:`dsum`)."""
    q = F.round(col, row_scale).cast("decimal(28,8)")
    return F.round(F.sum(q).cast("double") / F.count(col), digits)


# ------------------------------------------------------- DuckDB SQL twins
#
# r9 float policy: every twin appends `+ 0.0` after the terminal
# round. Spark's round() drops the sign of a zero (BigDecimal HALF_UP
# has no signed zero) while DuckDB's keeps it (round(-1e-9, 2) ->
# -0.0), and the driver hash distinguishes -0.0 from 0.0 (the r8
# corpus_heaps_beta FAIL). `x + 0.0` is the IEEE identity for every
# value except -0.0 -> +0.0, so this reproduces Spark's semantics
# exactly with a one-sided, no-op-for-nonzero edit. sql_dsum needs no
# `+ 0.0`: it rounds a DECIMAL, which has no signed zero.

def sql_money_sum(x: str, digits: int = 2) -> str:
    return f"(round(CAST(sum(CAST({x} AS DECIMAL(18,2))) AS DOUBLE), {digits}) + 0.0)"


def sql_money_avg(x: str, digits: int = 2) -> str:
    return (
        f"(round(CAST(sum(CAST({x} AS DECIMAL(18,2))) AS DOUBLE) / count({x}), {digits})"
        " + 0.0)"
    )


def sql_dsum(x: str, digits: int = 2, row_scale: int = 6) -> str:
    return (
        f"CAST(round(sum(CAST(round({x}, {row_scale}) AS DECIMAL(28,8))), {digits})"
        " AS DOUBLE)"
    )


def sql_dmean(x: str, digits: int = 2, row_scale: int = 6) -> str:
    return (
        f"(round(CAST(sum(CAST(round({x}, {row_scale}) AS DECIMAL(28,8))) AS DOUBLE)"
        f" / count({x}), {digits}) + 0.0)"
    )
