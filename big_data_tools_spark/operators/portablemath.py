"""Engine-portable transcendental math for oracle-twinned queries.

Why this exists (round-7 float policy): ``ln``/``log``/``exp``/``pow``
are served by libm on DuckDB and by the JVM on Spark, and the two
disagree in the final ulp for some arguments. When a twinned query
rounds such a value (``round(ln(x), 6)``) an argument whose true image
lies within one ulp of a 0.5e-6 rounding boundary rounds DIFFERENTLY
between engines — the exact failure mode of the round-6
``corpus_heaps_fit`` driver hash mismatch. ``sqrt`` is exempt: IEEE 754
requires it correctly rounded, so it is bit-identical everywhere.

The fix is to never call libm in a twinned surface. This module emits
*one SQL string* evaluated verbatim by BOTH engines, built exclusively
from operations IEEE 754 makes deterministic: ``+ - * /`` on doubles
(correctly rounded), exact power-of-two scaling, integer bit tests
(``&``), and decimal-literal parsing (correctly rounded in both
engines). Neither engine reassociates floating-point expressions, so
the identical expression tree yields identical bits — the
approximation error (~1e-13 relative) is shared, which is all hash
parity needs. ``tests/test_portablemath.py`` pins Spark-vs-DuckDB
bit-equality over wide integer ranges.

Construction of ``pln(n)`` for BIGINT n >= 1:

  e   = length(bin(n)) - 1          -- floor(log2 n); bin() agrees
  2^e = product of 6 exact CASE factors from the bits of e (e <= 62)
  m   = n / 2^e  in [1, 2)          -- exact (power-of-two divide)
  t   = (m-1)/(m+1), ln m = 2*atanh(t) by Horner series (|t| <= 1/3,
        14 terms -> truncation < 1e-14)
  ln n = e * LN2 + ln m             -- LN2 as a correctly-parsed literal

Reference behavior twinned: hinashussain/Big-Data-Tools keeps all
numerics in one engine so never faces cross-engine parity; this module
is what makes the dual-engine correctness gate sound.
"""

from __future__ import annotations

# ln(2) to 17 significant digits: decimal->double parse is correctly
# rounded (IEEE 754 / both engines), so this literal is the SAME double
# everywhere.
LN2_LITERAL = "0.69314718055994531E0"

# Horner coefficients for 2*atanh(t) = 2t * sum t^{2k} / (2k+1).
# Written as division literals so both engines derive the identical
# double (1.0/3.0 is one correctly-rounded IEEE division in each).
_ATANH_TERMS = 14


def _exp2_sql(e: str) -> str:
    """Exact 2**e for 0 <= e <= 62 via an integer left shift (both
    engines support the ``<<`` operator and BIGINT -> DOUBLE casts of
    powers of two are exact). Chosen over the earlier 6-factor
    bit-product CASE for expression size: pln's textual expansion
    repeats this subterm ~50x, and the shift form keeps a full pln
    under ~4 KB instead of ~35 KB."""
    return f"(CAST((CAST(1 AS BIGINT) << ({e})) AS DOUBLE))"


def pln_sql(n: str) -> str:
    """SQL for ln(n), n a positive-BIGINT-valued expression, evaluated
    bit-identically by Spark SQL and DuckDB (no libm). Caller must
    guarantee n >= 1 (guard with WHERE/CASE); n > 2**62 is out of
    contract (token/row counts fit comfortably)."""
    e = f"(length(bin(CAST(({n}) AS BIGINT))) - 1)"
    m = f"(CAST(({n}) AS DOUBLE) / {_exp2_sql(e)})"
    t = f"(({m} - 1.0E0) / ({m} + 1.0E0))"
    # Horner in t2 = t*t: c_k = 1/(2k+1), innermost first.
    inner = f"(1.0E0 / {2 * _ATANH_TERMS - 1}.0E0)"
    for k in range(_ATANH_TERMS - 2, 0, -1):
        inner = f"((1.0E0 / {2 * k + 1}.0E0) + (__T2__ * {inner}))"
    series = f"(1.0E0 + (__T2__ * {inner}))"
    # bind t and t2 once via a scalar subquery-free textual expansion:
    # SQL has no let-binding portable across both engines, so expand t
    # textually; engines CSE identical subtrees, and even if they do
    # not, re-evaluation is deterministic.
    t2 = f"({t} * {t})"
    series = series.replace("__T2__", t2)
    lnm = f"((2.0E0 * {t}) * {series})"
    return f"((CAST({e} AS DOUBLE) * {LN2_LITERAL}) + {lnm})"


def pln_ratio_sql(num: str, den: str) -> str:
    """ln(num/den) for positive BIGINT expressions, as pln(num) -
    pln(den). One IEEE subtraction of bit-identical operands, so the
    ratio's log is engine-identical even though num/den itself may not
    be a representable double."""
    return f"({pln_sql(num)} - {pln_sql(den)})"


def plog2_sql(n: str) -> str:
    """log2(n) = ln(n)/LN2 — single deterministic division on the
    engine-identical pln value."""
    return f"({pln_sql(n)} / {LN2_LITERAL})"


def pexp_sql(x: str, min_k: int = -62, max_k: int = 62) -> str:
    """SQL for exp(x), x an engine-identical double expression with
    |x| <= ~43 (so the power-of-two exponent k stays within +-62).

    exp(x) = 2**k * exp(r), k = floor(x/LN2 + 0.5), r = x - k*LN2 with
    |r| <= 0.347; exp(r) by 13-term Taylor Horner (truncation < 1e-15).
    floor() is exact in both engines; 2**k uses the exact bit-product
    (inverse for negative k), so every step is IEEE-deterministic."""
    k = f"(CAST(floor((({x}) / {LN2_LITERAL}) + 0.5E0) AS BIGINT))"
    r = f"(({x}) - (CAST({k} AS DOUBLE) * {LN2_LITERAL}))"
    # Taylor: sum r^j / j!, Horner innermost 1/12! outward.
    inner = "(1.0E0 / 479001600.0E0)"  # 1/12!
    for j in range(11, 0, -1):
        fact = 1
        for i in range(2, j + 1):
            fact *= i
        inner = f"((1.0E0 / {fact}.0E0) + (({r}) * {inner}))"
    expr = f"(1.0E0 + (({r}) * {inner}))"
    kpos = f"(CASE WHEN {k} < 0 THEN -{k} ELSE {k} END)"
    scale = _exp2_sql(kpos)
    return (
        f"(CASE WHEN {k} >= 0 THEN ({expr} * {scale}) "
        f"ELSE ({expr} / {scale}) END)"
    )
