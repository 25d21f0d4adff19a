"""Plan-lint helpers (SURVEY.md §4.2 'custom rules needed: none' — this
is plan *inspection*, not Catalyst rewriting).

Used by perf tests to assert the physical properties that matter at
100 TB: filters reach the parquet scan (PushedFilters), small dims
broadcast instead of shuffling, expression pipelines stay inside
whole-stage codegen, and the shuffle count matches the design.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """`df.explain(mode)` output as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded — those are the cheap kind)."""
    text = explain_text(df, "formatted")
    return len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning", text)) + len(
        re.findall(r"^\s*\(\d+\)\s+Exchange\s*$", text, re.M)
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_text(df, "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that reach a file scan."""
    text = explain_text(df, "formatted")
    return [m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text) if m.group(1)]


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees (wider = fewer = better).

    Executes the frame first: under AQE codegen stages only exist in
    the *final* adaptive plan, so the pre-execution explain shows none.
    """
    df.collect()  # count() would build a different plan; execute THIS one
    text = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", text)))


# --------------------------------------------------------------- r7
# Float-policy lint for oracle-twinned SQL (VERDICT r6 ask #2).
#
# Two bug classes produced the round-6 driver hash failures:
#   1. libm transcendentals (ln/log/exp/pow) differ in the last ulp
#      between engine builds, so a rounded transcendental can land on
#      opposite sides of a quantization boundary per engine
#      (corpus_heaps_fit). sqrt is EXEMPT — IEEE 754 requires it
#      correctly rounded, so it is bit-identical everywhere.
#   2. summing raw DOUBLE base columns is add-order dependent, so
#      round(sum(double)) flips at boundaries between partitionings
#      and engines (ml_features_split).
# The fix for (1) is operators/portablemath.py (pure-IEEE ln/exp
# shared verbatim by both engines); for (2) functions/agg.py
# (quantize to integer/decimal BEFORE any cross-row reduction).
# This lint rejects twins that reintroduce either pattern.

# DOUBLE-typed base columns of the driver parquet tables: summing any
# of these raw is add-order fragile.
DOUBLE_BASE_COLUMNS = (
    "c_acctbal",
    "l_discount",
    "l_extendedprice",
    "l_quantity",
    "l_tax",
    "o_totalprice",
    "p_retailprice",
    "s_acctbal",
    "value",
)

_LIBM_FUNCS = re.compile(
    r"(?<![a-z_0-9])(ln|log|log2|log10|exp|pow|power)\s*\(", re.I
)


def _strip_sql_comments(sql: str) -> str:
    return re.sub(r"--[^\n]*", "", sql)


def _close(sql: str, i: int) -> int:
    """Index just past the paren that closes the one opened before ``i``."""
    depth = 1
    while i < len(sql) and depth:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
        i += 1
    return i


def _calls(sql: str, funcs: str) -> list[tuple[int, str, int]]:
    """(start, argument text, end) of every call to one of the
    ``|``-separated ``funcs`` (paren-balanced)."""
    out = []
    for m in re.finditer(rf"(?<![a-z_0-9])({funcs})\s*\(", sql, re.I):
        i = _close(sql, m.end())
        out.append((m.start(), sql[m.end() : i - 1], i))
    return out


def _sum_args(sql: str) -> list[str]:
    """Argument text of every sum(...)/avg(...) call."""
    return [arg for _, arg, _ in _calls(sql, "sum|avg")]


# --------------------------------------------------------------- r9
# Third bug class (the r8 corpus_heaps_beta driver hash FAIL): a
# TERMINAL round(<double>, k) emitted as a double output drops the
# sign of a zero in Spark (BigDecimal HALF_UP has no signed zero) but
# keeps it in DuckDB (round(-1e-9, 6) -> -0.0), and the driver's value
# hash distinguishes -0.0 from 0.0. Appending `+ 0.0` in the twin SQL
# reproduces Spark's semantics exactly (IEEE: x + 0.0 == x for every
# x except -0.0 -> +0.0), so the fix is one-sided and a no-op for all
# nonzero values. The lint requires it on every round(...) aliased
# directly to a double column whose argument could be negative
# (contains a binary minus or a signed base column); integer/decimal
# casts of the round are exempt (the cast erases a zero's sign).

# type keywords after `AS` that erase a signed zero (CAST targets)
_SIGN_ERASING_TYPES = re.compile(
    r"^(DECIMAL|BIGINT|HUGEINT|INT|INTEGER|SMALLINT|TINYINT)\b", re.I
)
# signed-capable without any textual minus: the two TPC-H columns
# that go negative, and dot products (cosine numerators) — embeddings
# have signed components, so a cosine can be a tiny negative with no
# `-` anywhere in the expression text
_SIGNED_BASE_COLS = re.compile(
    r"\b(c_acctbal|s_acctbal|list_dot_product)\b", re.I
)


def _round_calls(sql: str) -> list[tuple[str, str]]:
    """(argument text, trailing text) of every round(...) call."""
    return [(arg, sql[end : end + 64]) for _, arg, end in _calls(sql, "round")]


def _whole_call_arg(expr: str, func: str) -> str | None:
    """Argument text when ``expr`` is exactly one ``func(...)`` call."""
    expr = expr.strip()
    calls = _calls(expr, func)
    if calls and calls[0][0] == 0 and calls[0][2] == len(expr):
        return calls[0][1]
    return None


def _is_decimal(expr: str) -> bool:
    """True for CAST(... AS DECIMAL(p,s)) or a sum over one. A DECIMAL
    has no signed zero, so neither does a round of it (the sql_dsum
    form: round the exact sum, then cast to DOUBLE)."""
    summed = _whole_call_arg(expr, "sum")
    cast = _whole_call_arg(expr if summed is None else summed, "cast")
    return cast is not None and bool(
        re.search(r"\bAS\s+DECIMAL\s*(\(\s*\d+\s*,\s*\d+\s*\))?\s*$", cast, re.I)
    )


def _terminal_signed_round_problems(name: str, body: str) -> list[str]:
    problems = []
    for arg, after in _round_calls(body):
        if re.match(r"\s*\+\s*0\.0", after):
            continue  # zero-normalized: matches Spark round() exactly
        # `END AS x` counts as an alias position too: a CASE whose ELSE
        # branch ends in round(...) emits that round as the column value
        # (the r9-ADVICE corpus_token_drift miss).
        alias = re.match(r"\s*(?:END\s+)?AS\s+(\w+)", after, re.I)
        if not alias or _SIGN_ERASING_TYPES.match(alias.group(1)):
            continue  # not emitted as a double column
        if "-" not in arg and not _SIGNED_BASE_COLS.search(arg):
            continue  # argument cannot be negative
        if _is_decimal(re.sub(r",\s*\d+\s*$", "", arg)):  # drop the digits
            continue  # DECIMAL round: no signed zero to normalize
        problems.append(
            f"{name}: terminal round(...) AS {alias.group(1)} over a "
            "possibly-negative double without `+ 0.0` normalization — "
            "Spark round() drops a zero's sign, DuckDB keeps it "
            "(r8 corpus_heaps_beta driver FAIL); append `+ 0.0` in "
            "the twin SQL or move to the integer micro-unit idiom"
        )
    return problems


# --------------------------------------------------------------- CTE chains
# DuckDB inlines a CTE at every reference unless it is declared
# MATERIALIZED. In an unrolled iteration (one CTE per step: it0, it1,
# ...) where step k+1 reads step k twice, every level re-expands the
# whole chain below it, so the work grows with the depth: the Markov
# twin (queries/markov.py) took 145 s at sf0.001 until its steps were
# MATERIALIZED. The lint flags a numbered CTE that the CTEs of the next
# number read more than once without MATERIALIZED.

_CTE_DEF = re.compile(
    r"\s*(\w+)\s*(?:\([^()]*\)\s*)?AS\s+(NOT\s+)?(MATERIALIZED\s+)?\(", re.I
)


def _ctes(sql: str) -> list[tuple[str, bool, str]]:
    """(name, materialized, body) of every CTE of every WITH clause."""
    out = []
    for m in re.finditer(r"\bWITH\s+(?:RECURSIVE\s+)?", sql, re.I):
        i = m.end()
        while d := _CTE_DEF.match(sql, i):
            i = _close(sql, d.end())
            out.append((d.group(1), bool(d.group(3)) and not d.group(2), sql[d.end() : i - 1]))
            if not (comma := re.compile(r"\s*,").match(sql, i)):
                break
            i = comma.end()
    return out


def _unrolled_chain_problems(name: str, body: str) -> list[str]:
    ctes = _ctes(body)
    level = {c: int(m.group(1)) for c, _, _ in ctes if (m := re.search(r"(\d+)$", c))}
    problems = []
    for cte, materialized, _ in ctes:
        if materialized or cte not in level:
            continue
        ref = re.compile(rf"(?:\bFROM|\bJOIN|,)\s*{cte}\b(?!\s*\()", re.I)
        reads = sum(len(ref.findall(b)) for c, _, b in ctes if level.get(c) == level[cte] + 1)
        if reads > 1:
            problems.append(
                f"{name}: CTE {cte} is read {reads} times by step "
                f"{level[cte] + 1} of an unrolled chain — DuckDB re-expands "
                f"the chain below it at every read; declare it `{cte} AS "
                "MATERIALIZED`"
            )
    return problems


def lint_twin_sql(name: str, sql: str) -> list[str]:
    """Float-policy and inlined-chain violations in one oracle twin's
    SQL (empty = ok)."""
    body = _strip_sql_comments(sql)
    problems = []
    problems.extend(_terminal_signed_round_problems(name, body))
    problems.extend(_unrolled_chain_problems(name, body))
    for m in _LIBM_FUNCS.finditer(body):
        problems.append(
            f"{name}: libm-dependent {m.group(1)}() in twinned SQL — "
            "use operators/portablemath (pln_sql/pexp_sql) or an "
            "integer-domain twin"
        )
    for arg in _sum_args(body):
        arg_l = arg.lower()
        hits = [c for c in DOUBLE_BASE_COLUMNS if re.search(rf"\b{c}\b", arg_l)]
        if hits and not re.search(r"decimal|bigint|::\s*int|as\s+int", arg_l):
            problems.append(
                f"{name}: sum/avg over raw DOUBLE column(s) {hits} — "
                "quantize to DECIMAL/BIGINT per row first "
                "(functions/agg.py money_sum / integer cents)"
            )
    return problems


def lint_all_twins() -> list[str]:
    """Run the twin lint over every registered oracle twin."""
    from ..queries import all_queries

    problems: list[str] = []
    for name, spec in all_queries().items():
        if spec.sql is not None:
            problems.extend(lint_twin_sql(name, spec.sql))
    return problems
