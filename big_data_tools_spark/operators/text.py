"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.11).

Beyond-reference north-star surface: tokenization, quality scoring,
n-gram language ID, document fingerprinting, shingling. All pure
column expressions (JVM-side, whole-stage-codegen friendly) — no
Python UDFs, so every op here is also DuckDB-oracle checkable and
scales linearly with input.

Tokenization contract: ``lower(text)`` split on single spaces — chosen
to be bit-identical between Spark ``split`` and DuckDB
``string_split`` so oracle checks stay exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small disjoint stopword lists per language for the n-gram/stopword
# language-ID heuristic. Public knowledge (standard stopword sets).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["les", "une", "est", "dans", "pour"],
    "es": ["los", "una", "por", "para", "como"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """lower + single-space split (see module contract)."""
    return F.split(F.lower(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def avg_token_len(col: Column) -> Column:
    """Mean characters per token (double; null on empty)."""
    t = tokens(col)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(t)


def non_alpha_ratio(col: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] after lowering."""
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, "[a-z0-9 ]", "")
    return F.length(stripped).cast("double") / F.length(lowered)


def quality_score_from_tokens(toks: Column, col: Column) -> Column:
    """Quality formula over a pre-tokenized column — use this form in
    queries so the text is tokenized once, not once per term."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n = F.size(toks)
    len_term = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    sw_term = F.least((hits.cast("double") / n) * 4, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - non_alpha_ratio(col) * 5)
    return (len_term * 0.4 + sw_term * 0.3 + punct_pen * 0.3).cast("double")


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards moderate length,
    penalizes stopword-free word soup and heavy punctuation. A
    deterministic, SQL-expressible stand-in for learned quality
    classifiers used in pretraining pipelines."""
    return quality_score_from_tokens(tokens(col), col)


def lang_marker_hits(toks: Column, lang: str) -> Column:
    """Number of tokens (with repeats) matching ``lang``'s marker set."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda x: F.array_contains(markers, x))).cast("long")


def lang_id_from_tokens(toks: Column) -> Column:
    """Predicted language = strict argmax of marker hits over a
    pre-tokenized column; ties/all-zero -> 'unknown'.

    Implemented as sort-of-(hits, lang)-structs + a top-2 strictness
    check: each language's filter expression appears exactly once. The
    naive pairwise CASE chain references every hit count ~2x per
    language pair, which balloons the codegen'd function (seconds of
    JIT per query). Semantically identical to the pairwise argmax —
    'top1 strictly greater than top2' == 'strictly greater than all'.
    """
    entries = [
        F.struct(lang_marker_hits(toks, lang).alias("h"), F.lit(lang).alias("l"))
        for lang in LANG_MARKERS
    ]
    ranked = F.reverse(F.array_sort(F.array(*entries)))
    top1, top2 = ranked.getItem(0), ranked.getItem(1)
    return F.when(
        (top1.getField("h") > 0) & (top1.getField("h") > top2.getField("h")),
        top1.getField("l"),
    ).otherwise(F.lit("unknown"))


def lang_id(col: Column) -> Column:
    """:func:`lang_id_from_tokens` over freshly tokenized text."""
    return lang_id_from_tokens(tokens(col))


def fingerprint(col: Column) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase
    text. md5 (not xxhash64) so DuckDB computes the identical digest."""
    normalized = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.md5(normalized)


def over_tokens(col: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(tokens(col))`` with the token array computed once per row.

    A lambda that captures ``tokens(col)`` re-evaluates the split for
    every element it visits (once per n-gram, O(tokens^2) per doc), and
    a separate projection does not help because CollapseProject inlines
    it again. Binding the array as the variable of a one-element
    ``transform`` evaluates it once."""
    return F.element_at(F.transform(F.array(tokens(col)), fn), 1)


def _word_ngrams(t: Column, n: int) -> Column:
    """Every n-gram of token array ``t`` in order, space-joined; callers
    guard ``size(t) < n`` (``sequence`` would then run descending)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (empty if fewer
    than ``n`` tokens)."""

    def grams(t: Column) -> Column:
        return F.when(F.size(t) >= n, F.array_distinct(_word_ngrams(t, n))).otherwise(
            F.array().cast("array<string>")
        )

    return over_tokens(col, grams)


def repetition_ratio(col: Column, n: int = 3) -> Column:
    """Gopher-style intra-document repetition score (Rae et al. 2021,
    appendix A1.1 quality filters): the fraction of n-gram OCCURRENCES
    that repeat an earlier n-gram — 1 - distinct/total. 0.0 for docs
    with fewer than ``n`` tokens. Pure expression, no shuffle; feeds
    the same filter tier as :func:`quality_score`."""

    def ratio(t: Column) -> Column:
        total = F.size(t) - (n - 1)
        distinct = F.size(F.array_distinct(_word_ngrams(t, n)))
        return F.when(
            total >= 1, F.lit(1.0) - distinct / total.cast("double")
        ).otherwise(F.lit(0.0))

    return over_tokens(col, ratio)


# GPT-style pre-tokenizer shape, restricted to constructs RE2 and Java
# regex agree on (no lookahead/backrefs): a token is an optionally
# space-prefixed letter run, digit run, or punctuation run. Counting
# these matches approximates LLM tokenizer counts well enough for
# corpus cost estimation without shipping a vocab.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_token_count(col: Column) -> Column:
    """Approximate LLM-tokenizer token count via the pre-tokenizer
    regex above — JVM-side ``regexp_count``, no UDF, no vocab."""
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN)).cast("long")


# Winnowing fingerprint parameters (Schleimer/Wilkerson/Aiken, SIGMOD
# 2003 — the standard local document-fingerprinting algorithm): k-gram
# size, window size, and the Rabin-Karp polynomial rolling-hash
# base/modulus. Guarantee: any shared substring of length >= K + W - 1
# between two documents yields at least one shared fingerprint.
WINNOW_K = 8
WINNOW_W = 4
WINNOW_BASE = 31
WINNOW_MOD = 1_000_000_007


def _winnow_normalize(col: Column) -> Column:
    """lower + whitespace-collapse + strip non-printable-ASCII, so the
    char-code rolling hash sees the same byte stream in every engine."""
    normalized = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.regexp_replace(normalized, "[^ -~]", "")


def with_winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    out_col: str = "fps",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Add a winnowing fingerprint set column ``out_col``
    (``array<bigint>``) — pure column expressions, linear in document
    length (O(n*k) hash work + O(n*w) window minima), no UDF.

    Pipeline: normalize -> char codes -> Rabin-Karp polynomial hash of
    every char k-gram -> minimum of every w-window of hashes ->
    distinct. Documents shorter than k + w - 1 normalized chars get an
    empty set. The identical arithmetic is re-stated in DuckDB SQL by
    :func:`big_data_tools_spark.queries.text.winnow_fps_sql` and
    oracle-checked, so the fingerprints are engine-portable.

    This is a DataFrame transform, not a single Column expression, on
    purpose: the char-code and k-gram-hash arrays must be materialized
    as real columns in separate projections. Inlined into one
    expression, ``slice(hashes, i, w)`` re-evaluates the entire hash
    array inside every per-element lambda invocation — O(n^3) per row
    instead of O(n*(k+w)) (measured: minutes vs milliseconds on a
    500-doc corpus). Each intermediate is referenced more than once
    downstream, so Catalyst's CollapseProject keeps the projections
    separate and each array is computed once per row.
    """
    codes_c = f"__wn_codes_{out_col}"
    hashes_c = f"__wn_hashes_{out_col}"
    codes = F.transform(
        F.split(_winnow_normalize(F.col(text_col)), ""),
        lambda c: F.ascii(c).cast("bigint"),
    )
    step1 = df.withColumn(codes_c, codes)
    n = F.size(F.col(codes_c))
    hashes = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.aggregate(
            F.slice(F.col(codes_c), i, k),
            F.lit(0).cast("bigint"),
            lambda acc, c: (acc * WINNOW_BASE + c) % WINNOW_MOD,
        ),
    )
    # guard short docs: sequence(1, n-k+1) with n < k yields a
    # DESCENDING array (and slice start 0 throws) — CaseWhen evaluates
    # branches lazily per row, so short docs never touch the bad branch
    step2 = step1.withColumn(
        hashes_c,
        F.when(n >= k, hashes).otherwise(F.array().cast("array<bigint>")),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col(hashes_c)) - (w - 1)),
            lambda i: F.array_min(F.slice(F.col(hashes_c), i, w)),
        )
    )
    out = step2.withColumn(
        out_col,
        F.when(n >= k + w - 1, fps).otherwise(F.array().cast("array<bigint>")),
    )
    return out.drop(codes_c, hashes_c)


# PII scrubbing patterns — restricted to the Java-regex/RE2 common
# subset (no lookarounds) so the same strings run in Spark and DuckDB.
# Order matters: email first (its local part may contain digits), then
# the digit-group shapes from most to least specific. The replacement
# tokens contain no digits, so later patterns cannot re-match inside
# an earlier redaction.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("cc", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CC>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[ .-]\d{3}[ .-]\d{4}\b", "<PHONE>"),
]


def scrub_pii(col: Column) -> Column:
    """Redact emails / IPv4s / credit-card / SSN / phone shapes with
    typed tokens — chained JVM-side ``regexp_replace``, no UDF, linear
    scan per document. The standard pre-training scrub pass."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(col: Column) -> list[Column]:
    """One ``n_<kind>`` count column per PII pattern (pre-scrub)."""
    return [
        F.regexp_count(col, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
