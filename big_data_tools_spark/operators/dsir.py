"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The standard recipe for picking pretraining documents that "look like"
a small target corpus without training a classifier: fit two bag-of-
n-gram language models — one on the target slice, one on the raw pool
— and rank every raw document by its importance log-ratio

    w(doc) = sum over features f in doc of  [ln p_target(f) - ln p_raw(f)]

with add-alpha smoothing over the shared vocabulary. High-weight
documents are target-like; the top slice becomes the training mix.

Scale design (the plan at 100 TB):

- feature extraction (unigrams + bigrams) is a pure projection +
  explode — no shuffle before the counting agg;
- BOTH models come from ONE grouped aggregation over the feature
  stream (raw count + conditional target count per feature), with a
  map-side combiner — not two passes;
- the fitted model is bounded by vocabulary size and is broadcast to
  the scoring join, so the token stream never shuffles on the
  (power-law hot) feature key;
- ``hash_buckets`` caps the model at a fixed size regardless of
  vocabulary (the paper's hashed n-gram trick): features become
  ``xxhash64 % B`` bucket ids, collisions merge counts. That is the
  knob that keeps the broadcast bounded on an open-vocabulary crawl;
  the un-hashed form exists so the DuckDB oracle can replay the exact
  arithmetic (xxhash64 is Spark-specific).

The per-feature log-ratios are quantized to 6 decimals and summed as
decimals (functions/agg.py policy) so the DuckDB twin reproduces the
sum bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import track_cache
from .text import over_tokens


def ngram_features(text_col: Column) -> Column:
    """array<string> of unigram + bigram features of the lowercased,
    space-split text. Pure expression; bigrams guarded for 1-token
    docs (``sequence`` would run descending on an empty range)."""

    def features(toks: Column) -> Column:
        n = F.size(toks)
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(1)),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + F.lit(1))
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, bigrams)

    return over_tokens(text_col, features)


def _portable_llr(alpha: float) -> Column:
    """Per-feature importance log-ratio via the portable integer-arg
    ln (r7 float policy — libm ln drifts a ulp between engines): with
    alpha = p/q rational, ln((tc+a)/(t_tgt+a*v)) - ln((rc+a)/(t_raw+
    a*v)) = [pln(q*tc+p) - pln(q*t_tgt+p*v)] - [pln(q*rc+p) -
    pln(q*t_raw+p*v)] — every argument an exact integer."""
    from fractions import Fraction

    from .portablemath import pln_sql

    frac = Fraction(str(alpha))
    p, q = frac.numerator, frac.denominator
    # association must match the SQL twin exactly: (a-b) - (c-d)
    return (
        F.expr(pln_sql(f"{q} * tc + {p}"))
        - F.expr(pln_sql(f"{q} * t_tgt + {p} * v"))
    ) - (
        F.expr(pln_sql(f"{q} * rc + {p}"))
        - F.expr(pln_sql(f"{q} * t_raw + {p} * v"))
    )


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    alpha: float = 0.5,
    hash_buckets: int | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Importance log-ratio weight per document.

    ``is_target`` marks the rows whose distribution the selection
    should move toward (e.g. ``col("source") == "wiki"``). Returns
    ``id_col, *keep_cols, dsir_weight`` (weight rounded to 4 decimals —
    rank on it with a deterministic id tiebreak).
    """
    from .partitioning import fan_out

    feat = F.explode(ngram_features(F.col(text_col))).alias("f")
    # single-file corpora read as ONE partition — without fanning out,
    # the whole unigram+bigram explode (the expensive per-row work)
    # serializes onto one task; measured 8.2 s -> 1.5 s at sf0.1
    feats = (
        fan_out(df, id_col)
        .select(F.col(id_col), *(keep_cols or []), is_target.alias("is_tgt"), feat)
        .filter(F.col("f") != "")
    )
    if hash_buckets is not None:
        feats = feats.withColumn(
            "f", F.pmod(F.xxhash64(F.col("f")), F.lit(hash_buckets))
        )

    # the fitted model is vocabulary-sized — persist it so the totals
    # aggregate, the broadcast build, and the scoring join share ONE
    # counting pass over the feature stream instead of three
    model = (
        feats.groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("tc"),
        )
        .persist()
    )
    totals = model.agg(
        F.sum("rc").alias("t_raw"),
        F.sum("tc").alias("t_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    llr = _portable_llr(alpha)
    scored_model = (
        model.crossJoin(F.broadcast(totals)).select("f", llr.alias("llr"))
    )

    out = (
        feats.join(F.broadcast(scored_model), "f")
        .groupBy(id_col, *(keep_cols or []))
        .agg(
            F.round(
                F.sum(F.round(F.col("llr"), 6).cast("decimal(28,8)")).cast("double"),
                4,
            ).alias("dsir_weight")
        )
    )
    return track_cache(out, model)
