"""Incremental aggregate maintenance: merge mergeable per-key
aggregate STATES (count / exact-decimal sum / min / max) so a stored
rollup can absorb a delta without re-scanning history.

The reference recomputes every rollup from scratch on each run
(`Databricks Notebook.py` — the notebook re-reads the full table for
every groupBy). At 100 TB that is the difference between scanning one
day's partition and scanning three years of them: keep the rollup at
STATE grain (count + decimal sum, from which avg derives), aggregate
only the delta, and merge — states are commutative monoids, so
``merge(state(A), state(B)) == state(A ∪ B)`` exactly, and the merge
shuffles only |keys| rows, not |rows|.

Derived metrics (avg) must NOT be stored — they don't merge. They are
projected in :func:`finish_rollup` after the merge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from ..functions.agg import _rounded_mean

# state column suffixes produced by aggregate_state
_STATE_COLS = ("n", "sum", "min", "max")


def aggregate_state(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Per-key mergeable state for ``value_col``: row count, exact
    DECIMAL(28,2) sum (decimal addition is associative, so the state is
    partition-order independent and merge order never matters), min and
    max. One hash shuffle on ``keys`` with map-side partial agg."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.sum(v.cast("decimal(28,2)")).alias("sum"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    )


def merge_states(keys: Sequence[str], *states: DataFrame) -> DataFrame:
    """Merge any number of state frames produced by
    :func:`aggregate_state` over the same keys: union, then one
    |keys|-sized re-aggregate (count→sum, sum→sum, min→min, max→max)."""
    if not states:
        raise ValueError("merge_states needs at least one state frame")
    for s in states:
        missing = [c for c in (*keys, *_STATE_COLS) if c not in s.columns]
        if missing:
            raise ValueError(f"state frame missing columns: {missing}")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )


def finish_rollup(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Project the user-facing rollup from a state frame: count, sum
    and avg rounded to 2 (money policy, functions/agg), min, max."""
    return state.select(
        *keys,
        F.col("n").alias("n_rows"),
        F.round(F.col("sum").cast("double"), 2).alias("total"),
        # the exact mean by integer division, the formula the twins render
        F.expr(_rounded_mean("`sum`", "`n`", 2, 2, spark=True)).alias("mean"),
        F.col("min").alias("lo"),
        F.col("max").alias("hi"),
    )


def histogram_state(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """Per-key fixed-bin histogram state — the MERGEABLE quantile
    companion to :func:`aggregate_state`. Bin edges are FIXED by
    (lo, hi, n_bins) at state-creation time, so two states over the
    same grid merge by elementwise vector addition with NO
    approximation: ``merge(state(A), state(B)) == state(A ∪ B)``
    bit-for-bit (contrast KLL/t-digest sketches, whose merge is lossy
    and order-sensitive — fine for one-shot queries, wrong for a
    stored rollup that must absorb deltas forever and stay
    reproducible). Values outside [lo, hi) clamp into the edge bins,
    so the state never loses mass when data drifts past the declared
    range (a drifted tail shows up as edge-bin concentration).

    Shape: bin index is a pure expression; the first aggregate
    reduces to at most |keys| x n_bins rows (map-side combine does
    most of the work), the second gathers <= n_bins (bin, count)
    pairs per key into the dense vector — per-key aggregation buffers
    are bounded by n_bins, never by row count.
    """
    if hi <= lo:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    v = F.col(value_col).cast("double")
    idx = (
        F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0), F.floor((v - F.lit(lo)) / F.lit((hi - lo) / n_bins))
            ),
        )
        .cast("int")
        .alias("__bin")
    )
    binned = df.select(*keys, idx).groupBy(*keys, "__bin").agg(
        F.count(F.lit(1)).alias("__c")
    )
    agged = binned.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("__bin", "__c"))).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i.cast("int")), F.lit(0).cast("long")
        ),
    )
    return agged.select(*keys, dense.alias("bins"))


def merge_histogram_states(keys: Sequence[str], *states: DataFrame) -> DataFrame:
    """Merge histogram states over the SAME (lo, hi, n_bins) grid:
    union -> posexplode -> per-(key, bin) sum -> dense reassembly.
    Exact elementwise addition; shuffles |keys| x n_bins rows."""
    if not states:
        raise ValueError("merge_histogram_states needs at least one state frame")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    e = u.select(*keys, F.posexplode("bins").alias("__pos", "__c"))
    summed = e.groupBy(*keys, "__pos").agg(F.sum("__c").alias("__c"))
    agged = summed.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("__pos", "__c"))).alias("__m"),
        F.max("__pos").alias("__mx"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.col("__mx")),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i.cast("int")), F.lit(0).cast("long")
        ),
    )
    return agged.select(*keys, dense.alias("bins"))


def histogram_quantile(
    state: DataFrame, keys: Sequence[str], q: float, lo: float, hi: float
) -> DataFrame:
    """Approximate per-key quantile from a histogram state: the left
    edge of the first bin whose cumulative count reaches
    ceil(q * total). Error is bounded by ONE bin width — a declared,
    grid-determined bound, unlike sketch error which depends on merge
    history. Pure per-row array expressions (O(n_bins^2) ops on a
    64-long array), no extra shuffle."""
    if not 0 < q <= 1:
        raise ValueError(f"need 0 < q <= 1, got {q}")
    bins = F.col("bins")
    n = F.size(bins)
    total = F.aggregate(bins, F.lit(0).cast("long"), lambda a, b: a + b)
    cum = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.aggregate(
            F.slice(bins, 1, i.cast("int")), F.lit(0).cast("long"), lambda a, b: a + b
        ),
    )
    target = F.ceil(F.lit(q) * total)
    hit = F.array_position(
        F.transform(cum, lambda c: (c >= target).cast("int")), 1
    )
    width = (F.lit(hi) - F.lit(lo)) / n
    return state.select(
        *keys,
        (F.lit(lo) + (hit - 1) * width).alias(f"q{int(q * 100)}_approx"),
    )
