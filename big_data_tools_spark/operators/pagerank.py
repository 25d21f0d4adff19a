"""Distributed PageRank over an edge list — the iterative-graph
family (with operators/components.py) expressed as plain DataFrame
joins + aggregates, deterministic enough to be replayed bit-exactly by
a SQL oracle.

Semantics: the scaled Brin–Page formulation (ranks sum to ~|V| rather
than 1, so |V| never appears in the update):

    rank_{i+1}(v) = (1 - d) + d * Σ_{u→v} rank_i(u) * p(u, v)

with ``p(u, v) = w(u, v) / Σ_w(u, ·)`` the weight-normalized
transition probability. Fixed iteration count (no convergence test —
the driver-side fixpoint probe is what makes label propagation
driver-synchronous; a fixed-k PageRank is one static 2k-shuffle plan).

Engine-exact float policy — stricter than functions/agg.dsum, because
iteration compounds rounding-boundary flips: ``round(double, s)`` is
exact-decimal HALF_UP in Spark but float-scaled in DuckDB, and the two
disagree with probability ~1e-6 per value at s=9 (the float-computed
``x*1e9`` sits ~3e-7 absolute from the true product, so any true
fractional part that close to .5 flips) — millions of per-edge
roundings make that a certainty. Instead each contribution is
quantized ``floor(rank * p * 1e6)`` to a BIGINT: multiply and floor
are single IEEE ops on bit-identical inputs, so both engines get the
identical integer; the sum is exact int64 arithmetic; and the damped
update ``(1-d) + d * (sum / 1e6)`` is again identical IEEE double
math. No round() anywhere in the loop ⇒ ranks are bit-identical at
every iteration, which is what lets a DuckDB twin with k unrolled CTE
iterations hash-match the distributed run.

Scale shape: ``edges`` is hash-partitioned on ``src`` ONCE and
persisted; every iteration joins the (|V|-sized) rank frame against it
on that same key and re-aggregates on ``dst`` — 2 shuffles per
iteration, the textbook Pregel cost, with no driver synchronization
between iterations. Dangling nodes cannot occur on an undirected input
(every node has out-weight), which keeps the update total-mass-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
_QUANT = 1_000_000  # contributions quantized to 1e-6 (see module docstring)


def transition_edges(edges_w: DataFrame) -> DataFrame:
    """Weight-normalized directed transition edges from a weighted
    directed edge list ``(src, dst, w)``: adds ``p = w / out_weight``.
    The out-weight is a window sum over the src partition — one
    shuffle and ONE scan of the input, where the aggregate-then-join
    form read the (possibly expensive, un-materialized) edge subtree
    twice. The division is exact-input double division, identical
    across engines."""
    from pyspark.sql import Window

    wd = F.sum("w").over(Window.partitionBy("src"))
    return edges_w.select(
        "src", "dst", (F.col("w").cast("double") / wd).alias("p")
    )


def pagerank(edges: DataFrame, iterations: int) -> DataFrame:
    """Fixed-iteration PageRank over transition edges ``(src, dst,
    p)``; returns ``(node, rank)``. Caller should persist ``edges``
    (it is scanned twice per iteration: join side + node set)."""
    ranks = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("rank")
    )
    for _ in range(iterations):
        contrib = edges.join(ranks, edges.src == ranks.node).select(
            F.col("dst"),
            F.floor(F.col("rank") * F.col("p") * F.lit(float(_QUANT)))
            .cast("bigint")
            .alias("c"),
        )
        ranks = contrib.groupBy("dst").agg(
            (
                F.lit(1.0 - DAMPING)
                + F.lit(DAMPING)
                * (F.sum("c").cast("double") / F.lit(float(_QUANT)))
            ).alias("rank")
        ).select(F.col("dst").alias("node"), "rank")
    return ranks


def pagerank_trace(edges: DataFrame, iterations: int) -> DataFrame:
    """Convergence telemetry for :func:`pagerank` (r4 VERDICT ask #8:
    fixed-k runs gave no evidence k was enough): one row per iteration
    with the rank movement vs the previous iteration —

    - ``l1_delta_e9``: Σ_v floor(|rank_i(v) - rank_{i-1}(v)| * 1e9),
      the total L1 movement in nano-rank units;
    - ``max_delta_e9``: the largest single-node movement, same units.

    Per-node deltas are quantized to int64 BEFORE summing (the same
    engine-exactness trick as the contribution loop — double sums are
    order-dependent in final ulps, int64 sums are exact), so a DuckDB
    twin unrolling the same iterations hash-matches exactly. Size
    ``iterations`` by reading the tail: when l1 stops dropping by
    ~an order of magnitude per round, extra rounds buy nothing.

    Each iteration's rank frame is persisted (the trace joins
    consecutive frames, which would otherwise recompute the whole
    prefix per delta — O(k^2) joins); caller releases via the returned
    frame's tracked caches (operators/cache.track_cache)."""
    from .cache import track_cache

    ranks = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(1.0).alias("rank"))
        .persist()
    )
    kept = [ranks]
    traces = []
    for i in range(1, iterations + 1):
        prev = ranks
        contrib = edges.join(prev, edges.src == prev.node).select(
            F.col("dst"),
            F.floor(F.col("rank") * F.col("p") * F.lit(float(_QUANT)))
            .cast("bigint")
            .alias("c"),
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(
                (
                    F.lit(1.0 - DAMPING)
                    + F.lit(DAMPING)
                    * (F.sum("c").cast("double") / F.lit(float(_QUANT)))
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
            .persist()
        )
        kept.append(ranks)
        # alias both sides: ranks derives from prev, and an unaliased
        # ancestor self-join trips AMBIGUOUS_SELF_JOIN resolution
        a, b = ranks.alias("a"), prev.alias("b")
        d = F.floor(
            F.abs(F.col("a.rank") - F.col("b.rank")) * F.lit(1e9)
        ).cast("bigint")
        traces.append(
            a.join(b, F.col("a.node") == F.col("b.node"))
            .select(d.alias("d"))
            .agg(
                F.sum("d").alias("l1_delta_e9"),
                F.max("d").alias("max_delta_e9"),
            )
            .select(
                F.lit(i).cast("int").alias("iteration"),
                "l1_delta_e9",
                "max_delta_e9",
            )
        )
    out = traces[0]
    for t in traces[1:]:
        out = out.unionByName(t)
    return track_cache(out, *kept)


def pagerank_trace_sql(edges_cte: str, iterations: int) -> str:
    """DuckDB twin of :func:`pagerank_trace`: reuses the unrolled
    ``pr{k}`` CTEs and adds one delta CTE per step; the caller appends
    ``SELECT * FROM trace``."""
    prefix = pagerank_iteration_sql(edges_cte, iterations)
    deltas = []
    for i in range(1, iterations + 1):
        deltas.append(
            f"d{i} AS (SELECT {i} AS iteration, "
            f"CAST(sum(CAST(floor(abs(a.rank - b.rank) * 1e9) AS BIGINT)) AS BIGINT)"
            f" AS l1_delta_e9, "
            f"CAST(max(CAST(floor(abs(a.rank - b.rank) * 1e9) AS BIGINT)) AS BIGINT)"
            f" AS max_delta_e9 "
            f"FROM pr{i} a JOIN pr{i - 1} b ON a.node = b.node)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM d{i}" for i in range(1, iterations + 1))
    return prefix + ",\n" + ",\n".join(deltas) + f",\ntrace AS ({union})\n"


def pagerank_iteration_sql(
    edges_cte: str, iterations: int, node_alias: str = "node"
) -> str:
    """DuckDB twin of :func:`pagerank`: ``iterations`` unrolled CTE
    steps over a caller-supplied CTE body defining ``edges(src, dst,
    p)``. Returns the full WITH-clause prefix ending at ``pr{k}`` —
    the caller appends its own final SELECT. Each step is MATERIALIZED:
    the trace reads every ``pr{k}`` twice, and DuckDB would otherwise
    re-expand the chain below each read."""
    steps = [
        edges_cte,
        "pr0 AS MATERIALIZED (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM edges)",
    ]
    for i in range(iterations):
        steps.append(
            f"pr{i + 1} AS MATERIALIZED (SELECT e.dst AS node, "
            f"{1.0 - DAMPING} + {DAMPING} * "
            f"(CAST(sum(CAST(floor(r.rank * e.p * {float(_QUANT)}) AS BIGINT)) "
            f"AS DOUBLE) / {float(_QUANT)}) AS rank "
            f"FROM edges e JOIN pr{i} r ON e.src = r.node GROUP BY e.dst)"
        )
    return "WITH " + ",\n".join(steps)
