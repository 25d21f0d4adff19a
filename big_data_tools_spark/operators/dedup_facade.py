"""One front door for the dedup tiers (r2 VERDICT ask #4).

The repo ships five near-dup implementations because no single
algorithm is right at every cost/recall point; this facade makes the
TIER the user-facing choice and keeps the implementations internal.

Cost model (each tier subsumes the one above it in recall, at higher
cost — pick the FIRST tier that detects what you need to remove):

| tier       | detects                          | plan shape / cost at 100 TB        |
|------------|----------------------------------|------------------------------------|
| `exact`    | byte-identical (post-normalize)  | 1 hash shuffle on a 128-bit        |
|            | copies                           | fingerprint — cheapest, run always |
| `winnow`   | shared substrings >= k+w-1 chars | posting-list self-join on 8-byte   |
|            | (quotes, mirrored passages)      | fingerprints; cost tracks shared-  |
|            |                                  | content density, never all-pairs   |
| `jaccard`  | high n-gram overlap (EXACT       | inverted-index join + per-pair     |
|            | Jaccard >= threshold)            | exact overlap; doc-freq capped —   |
|            |                                  | the verify pass after a candidate  |
|            |                                  | tier, or standalone at moderate SF |
| `containment` | short doc quoted whole inside | min-side prefix probe (exact) or   |
|            | a long one (overlap coefficient  | df-capped posting join — routed by |
|            | >= threshold; Jaccard misses it) | corpus size, see containment_route |
| `minhash`  | high n-gram overlap (APPROX,     | one-permutation signatures + salted|
|            | banded LSH)                      | band join; cost tracks near-dup    |
|            |                                  | density — the web-scale default    |
| `simhash`  | small Hamming-distance content   | 64-bit signature band join; tiny   |
|            | drift (near-identical boiler-    | state per doc — cheapest <i>fuzzy</i>  |
|            | plate variants)                  | tier when shingle sets are huge    |
| `semantic` | meaning-level duplicates         | KMeans/IVF bucket + in-cluster     |
|            | (embedding cosine, SemDeDup)     | cosine (n^2/k, guarded) — needs an |
|            |                                  | embedding column, costliest        |

Every tier routes to the SAME operator its registry query uses
(``dedup_exact_docs``, ``dedup_winnow_pairs``, ``dedup_jaccard_pairs``,
``dedup_containment_prefix`` / ``dedup_containment_pairs``,
``dedup_minhash_pairs``, ``dedup_simhash``, ``dedup_semantic_groups``),
so the driver-green correctness evidence transfers to the facade
verbatim — asserted in tests/test_dedup_facade.py.

The ``minhash`` and ``simhash`` tiers also accept
``hash_family="portable"``: the md5-based variants whose entire
pipeline the DuckDB oracle replays bit-exactly
(``dedup_minhash_portable`` / ``dedup_simhash_portable``). Default
stays the xxhash64 production family (one hash per shingle, 8-byte
keys); portable costs ~num_hashes x the hash work and exists for
hard-verifiability and engine-migration testing.

``output="groups"`` post-processes pair tiers through the
connected-components fixpoint (transitive closure, min-id survivor),
matching the groups form the registry exposes for exact/semantic.
``output="survivors"`` (with ``quality_col=``) goes one step further
and emits the deduplicated corpus manifest: one row per group with
the (max quality, min id) representative — the canonical_survivors
selection applied uniformly over every tier's closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from .dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_band_pairs,
    simhash_candidate_pairs,
    winnow_pairs,
)
from .semdedup import semantic_dedup_groups, semantic_dedup_pairs

TIERS = (
    "exact",
    "winnow",
    "jaccard",
    "containment",
    "minhash",
    "simhash",
    "semantic",
)

# Measured crossover for the containment tier (SCALING.md r10 block):
# on the saturated sf1 sweep the EXACT prefix path reads x4.5/decade
# (11.4s at sf1) vs the df-capped posting path's x30.7 (82.2s), and
# SCALING.md's natural Heaps-growth A/B (20k and 60k docs) has
# prefix 2.1-2.4x FASTER with identical exact output; the capped
# path wins only below ~sf0.1 corpus sizes (~5k docs), where the
# posting join is cheap and the sqrt(N) df cap rarely binds.
CONTAINMENT_CROSSOVER_DOCS = 5_000


def containment_route(n_docs: int) -> str:
    """Size-routed containment method (r10 verdict next #3): the exact
    prefix tier above the measured crossover; the df-capped posting
    path — cheaper ONLY on small corpora, and approximate when the cap
    binds — below it. Pure so the routing decision is unit-testable."""
    return "prefix" if n_docs > CONTAINMENT_CROSSOVER_DOCS else "capped"


def dedup(
    df: DataFrame,
    tier: str = "exact",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    output: str = "pairs",
    **tier_kwargs,
) -> DataFrame:
    """Run the selected dedup ``tier`` (see module cost model).

    ``output``: ``"pairs"`` returns the tier's native candidate/match
    pairs (``id_a < id_b`` + the tier's score column); ``"groups"``
    returns one row per duplicate-group member ``(id, keep_id)`` with
    the minimum id as the survivor (transitive closure). The ``exact``
    tier is inherently grouped; asking it for pairs is refused rather
    than silently expanding groups quadratically.

    Extra ``tier_kwargs`` pass through to the underlying operator
    (e.g. ``threshold=`` for jaccard/minhash/semantic, ``min_shared=``
    for winnow, ``max_hamming=`` for simhash, ``threshold_micro=`` /
    ``method=`` for containment). The containment tier routes
    ``method="auto"`` by corpus size (:func:`containment_route`, the
    r10-measured crossover); pass ``method="capped"`` to opt into the
    small-corpus posting path or ``method="prefix"`` to force the
    exact tier.
    """
    if tier not in TIERS:
        raise ValueError(f"unknown dedup tier {tier!r}; pick one of {TIERS}")
    if output not in ("pairs", "groups", "survivors"):
        raise ValueError(
            f"output must be 'pairs', 'groups' or 'survivors', got {output!r}"
        )
    quality_col = tier_kwargs.pop("quality_col", None)
    if output == "survivors" and quality_col is None:
        raise ValueError("output='survivors' needs quality_col=<column>")

    if tier == "exact":
        if output == "pairs":
            raise ValueError(
                "tier='exact' is grouped by construction (a size-k group "
                "would expand to k^2/2 pairs); use output='groups'"
            )
        if output == "survivors":
            from .dedup import canonical_survivors

            out = canonical_survivors(df, text_col, id_col, quality_col)
            return out.select(
                F.col("fingerprint").alias("group_key"),
                "group_size",
                F.col(f"keep_{id_col}").alias("keep_id"),
                F.col(f"keep_{quality_col}").alias("keep_quality"),
            )
        groups = exact_dedup_groups(df, text_col, id_col)
        # explode back to (id, keep_id) membership — join on the
        # fingerprint, never pair-expand
        from .text import fingerprint

        return (
            df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
            .join(groups.select("fp", "keep_id"), "fp")
            .select(F.col(id_col).alias("id"), "keep_id")
        )

    if tier == "semantic":
        if output == "groups":
            return semantic_dedup_groups(df, id_col=id_col, vec_col=vec_col, **tier_kwargs)
        if output == "survivors":
            # semantic_dedup_groups returns (id_col, keep_id), not the
            # raw components schema — map to the survivor-ranker contract
            members = semantic_dedup_groups(
                df, id_col=id_col, vec_col=vec_col, **tier_kwargs
            ).select(F.col(id_col).alias("id"), F.col("keep_id").alias("group_key"))
            return _rank_survivors(members, df, id_col, quality_col)
        return semantic_dedup_pairs(df, id_col=id_col, vec_col=vec_col, **tier_kwargs)

    hash_family = tier_kwargs.pop("hash_family", "xxhash64")
    if hash_family not in ("xxhash64", "portable"):
        raise ValueError(
            f"hash_family must be 'xxhash64' or 'portable', got {hash_family!r}"
        )
    if hash_family == "portable" and tier not in ("minhash", "simhash"):
        raise ValueError(f"tier {tier!r} has no portable hash family")

    if tier == "containment":
        # method="auto" (default) routes by corpus size — exact prefix
        # probing above CONTAINMENT_CROSSOVER_DOCS, the capped posting
        # join below it. "capped" is the EXPLICIT small-corpus opt-in:
        # it is both slower at scale (x30.7 vs x4.5 per decade at sf1)
        # and approximate when the sqrt(N) doc-freq cap binds, so auto
        # never picks it on a large corpus.
        method = tier_kwargs.pop("method", "auto")
        if method not in ("auto", "prefix", "capped"):
            raise ValueError(
                f"containment method must be 'auto', 'prefix' or "
                f"'capped', got {method!r}"
            )
        if method == "auto":
            method = containment_route(df.count())
        from .dedup import containment_pairs, containment_prefix_pairs

        fn = containment_prefix_pairs if method == "prefix" else containment_pairs
        pairs = fn(df, text_col=text_col, id_col=id_col, **tier_kwargs)
    elif tier == "simhash":
        if hash_family == "portable":
            from .dedup import simhash_band_pairs_portable

            pairs = simhash_band_pairs_portable(
                df, text_col, id_col, **tier_kwargs
            )
        else:
            from .dedup import simhash64

            n = tier_kwargs.pop("n", 3)
            pairs = simhash_candidate_pairs(
                simhash64(df, text_col, id_col, n=n), **tier_kwargs
            )
    else:
        from .dedup import minhash_band_pairs_portable

        pair_fns = {
            "winnow": winnow_pairs,
            "jaccard": jaccard_pairs,
            "minhash": (
                minhash_band_pairs_portable
                if hash_family == "portable"
                else minhash_band_pairs
            ),
        }
        pairs = pair_fns[tier](df, text_col=text_col, id_col=id_col, **tier_kwargs)
    if output == "pairs":
        return pairs
    # every tier emits strict id_a < id_b pairs -> skip the self-loop
    # singleton probe (a second full pass over the pair pipeline)
    comps = connected_components(pairs, "id_a", "id_b", self_loops=False)
    members = comps.select(
        F.col("node").alias("id"), F.col("component_id").alias("keep_id")
    )
    if output == "groups":
        return members
    return _rank_survivors(
        members.withColumnRenamed("keep_id", "group_key"), df, id_col, quality_col
    )


def _rank_survivors(members, df, id_col: str, quality_col: str) -> DataFrame:
    """Quality-ranked canonical survivor per duplicate group: join the
    (id, group_key) membership back to the corpus for the quality
    column, then ONE partitioned window sort picks (max quality, min
    id) and counts the group — the same single-shuffle shape as
    operators/dedup.canonical_survivors, over any tier's closure.
    Returns (group_key, group_size, keep_id, keep_quality). NOTE:
    pair-tier closures only contain docs that matched something, so
    singletons are not re-listed (they trivially keep themselves);
    the exact tier lists every group including singletons."""
    from pyspark.sql import Window

    q = df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("q"))
    j = members.join(q, "id")
    w_rank = Window.partitionBy("group_key").orderBy(F.desc("q"), F.asc("id"))
    w_all = Window.partitionBy("group_key")
    ranked = j.select(
        "group_key",
        F.col("id").alias("keep_id"),
        F.col("q").alias("keep_quality"),
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("group_size"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "group_key", "group_size", "keep_id", "keep_quality"
    )
