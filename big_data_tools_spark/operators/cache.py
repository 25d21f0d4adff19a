"""Cache-lifecycle helpers for operators that persist() intermediates.

Operators like ``jaccard_pairs`` / ``minhash_band_pairs`` persist an
intermediate frame that feeds several consumers (at scale this is the
difference between 1 and 4 corpus scans). The returned DataFrame is
lazy, so the operator cannot unpersist before the caller's action runs
— Spark's CacheManager would drop the blocks and the plan would
recompute from scratch. Instead the operator tags the result with the
frames it persisted (``track_cache``) and the CALLER releases them
after its terminal action (``release_caches``). perfbench, the oracle
compare and the test fixtures do this between queries so back-to-back
registry runs don't accumulate cached partitions across a shared session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Tags ride Python DataFrame objects, so any wrapper transformation
# (.select/.join/.groupBy) silently drops them — a query that
# post-processes a tagged operator result returns an untagged frame and
# release_caches() on it frees nothing. Harness code (perfbench, the
# oracle compare, test fixtures) therefore calls release_all_caches()
# between queries, which frees everything regardless of tags.
_ATTR = "_bdt_cached_frames"


def track_cache(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tag ``out`` with persisted upstream frames the caller must
    release. Tags accumulate (operators composing operators)."""
    frames = list(getattr(out, _ATTR, ()))
    for c in cached:
        frames.extend(getattr(c, _ATTR, ()))  # propagate nested tags
        if c.is_cached:
            frames.append(c)
    setattr(out, _ATTR, frames)
    return out


def release_caches(df: DataFrame) -> None:
    """Unpersist every frame tagged on ``df`` by :func:`track_cache`.
    Safe to call on untagged frames (no-op). Call AFTER the terminal
    action on ``df`` — releasing earlier forces a full recompute."""
    for c in getattr(df, _ATTR, ()):
        try:
            c.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    if hasattr(df, _ATTR):
        setattr(df, _ATTR, [])


def release_all_caches() -> None:
    """Drop every CacheManager entry AND sweep the JVM's persistent-RDD
    registry. The between-queries sweep for harness loops (perfbench,
    oracle compare): frees persisted intermediates even when (a) a
    query's wrapper transformations dropped the per-frame tag, or (b)
    the storage belongs to a ``localCheckpoint`` (fixpoint loops),
    whose blocks are unreachable from any DataFrame handle —
    ``df.unpersist()`` cannot free them.

    Call only at a point where no query is still mid-flight: swept
    checkpoint frames cannot be recomputed (lineage is truncated), so
    consumers must rebuild from the query function, which harness
    loops do anyway."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    # CacheManager sweep: the RDD-blocks sweep below does NOT remove
    # the JVM CacheManager entry — any LATER plan containing the same
    # fragment then substitutes an InMemoryRelation (recompute-into-
    # cache, with the cached entry's stats), which flipped a join to
    # BNLJ under full-suite test order (r9 verdict:
    # test_containment_no_cartesian order-dependent failure).
    # clearCache() drops every CacheManager entry, tagged or not; safe
    # here because this is only called between queries.
    try:
        s.catalog.clearCache()
    except Exception:  # session shutting down — nothing to clear
        pass
    try:
        it = s.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
    except Exception:  # context shutting down — nothing to free
        pass
