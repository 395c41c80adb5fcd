"""Bounded session cache registry, shared across operator families.

Persisted intermediates of recent operator invocations, oldest first.
Bounded: a few live slots let a caller interleave results of several ops
(each op persists one frame) without the oldest being evicted before its
result is materialized, while repeated calls in a long-lived session
still cannot accumulate unbounded cache blocks (shingle/signature
arrays, PageRank ranks, closure frontiers, CC labels...).
:func:`release_caches` frees everything eagerly.

One home on purpose: the registry used to be a private helper of
ops/dedup that kg/graph and ops/vocab reached into across packages —
the KG layer depending on a dedup-private symbol. Every user imports
it from here now.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE_CACHES: list[DataFrame] = []
_MAX_LIVE_CACHES = 4


def release(df: DataFrame) -> None:
    """Unpersist *df*; when it is a localCheckpoint (a scan of a
    checkpointed RDD) also free that RDD's blocks, which
    ``DataFrame.unpersist`` does not reach — they would otherwise stay
    until the JVM garbage-collects the RDD. Only for frames nothing reads
    any more: a released checkpoint cannot be recomputed."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def cache_bounded(df: DataFrame) -> DataFrame:
    """Persist *df* and register it; evict (unpersist) the oldest entry
    beyond the bound."""
    while len(_LIVE_CACHES) >= _MAX_LIVE_CACHES:
        _LIVE_CACHES.pop(0).unpersist()
    _LIVE_CACHES.append(df.persist())
    return df


def release_caches() -> None:
    """Unpersist every intermediate registered by earlier operator calls."""
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()
