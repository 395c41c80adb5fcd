"""Cache lifetime for every operator family: the bounded registry of
persisted results and the one loop driver for iterative algorithms.

**Registry.** Persisted results of recent operator invocations, oldest
first. Bounded: a few live slots let a caller interleave results of
several ops (each op persists one frame) without the oldest being
evicted before its result is materialized, while repeated calls in a
long-lived session still cannot accumulate unbounded cache blocks
(shingle/signature arrays, PageRank ranks, closure frontiers, CC
labels...). :func:`release_caches` frees everything eagerly. Every user
imports it from here (it used to be a private helper of ops/dedup that
kg/graph and ops/vocab reached into across packages).

**Loop driver.** :func:`iterate` runs every iterative algorithm
(PageRank, HITS, BFS closures, label propagation, peels, Louvain,
connected components, temporal relaxation, the OWL fixpoint) and owns
the decisions each loop used to make for itself:

- the plan cut: a round's state frame references the previous round's,
  so without a cut the logical plan grows every round until rendering
  it exhausts the driver heap; on a cut round the state is
  localCheckpoint-ed (a persisted frame keeps its plan);
- the convergence test, run on cut rounds only;
- release: on every exit, exceptions included, every frame the loop
  held (its cut states, the state it was handed, results of loops run
  inside its step) and every loop-invariant base it was handed is
  released unless the returned state still scans it.

The returned state is a checkpoint and is not registered here:
persisting it would only add an in-memory copy of blocks that are
already materialized (for betweenness that copy also made Spark
broadcast 6-8 MiB task binaries), and evicting the copy would not free
the checkpoint. Its blocks go with the DataFrame, or with
:func:`release`.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame

_LIVE_CACHES: list[DataFrame] = []
_MAX_LIVE_CACHES = 4

# per thread, the frames held by each running iterate(), innermost last:
# a loop run inside another loop's step hands its result to that loop
_OPEN = threading.local()


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


def _scanned_rdds(df: DataFrame) -> list:
    """The RDDs (checkpoints among them) that *df*'s plan scans."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).rdd() for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"]


def release_scanned(df: DataFrame) -> None:
    """Free every checkpoint *df*'s plan scans. Only once nothing reads
    *df* or those checkpoints any more."""
    for rdd in _scanned_rdds(df):
        rdd.unpersist(False)


def release_unread(frames: list[DataFrame],
                   reader: DataFrame | None = None) -> None:
    """:func:`release` each of *frames* except a checkpoint that
    *reader*'s plan still scans."""
    keep = set()
    if reader is not None:
        keep = {rdd.id() for rdd in _scanned_rdds(reader)}
    for df in frames:
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() != "LogicalRDD" or plan.rdd().id() not in keep:
            release(df)


def iterate(state: DataFrame,
            step: Callable[[DataFrame, int], DataFrame],
            rounds: int, *,
            until: Callable[[DataFrame, int], bool] | None = None,
            cut_every: int = 1,
            bases: tuple[DataFrame, ...] = ()) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, i)`` for rounds ``i = 1..rounds``;
    return ``(state, converged)``.

    Every *cut_every*-th round and the last round localCheckpoint the
    new state and then call ``until(state, i)``; a true result ends the
    loop as converged. The loop owns the *state* it is handed and the
    loop-invariant *bases* (materialized frames the step reads, such as
    an edge layout): see the module docstring for what it releases.
    Never sets a job group, so jobs stay attributed to the caller's."""
    loops = _OPEN.__dict__.setdefault("loops", [])
    held = [state]
    loops.append(held)
    converged = False
    try:
        for i in range(1, rounds + 1):
            state = step(state, i)
            if i % cut_every and i < rounds:
                continue
            state = state.localCheckpoint()
            # the cut state scans nothing else, so all held frames are dead
            release_unread(held)
            held[:] = [state]
            if until is not None and until(state, i):
                converged = True
                break
    except BaseException:
        state = None  # nothing is returned: release everything
        raise
    finally:
        loops.pop()
        release_unread(held + list(bases), state)
    if loops:
        loops[-1].append(state)
    return state, converged
