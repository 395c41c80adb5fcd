"""Temporal-graph reachability: earliest-arrival over time-respecting
paths (Wu et al., VLDB'14 "Path Problems in Temporal Graphs") — the
contact-tracing / influence-propagation primitive: u reaches v only
through edges whose timestamps never decrease along the path.

Spark-first shape — label-correcting relaxation, the temporal analog
of kg/graph.py's semi-naive BFS:

- state = best-known ``(node, arrive)`` earliest arrival;
- per round, ONE equi-join of the state against the edge list on the
  source endpoint with the time-respecting filter ``ts >= arrive``,
  then a min-aggregation merged into the state; only IMPROVED rows
  re-enter the frontier, so per-round work tracks the wavefront, not
  the graph;
- arrival times are data values (timestamps), so the fixpoint is a
  pure min — deterministic under any partitioning and engine;
- ``max_hops`` bounds the rounds (and is part of the operator's
  declared semantics: "earliest arrival via ≤ max_hops hops"), the
  same pinned-round convention as the kcore/ktruss twins.

At 10^12 edges the edge list is hash-partitioned on ``src`` once and
every round reuses that layout; the state is |reachable nodes| —
frontier-sized joins, no global windows, no driver data loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import caching
from ..kg.graph import merge_improved

__all__ = ["earliest_arrival", "latest_departure"]


def earliest_arrival(edges: DataFrame, sources: DataFrame, *,
                     max_hops: int = 4,
                     start_ts: str = "1900-01-01") -> DataFrame:
    """``(node, arrive)`` — earliest time each node can be reached from
    any source along a time-respecting path of ≤ *max_hops* edges.

    *edges* has columns ``(src, dst, ts)``; a path may take an edge
    only at ``ts >= `` its arrival at the edge's source. *sources*
    has column ``node``; sources start at ``start_ts`` (i.e. they may
    take any edge), and their own ``arrive`` in the output is
    ``start_ts``."""
    return _relax(edges, sources, max_hops, start_ts, forward=True)


def latest_departure(edges: DataFrame, targets: DataFrame, *,
                     max_hops: int = 4,
                     deadline_ts: str = "2100-01-01") -> DataFrame:
    """``(node, depart)`` — the LATEST time one can leave each node and
    still reach a target along a time-respecting path of ≤ *max_hops*
    edges (Wu et al.'s latest-departure problem, the exact mirror of
    :func:`earliest_arrival`): relax backward with a MAX aggregation,
    taking edge ``(u, v, ts)`` only when ``ts <=`` v's known latest
    departure (you must still make the rest of the journey after
    arriving). Targets start at *deadline_ts*.

    Same shape as the forward problem: dst-keyed edge layout reused
    every round, one equi-join + max-agg, improved-rows-only frontier,
    pure max-of-timestamps fixpoint."""
    return _relax(edges, targets, max_hops, deadline_ts, forward=False)


def _relax(edges: DataFrame, seeds: DataFrame, max_hops: int, seed_ts: str,
           forward: bool) -> DataFrame:
    """Both directions of the label-correcting relaxation: the state is
    ``(node, <time>, improved)``, seeded at *seed_ts*; each round relaxes
    the improved rows across the edge layout and merges the candidates
    with :func:`kg.graph.merge_improved`."""
    near, far, col, agg, better = (
        ("src", "dst", "arrive", F.min, F.least) if forward
        else ("dst", "src", "depart", F.max, F.greatest))
    e = (edges.select("src", "dst", "ts").distinct()
         .repartition(near).localCheckpoint(eager=False))
    # a path takes an edge only at or after its arrival at the edge's
    # source (forward), or at or before the departure it must still make
    # at the edge's destination (backward)
    usable = (F.col("ts") >= F.col(col)) if forward \
        else (F.col("ts") <= F.col(col))

    def step(best: DataFrame, _: int) -> DataFrame:
        reached = (
            best.filter("improved").join(e, F.col("node") == e[near])
            .filter(usable)
            .groupBy(F.col(far).alias("node"))
            .agg(agg("ts").alias("cand")))
        return merge_improved(best, reached, col, better)

    start = seeds.select("node").distinct().select(
        "node", F.lit(seed_ts).cast("timestamp").alias(col),
        F.lit(True).alias("improved"))
    best, _ = caching.iterate(
        start, step, max_hops,
        until=lambda b, _: b.filter("improved").isEmpty(), bases=(e,))
    return best.select("node", col)
