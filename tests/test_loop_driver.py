"""The loop driver (caching.iterate) and the algorithms that run on it.

Every ported algorithm leaves persisted, after a call plus
``release_caches()``, exactly the checkpoints its result scans; a
failure injected mid-loop leaves nothing persisted; and the plan is cut
every round, so deep closures stay inside the driver heap."""

from __future__ import annotations

import datetime as dt
from collections import deque

import pytest
from pyspark.sql import functions as F

from rdf_tabular_spark import caching
from rdf_tabular_spark.kg.annotate import KG

CHAIN = [f"n{i:02d}" for i in range(6)]
CHAIN_EDGES = list(zip(CHAIN, CHAIN[1:]))
TRIPLE_SCHEMA = ("subj string, pred string, obj string, obj_is_iri boolean, "
                 "obj_datatype string, obj_lang string")


def _edges(spark, pairs=CHAIN_EDGES):
    return spark.createDataFrame(pairs, "src string, dst string")


def _triples(spark, pairs=CHAIN_EDGES, pred=KG + "imports"):
    return spark.createDataFrame(
        [(s, pred, o, True, None, None) for s, o in pairs], TRIPLE_SCHEMA)


def _coimport(spark, pairs):
    """Two files per pair, each importing both endpoints, so every pair
    co-occurs in min_files=2 files."""
    rows = []
    for i, (x, y) in enumerate(pairs):
        for f in (f"f{i}x", f"f{i}y"):
            rows += [(f, KG + "imports", x, True, None, None),
                     (f, KG + "imports", y, True, None, None)]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def _timed(spark):
    return spark.createDataFrame(
        [(a, b, dt.datetime(2024, 1, 1, i)) for i, (a, b)
         in enumerate(CHAIN_EDGES)], "src string, dst string, ts timestamp")


def _nodes(spark, names):
    return spark.createDataFrame([(n,) for n in names], "node string")


def _pagerank_edges(spark):
    from rdf_tabular_spark.kg import graph
    return graph.pagerank_edges(_edges(spark), iterations=3)


def _hits(spark):
    from rdf_tabular_spark.kg import graph
    return graph.hits(_triples(spark), iterations=2)


def _reachability(spark):
    from rdf_tabular_spark.kg import graph
    return graph.reachability(_edges(spark), max_hops=6)


def _sssp_hops(spark):
    from rdf_tabular_spark.kg import graph
    return graph.sssp_hops(_edges(spark), "n00", max_hops=6)


def _label_propagation(spark):
    from rdf_tabular_spark.kg import graph
    return graph.label_propagation(_edges(spark), iterations=3)


def _kcore(spark):
    # a triangle with a 2-edge tail: the 2-core peel takes two rounds
    from rdf_tabular_spark.kg import graph
    return graph.kcore(_coimport(spark, [("a", "b"), ("a", "c"), ("b", "c"),
                                         ("c", "d"), ("d", "e")]),
                       k=2, min_files=2)


def _ktruss(spark):
    # two triangles glued on {b, c}: the 4-truss peel cascades
    from rdf_tabular_spark.kg import graph
    return graph.ktruss(_coimport(spark, [("a", "b"), ("a", "c"), ("b", "c"),
                                          ("b", "d"), ("c", "d")]),
                        k=4, min_files=2)


def _betweenness(spark):
    from rdf_tabular_spark.kg import graph
    return graph.betweenness(_edges(spark), k_sources=2, max_hops=3)


def _modularity_refine(spark):
    from rdf_tabular_spark.kg import graph
    return graph.modularity_refine(_edges(spark), rounds=3)


def _weighted_sssp(spark):
    from rdf_tabular_spark.kg import graph
    wedges = spark.createDataFrame(
        [(a, b, 2) for a, b in CHAIN_EDGES] + [("n00", "n03", 9)],
        "src string, dst string, w long")
    return graph.weighted_sssp(wedges, "n00", max_hops=6)


def _louvain(spark):
    from rdf_tabular_spark.kg import graph
    return graph.louvain(_edges(spark), levels=2, rounds=3)


def _components(spark):
    from rdf_tabular_spark.kg import graph
    return graph.components(_triples(spark), max_iter=6)


def _eccentricity_probe(spark):
    # not a loop of its own: two sssp_hops runs over one checkpoint
    from rdf_tabular_spark.kg import graph
    return graph.eccentricity_probe(_edges(spark), max_hops=6)


def _connected_components(spark):
    from rdf_tabular_spark.kg import link
    mentions = spark.createDataFrame([(n,) for n in CHAIN], "mention string")
    pairs = spark.createDataFrame(CHAIN_EDGES, "a string, b string")
    return link.connected_components(mentions, pairs, max_iter=6)


def _earliest_arrival(spark):
    from rdf_tabular_spark.ops.temporal import earliest_arrival
    return earliest_arrival(_timed(spark), _nodes(spark, ["n00"]))


def _latest_departure(spark):
    from rdf_tabular_spark.ops.temporal import latest_departure
    return latest_departure(_timed(spark), _nodes(spark, ["n05"]))


def _owl_closure(spark):
    from rdf_tabular_spark.kg.owl import owl_property_materialize
    return owl_property_materialize(_triples(spark, pred="e:dep"),
                                    transitive=["e:dep"])


#: ported function -> (call, which iterate() call of it fails at round 2)
CASES = {
    "pagerank_edges": (_pagerank_edges, 1),
    "hits": (_hits, 1),
    "reachability": (_reachability, 1),
    "sssp_hops": (_sssp_hops, 1),
    "label_propagation": (_label_propagation, 1),
    "kcore": (_kcore, 1),
    "ktruss": (_ktruss, 1),
    "betweenness": (_betweenness, 1),
    "betweenness_backward": (_betweenness, 2),
    "modularity_refine": (_modularity_refine, 1),
    "weighted_sssp": (_weighted_sssp, 1),
    # the third call is the refinement nested in the first level step
    "louvain": (_louvain, 3),
    "components": (_components, 1),
    "connected_components": (_connected_components, 1),
    "eccentricity_probe": (_eccentricity_probe, 1),
    "earliest_arrival": (_earliest_arrival, 1),
    "latest_departure": (_latest_departure, 1),
    "owl_closure": (_owl_closure, 1),
}


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _checkpoints(df) -> set:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).rdd().id() for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"
            and leaves.apply(i).rdd().isCheckpointed()}


@pytest.mark.parametrize("name", sorted(CASES))
def test_loop_releases_its_frames(spark, monkeypatch, name):
    call, nth = CASES[name]
    caching.release_caches()
    before = _persisted(spark)
    out = call(spark)
    out.collect()
    caching.release_caches()
    assert _persisted(spark) - before == _checkpoints(out)

    real = caching.iterate
    calls = []

    def failing(state, step, rounds, **kw):
        calls.append(rounds)

        def step_failing_at_2(s, i, fail=len(calls) == nth):
            if fail and i == 2:
                raise RuntimeError("injected")
            return step(s, i)
        return real(state, step_failing_at_2, rounds, **kw)

    monkeypatch.setattr(caching, "iterate", failing)
    kept = _persisted(spark)
    with pytest.raises(RuntimeError, match="injected"):
        call(spark)
    monkeypatch.undo()
    caching.release_caches()
    assert not _persisted(spark) - kept


def test_iterate_converges_and_cuts(spark):
    """``until`` runs on cut rounds only; the state a converged loop
    returns is the cut of its last round."""
    seen = []

    def step(df, i):
        return df.select((F.col("v") + 1).alias("v"))

    def until(df, i):
        seen.append(i)
        return df.first().v >= 6

    out, converged = caching.iterate(spark.range(1).select(
        F.lit(0).alias("v")), step, 10, until=until, cut_every=3)
    assert converged and seen == [3, 6] and out.first().v == 6
    assert len(_checkpoints(out)) == 1
    out, converged = caching.iterate(out, step, 2, until=lambda d, i: False,
                                     cut_every=3)
    assert not converged and out.first().v == 8
    caching.release(out)


# 14-node path plus chords; rounds of an uncut closure grow the plan
# until the driver heap runs out (it did at max_hops 6 on a 1 GB heap)
PATH14 = [f"n{i:02d}" for i in range(14)]
CHORDS = list(zip(PATH14, PATH14[1:])) + [
    ("n00", "n05"), ("n03", "n09"), ("n09", "n00")]


def _bfs_hops(pairs, max_hops):
    """{(src, dst): fewest edges} for paths of at most *max_hops* edges."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    out = {}
    for s in adj:
        seen, q = {s: 0}, deque([s])
        while q:
            u = q.popleft()
            if seen[u] == max_hops:
                continue
            for v in adj.get(u, ()):
                out.setdefault((s, v), seen[u] + 1)
                if v not in seen:
                    seen[v] = seen[u] + 1
                    q.append(v)
    return out


@pytest.mark.parametrize("max_hops,n_pairs", [(6, 126), (10, 146)])
def test_reachability_deep_closure_matches_bfs(spark, max_hops, n_pairs):
    from rdf_tabular_spark.kg import graph

    got = {(r.src, r.dst): r.hops for r in graph.reachability(
        _edges(spark, CHORDS), max_hops=max_hops).collect()}
    want = _bfs_hops(CHORDS, max_hops)
    assert len(want) == n_pairs
    assert got == want


def test_path_closure_over_a_chain(spark):
    """``sub+`` over a 10-node chain at the default path bound: every
    ordered pair along the chain, 9+8+...+1 = 45 rows."""
    from rdf_tabular_spark.kg.query import match_bgp

    chain = [f"c{i}" for i in range(10)]
    rows = match_bgp(_triples(spark, list(zip(chain, chain[1:])), "sub"),
                     [("?a", "sub+", "?b")]).collect()
    assert len(rows) == 45
    assert {(r["a"], r["b"]) for r in rows} == {
        (chain[i], chain[j]) for i in range(10) for j in range(i + 1, 10)}
