"""Graph analytics (kg/graph.py): degrees + fixed-iteration PageRank.

PageRank is pinned against a NumPy power-iteration twin on a hand graph
(exact same formulation: dangling mass dropped, fixed iterations), and
checked for partition-layout invariance — the distributed result must not
depend on how the edges happen to be split.
"""

from __future__ import annotations

import pytest

from rdf_tabular_spark.kg import graph
from rdf_tabular_spark.kg.annotate import KG


def _import_triples(spark, rows):
    """(file, module) rows -> kg:imports triples of repo "r"."""
    from rdf_tabular_spark import expr as S
    from rdf_tabular_spark.kg.annotate import file_iri, module_iri
    from rdf_tabular_spark.operators.emit import triple, triple_rows

    return triple_rows(
        spark.createDataFrame(rows, "f string, m string"),
        triple(file_iri(S.lit("r"), S.col("f")), KG + "imports",
               module_iri(S.col("m")), is_iri=True))


def _triples(spark, edges, extra=()):
    rows = [
        (s, KG + p, o, True, None, None) for s, p, o in edges
    ] + list(extra)
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, obj_lang string",
    )


EDGES = [
    ("f:a", "imports", "m:x"),
    ("f:a", "imports", "m:y"),
    ("f:b", "dependsOn", "m:x"),
    ("f:c", "defines", "s:c1"),
    ("s:c1", "imports", "m:y"),  # chain: symbol node with in+out edges
]


def test_degrees(spark):
    t = _triples(
        spark, EDGES,
        extra=[("f:a", KG + "path", "a.py", False, None, None),
               ("f:a", KG + "related", "m:z", True, None, None)],
    )
    got = {r["node"]: (r["out_degree"], r["in_degree"])
           for r in graph.degrees(t).collect()}
    # literal facts and non-dependency predicates contribute nothing:
    # m:z never appears
    assert got == {
        "f:a": (2, 0), "f:b": (1, 0), "f:c": (1, 0),
        "m:x": (0, 2), "m:y": (0, 2), "s:c1": (1, 1),
    }


def _numpy_pagerank(edges, damping, iterations):
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = {}
    for s, d in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {m: 1.0 / n for m in nodes}
    for _ in range(iterations):
        contrib = {m: 0.0 for m in nodes}
        for s, d in edges:
            contrib[d] += damping * rank[s] / out_deg[s]
        rank = {m: (1.0 - damping) / n + contrib[m] for m in nodes}
    return rank


@pytest.mark.parametrize("iterations", [1, 8])
def test_pagerank_matches_power_iteration(spark, iterations):
    t = _triples(spark, EDGES)
    got = {r["node"]: r["rank"]
           for r in graph.pagerank(t, iterations=iterations).collect()}
    want = _numpy_pagerank(
        [(s, o) for s, _, o in EDGES], 0.85, iterations)
    assert set(got) == set(want)
    for node, rk in want.items():
        assert got[node] == pytest.approx(rk, abs=1e-12), node


def test_pagerank_partition_invariance(spark):
    t1 = _triples(spark, EDGES).repartition(1)
    t7 = _triples(spark, EDGES).repartition(7)
    r1 = {r["node"]: round(r["rank"], 9)
          for r in graph.pagerank(t1).collect()}
    r7 = {r["node"]: round(r["rank"], 9)
          for r in graph.pagerank(t7).collect()}
    assert r1 == r7


def test_pagerank_empty_graph(spark):
    t = _triples(spark, [])
    assert graph.pagerank(t).count() == 0


def test_components(spark):
    # two weak components: {f:a, f:b, m:x, m:y, f:c, s:c1} is ONE because
    # s:c1 imports m:y bridges the defines subgraph — so drop that edge
    edges = [e for e in EDGES if e[0] != "s:c1"]
    t = _triples(spark, edges)
    got = {r["node"]: r["component"]
           for r in graph.components(t).collect()}
    assert got == {
        "f:a": "f:a", "f:b": "f:a", "m:x": "f:a", "m:y": "f:a",
        "f:c": "f:c", "s:c1": "f:c",
    }


def test_module_affinity(spark):
    edges = [
        ("f:a", "imports", "m:x"),
        ("f:a", "imports", "m:y"),
        ("f:b", "imports", "m:x"),
        ("f:b", "imports", "m:y"),
        ("f:c", "dependsOn", "m:x"),
        ("f:c", "defines", "s:c1"),  # defines never contributes
    ]
    t = _triples(spark, edges)
    rows = {(r["mod_a"], r["mod_b"]): (r["co_files"], r["jaccard"])
            for r in graph.module_affinity(t, min_files=2).collect()}
    # m:x in 3 files, m:y in 2, together in 2 -> jaccard 2/(3+2-2)
    assert rows == {("m:x", "m:y"): (2, round(2 / 3, 6))}


# ---------------------------------------------------------------- reachability

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_reachability_chain_min_hops(spark):
    from rdf_tabular_spark.kg.graph import reachability

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {(r.src, r.dst): r.hops for r in reachability(e, max_hops=6).collect()}
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1,
        ("a", "c"): 2, ("b", "d"): 2, ("a", "d"): 3,
    }


def test_reachability_max_hops_bound(spark):
    from rdf_tabular_spark.kg.graph import reachability

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {(r.src, r.dst): r.hops for r in reachability(e, max_hops=2).collect()}
    assert ("a", "d") not in got and got[("a", "c")] == 2


def test_reachability_diamond_keeps_shortest(spark):
    from rdf_tabular_spark.kg.graph import reachability

    # a->d both directly and through b->c: hops must be the min (1)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")])
    got = {(r.src, r.dst): r.hops for r in reachability(e, max_hops=6).collect()}
    assert got[("a", "d")] == 1 and got[("a", "c")] == 2


def test_reachability_cycle_terminates(spark):
    from rdf_tabular_spark.kg.graph import reachability

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    rows = reachability(e, max_hops=10).collect()
    got = {(r.src, r.dst): r.hops for r in rows}
    # every ordered pair (incl. self via the cycle) exactly once
    assert len(rows) == 9
    assert got[("a", "a")] == 3 and got[("a", "c")] == 2


# ------------------------------------------------------------- dedup clusters

def test_dedup_clusters_transitive_and_singletons(spark):
    from rdf_tabular_spark.ops.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [("d1",), ("d2",), ("d3",), ("d4",), ("d5",)], "doc_id string")
    pairs = spark.createDataFrame(
        [("d2", "d3"), ("d3", "d4")], "a string, b string")
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in dedup_clusters(docs, pairs).collect()}
    # d2-d3-d4 collapse transitively onto the min id d2
    assert rows["d2"] == ("d2", True)
    assert rows["d3"] == ("d2", False)
    assert rows["d4"] == ("d2", False)
    # untouched docs are their own canonical
    assert rows["d1"] == ("d1", True) and rows["d5"] == ("d5", True)
    assert sum(1 for c, k in rows.values() if k) == 3


def test_coimport_triangles(spark):
    from rdf_tabular_spark.kg.annotate import KG
    from rdf_tabular_spark.kg.graph import coimport_triangles

    # files f1..f3 all import {a, b, c} -> one triangle (each pair in 3
    # files); f4 imports {a, d} only -> (a, d) pair never reaches
    # min_files=2, no second triangle
    rows = []
    for f, mods in [("f1", "abc"), ("f2", "abc"), ("f3", "abc"),
                    ("f4", "ad")]:
        for m in mods:
            rows.append((f, KG + "imports", f"mod:{m}", True))
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean")
    got = [(r.a, r.b, r.c) for r in coimport_triangles(t).collect()]
    assert got == [("mod:a", "mod:b", "mod:c")]
    # the degree-oriented plan must produce the identical triangle set
    oriented = [(r.a, r.b, r.c)
                for r in coimport_triangles(t, orient=True).collect()]
    assert oriented == got


def test_orient_by_degree_bounds_hub_fanout(spark):
    """Degree orientation on a hub graph: every hub edge points INTO the
    hub (leaves have lower degree), so the hub's out-degree is 0 — the
    wedge join never fans out on the hot key. Triangle sets of the two
    plans still agree."""
    from rdf_tabular_spark.kg.graph import _oriented_triangles, orient_by_degree

    # hub h connected to 12 leaves; leaves chained pairwise so some
    # triangles exist: (h, l0, l1), (h, l2, l3), ...
    edges = [("h", f"l{i}") for i in range(12)]
    edges += [(f"l{2 * i}", f"l{2 * i + 1}") for i in range(6)]
    pairs = spark.createDataFrame(edges, "mod_a string, mod_b string")

    from pyspark.sql import functions as F

    o = orient_by_degree(pairs)
    out_deg = {r.s: r.n for r in
               o.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert "h" not in out_deg  # hub emits no wedges
    assert max(out_deg.values()) <= 2  # leaves: at most (chain + hub)

    tris = sorted((r.a, r.b, r.c)
                  for r in _oriented_triangles(pairs).collect())
    want = sorted(tuple(sorted(("h", f"l{2*i}", f"l{2*i+1}")))
                  for i in range(6))
    assert tris == want


def test_clustering_coefficient_closed_form(spark):
    from rdf_tabular_spark.kg import graph

    # 4 files all importing {a,b,c} (a triangle) and one of them also d:
    # d has degree 3 but closes no triangle beyond a-b-c... build edges
    # so a,b,c form K3 (cc=1) and d attaches to a,b only (cc(d)=1: its
    # two neighbors a,b are connected)
    rows = []
    for f in ("f1", "f2"):
        for m in ("a", "b", "c"):
            rows.append((f, m))
    for f in ("f3", "f4"):
        for m in ("a", "b", "d"):
            rows.append((f, m))
    df = _import_triples(spark, rows)
    got = {r.node.rsplit("/", 1)[-1]: (r.degree, r.triangles, r.clustering)
           for r in graph.clustering_coefficient(df, min_files=2).collect()}
    # a,b: degree 3 (b/c/d resp a/c/d), 2 triangles (abc, abd)
    assert got["a"] == (3, 2, round(2 * 2 / (3 * 2), 6))
    assert got["b"] == (3, 2, round(2 * 2 / (3 * 2), 6))
    # c: neighbors a,b which are connected -> cc 1
    assert got["c"] == (2, 1, 1.0)
    assert got["d"] == (2, 1, 1.0)


def test_clustering_oriented_equals_plain(spark):
    from rdf_tabular_spark.kg import graph

    src = __import__("rdf_tabular_spark.kg.synth", fromlist=["synth"])
    table = src.synth_source_table(spark, 300)
    from rdf_tabular_spark.kg.pipeline import build_kg
    triples = build_kg(table)["triples"]
    a = sorted(map(tuple, graph.clustering_coefficient(
        triples, orient=True).collect()))
    b = sorted(map(tuple, graph.clustering_coefficient(
        triples, orient=False).collect()))
    assert a == b and len(a) > 0


def test_kcore_peels_tail(spark):
    from rdf_tabular_spark.kg import graph

    # K4 on {a,b,c,d} plus a pendant chain d-e: 2-core = K4 only after
    # peeling e (deg 1) and then re-checking d
    # encode each K4 edge as one file importing both endpoints (2 files
    # per pair so min_files=2 keeps them)
    rows = []
    for i, (x, y) in enumerate(
            [("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
             ("d","e"), ("d","e")] * 1):
        for f in (f"f{i}x", f"f{i}y"):
            rows += [(f, x), (f, y)]
    df = _import_triples(spark, rows)
    got = {r.node.rsplit("/", 1)[-1]: r.core_degree
           for r in graph.kcore(df, k=3, min_files=2).collect()}
    assert set(got) == {"a", "b", "c", "d"}
    assert all(v == 3 for v in got.values())
    # e survives the 1-core
    got1 = {r.node.rsplit("/", 1)[-1]
            for r in graph.kcore(df, k=1, min_files=2).collect()}
    assert got1 == {"a", "b", "c", "d", "e"}


def test_sssp_hops_min_distance_and_scope(spark):
    from rdf_tabular_spark.kg.graph import sssp_hops

    # diamond (a->d direct and via b->c) + a node unreachable from a
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),
                       ("z", "a")])
    got = {r.node: r.hops for r in sssp_hops(e, "a", max_hops=6).collect()}
    assert got == {"a": 0, "b": 1, "d": 1, "c": 2}  # z not reachable FROM a


def test_sssp_hops_cycle_and_bound(spark):
    from rdf_tabular_spark.kg.graph import sssp_hops

    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d")])
    got = {r.node: r.hops for r in sssp_hops(e, "a", max_hops=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d is 3 hops, outside the bound


def test_label_propagation_two_cliques(spark):
    from rdf_tabular_spark.kg.graph import label_propagation

    # two triangles joined by one bridge edge c-d; hand-replayed 5
    # synchronous rounds: {a,b,c} stabilizes on label 'a', {d,e,f} on 'c'
    # (the label is an id, not a member — 'c' migrated over the bridge
    # in round 1 and won the d-side majority)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                       ("d", "e"), ("e", "f"), ("d", "f"),
                       ("c", "d")])
    got = {r.node: r.label for r in label_propagation(e, iterations=5).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "c", "e": "c", "f": "c"}


def test_label_propagation_partition_invariance(spark):
    from rdf_tabular_spark.kg.graph import label_propagation

    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                       ("d", "e"), ("e", "f"), ("d", "f"),
                       ("c", "d")])
    one = {(r.node, r.label)
           for r in label_propagation(e.coalesce(1), iterations=3).collect()}
    many = {(r.node, r.label)
            for r in label_propagation(e.repartition(7), iterations=3).collect()}
    assert one == many


def test_hits_hand_computed(spark):
    # EDGES as a graph (defines counts too): a->x, a->y, b->x, c->c1,
    # c1->y over 6 nodes {a, b, c, c1, x, y}; hub_0 = 1 everywhere.
    # round 1: auth(x)=hub(a)+hub(b)=2, auth(y)=hub(a)+hub(c1)=2,
    #          auth(c1)=hub(c)=1, others 0;
    #          hub(a)=auth(x)+auth(y)=4, hub(b)=auth(x)=2,
    #          hub(c)=auth(c1)=1, hub(c1)=auth(y)=2.
    out = {r.node: (r.hub, r.auth)
           for r in graph.hits(_triples(spark, EDGES), iterations=1)
           .collect()}
    hubs_raw = {"f:a": 4.0, "f:b": 2.0, "f:c": 1.0, "s:c1": 2.0,
                "m:x": 0.0, "m:y": 0.0}
    auth_raw = {"f:a": 0.0, "f:b": 0.0, "f:c": 0.0, "s:c1": 1.0,
                "m:x": 2.0, "m:y": 2.0}
    hs, as_ = sum(hubs_raw.values()), sum(auth_raw.values())
    for n in hubs_raw:
        assert out[n] == (hubs_raw[n] / hs, auth_raw[n] / as_)


def test_hits_partition_invariance(spark):
    t = _triples(spark, EDGES)
    a = sorted(map(tuple, graph.hits(t, iterations=3).collect()))
    b = sorted(map(tuple, graph.hits(t.repartition(7), iterations=3)
                   .collect()))
    assert a == b


def test_hits_rejects_zero_iterations(spark):
    with pytest.raises(ValueError, match="at least one"):
        graph.hits(_triples(spark, EDGES), iterations=0)


def _py_ppr(edges, damping, iterations, seeds):
    nodes = sorted({n for e in edges for n in e})
    out_deg = {}
    for s, d in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    seeds = sorted(set(seeds))
    rank = {m: (1.0 / len(seeds) if m in seeds else 0.0) for m in nodes}
    for _ in range(iterations):
        contrib = {m: 0.0 for m in nodes}
        for s, d in edges:
            contrib[d] += damping * rank[s] / out_deg[s]
        rank = {m: ((1.0 - damping) / len(seeds) if m in seeds else 0.0)
                + contrib[m] for m in nodes}
    return rank


@pytest.mark.parametrize("iterations", [1, 5])
def test_personalized_pagerank_matches_reference(spark, iterations):
    t = _triples(spark, EDGES)
    seeds = ["f:a", "f:c"]
    got = {r["node"]: r["rank"]
           for r in graph.pagerank(t, iterations=iterations,
                                   sources=seeds).collect()}
    want = _py_ppr([(s, o) for s, _, o in EDGES], 0.85, iterations, seeds)
    assert set(got) == set(want)
    for node, rk in want.items():
        assert got[node] == pytest.approx(rk, abs=1e-12), node
    # mass concentrates near the seeds: a non-seed with no path from a
    # seed holds rank 0 exactly
    assert got["f:b"] == 0.0


def test_personalized_pagerank_empty_seeds_rejected(spark):
    with pytest.raises(ValueError, match="source"):
        graph.pagerank(_triples(spark, EDGES), sources=[])


# ----------------------------------------------------- link prediction

def test_predict_links_hand_computed(spark):
    """f1 imports {m1,m2,m3} (deg 3), f2 imports {m1,m2} (deg 2):
    RA(m1,m2) = 1/3 + 1/2, RA(m1,m3) = RA(m2,m3) = 1/3."""
    from rdf_tabular_spark.kg.annotate import KG
    from rdf_tabular_spark.kg.graph import predict_links

    rows = [("e:f1", KG + "imports", m, True, None, None)
            for m in ("m:1", "m:2", "m:3")]
    rows += [("e:f2", KG + "imports", m, True, None, None)
             for m in ("m:1", "m:2")]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, obj_lang string")
    got = {(r["mod_a"], r["mod_b"]): (r["common"], r["ra_micro"])
           for r in predict_links(t).collect()}
    third = (10**12 + 1) // 3  # integer round-half-up of 1e12/3
    half = 10**12 // 2
    assert got == {
        ("m:1", "m:2"): (2, third + half),
        ("m:1", "m:3"): (1, third),
        ("m:2", "m:3"): (1, third),
    }


def test_predict_links_partition_invariant(spark):
    from rdf_tabular_spark.kg.annotate import KG
    from rdf_tabular_spark.kg.graph import predict_links

    rows = [(f"e:f{i}", KG + "imports", f"m:{j}", True, None, None)
            for i in range(20) for j in range(i % 5 + 1)]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, obj_lang string")
    one = sorted(map(tuple, predict_links(t).collect()))
    many = sorted(map(tuple, predict_links(t.repartition(13)).collect()))
    assert one == many and one


def _coimport_df(spark, edges):

    rows = []
    for i, (x, y) in enumerate(edges):
        for f in (f"f{i}x", f"f{i}y"):
            rows += [(f, x), (f, y)]
    return _import_triples(spark, rows)


def test_ktruss_tighter_than_kcore(spark):
    from rdf_tabular_spark.kg import graph

    # K4 {a,b,c,d} + triangle {d,e,f} + pendant f-g:
    # 3-core: NOTHING outside K4 (e,f have degree 2) — but the
    # 3-TRUSS keeps every triangle edge, incl. the d-e-f triangle;
    # the 4-truss is exactly K4; the pendant edge dies in both.
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
             ("b", "d"), ("c", "d"),
             ("d", "e"), ("d", "f"), ("e", "f"), ("f", "g")]
    df = _coimport_df(spark, edges)

    def norm(rows):
        return {(r.mod_a.rsplit("/", 1)[-1], r.mod_b.rsplit("/", 1)[-1],
                 r.support) for r in rows}

    t3 = norm(graph.ktruss(df, k=3, min_files=2).collect())
    t3_edges = {(a, b) for a, b, _ in t3}
    assert ("f", "g") not in t3_edges and ("g", "f") not in t3_edges
    assert len(t3_edges) == 9   # all triangle edges survive
    # the shared d-e / d-f / e-f edges close exactly 1 triangle
    assert ("d", "e", 1) in t3 or ("e", "d", 1) in t3

    t4 = norm(graph.ktruss(df, k=4, min_files=2).collect())
    assert {(a, b) for a, b, _ in t4} == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d")}
    assert all(s == 2 for _, _, s in t4)  # every K4 edge: 2 triangles

    # k-core comparison: the 3-core drops e and f entirely
    core3 = {r.node.rsplit("/", 1)[-1]
             for r in graph.kcore(df, k=3, min_files=2).collect()}
    assert core3 == {"a", "b", "c", "d"}


def test_ktruss_cascade(spark):
    from rdf_tabular_spark.kg import graph

    # two triangles glued on an edge {b,c}: 4-truss must peel BOTH
    # (removing either apex edge drops {b,c} support below 2 in the
    # induced subgraph — a cascade the one-shot support filter misses)
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")]
    df = _coimport_df(spark, edges)
    assert graph.ktruss(df, k=4, min_files=2).count() == 0
    t3 = graph.ktruss(df, k=3, min_files=2)
    assert t3.count() == 5      # every edge closes >= 1 triangle
