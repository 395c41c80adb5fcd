"""Graph analytics over the assembled triple table: degrees, centrality
(PageRank, HITS, betweenness), reachability and shortest paths,
communities (components, label propagation, modularity, Louvain),
cohesive cores (k-core, k-truss, triangles) and link prediction.

The reference's product is a static triple set; these rollups answer the
questions a KG consumer asks next ("which modules is everything pulling
in?", "which files are hubs?") without leaving the DataFrame layer.

Scale design (10^12-file graph):

- ``edge_list`` projects the triple table down to two string columns
  before anything shuffles; the filter on ``pred`` is a pushable
  IsIn over a low-cardinality column.
- ``degrees`` is two partial+final hash aggregations and one
  shuffle-on-node full-outer merge — no windows, no sorts.
- Every iterative algorithm runs its rounds through
  :func:`rdf_tabular_spark.caching.iterate`, which cuts the plan
  (localCheckpoint of the round's state), runs the convergence probe
  and releases the loop's frames and loop-invariant bases on every
  exit. The functions here only say what one round computes and what
  the loop reads unchanged (an edge layout, an adjacency).
- ``pagerank`` keeps the edge list partitioned on ``src`` once
  (``repartition(src)`` + localCheckpoint) so every iteration's
  contributions join reuses the same layout; per-iteration state is the
  narrow (node, rank) table. Dangling mass is dropped, matching the
  classic formulation rank = (1-d)/N + d * sum(in_contrib); that keeps
  each iteration a single agg + left join, with no global re-sum of
  dangling nodes (at 10^12 nodes an extra global scalar per iteration
  is a driver barrier we don't need for link-analysis ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import caching
from .annotate import KG

#: predicates that constitute the dependency graph's edges
EDGE_PREDICATES = (KG + "imports", KG + "dependsOn", KG + "defines")
#: file -> module edges only (no symbol definitions)
MODULE_PREDICATES = (KG + "imports", KG + "dependsOn")


def _require_exact_int64(df: DataFrame, op: str) -> None:
    """Overflow must fail LOUDLY, never wrap (ADVICE r4): the exact-
    integer formulations here (modularity's 4m·e_c, assortativity's
    S1², weighted SSSP's path sums) can exceed int64 at the 10^12-edge
    scale their docstrings target. Under Spark 4's default ANSI mode
    every long overflow raises ARITHMETIC_OVERFLOW, which is exactly
    the contract we want; a deployment that disabled ANSI would get
    silent wraparound — wrong exact-integer results — so refuse to run
    there. Escape hatch for such clusters: re-enable ANSI for the job,
    or pre-scale weights/degrees so the documented bound (see each
    docstring) holds."""
    if df.sparkSession.conf.get(
            "spark.sql.ansi.enabled", "true").lower() != "true":
        raise RuntimeError(
            f"{op} computes exact int64 arithmetic and relies on ANSI "
            "overflow checking (spark.sql.ansi.enabled=true, the Spark "
            "4 default); with ANSI off an overflow would wrap silently "
            "and corrupt the exact-integer result. Enable ANSI for "
            "this job.")


def edge_list(triples: DataFrame,
              predicates: tuple[str, ...] = EDGE_PREDICATES) -> DataFrame:
    """Triple table -> (src, dst) edge list over the dependency predicates.

    Object-position IRIs only (``obj_is_iri``), so literal facts
    (kg:path, kg:sha256, ...) never enter the graph.
    """
    return (
        triples
        .filter(F.col("pred").isin(*predicates) & F.col("obj_is_iri"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )


def _nodes(edges: DataFrame, name: str = "node") -> DataFrame:
    """The distinct endpoints of a ``(src, dst)`` edge list, as *name*."""
    return (edges.select(F.col("src").alias(name))
            .union(edges.select(F.col("dst").alias(name)))
            .distinct())


def _undirected(edges: DataFrame, self_loops: bool) -> DataFrame:
    """Both directions of every edge as distinct ``(src, dst)`` string
    pairs; self-loops kept only with *self_loops*."""
    s, d = F.col("src").cast("string"), F.col("dst").cast("string")
    both = edges.select(s.alias("src"), d.alias("dst")).unionByName(
        edges.select(d.alias("src"), s.alias("dst")))
    if not self_loops:
        both = both.filter(F.col("src") != F.col("dst"))
    return both.distinct()


def _simple_pairs(edges: DataFrame) -> DataFrame:
    """The undirected simple graph: one ``(a, b)`` string row per edge
    with ``a < b``; duplicates and self-loops drop."""
    s, d = F.col("src").cast("string"), F.col("dst").cast("string")
    return (edges.select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _weighted_pairs(edges: DataFrame, weight_col: str | None) -> DataFrame:
    """``(a, b, w)`` with ``a <= b``: with *weight_col* None the simple
    graph at weight 1 (self-loops drop: meaningless in simple-graph
    semantics); otherwise the weights summed per unordered pair,
    self-loops kept (graph contraction produces them)."""
    if weight_col is None:
        return _simple_pairs(edges).withColumn("w", F.lit(1).cast("long"))
    s, d = F.col("src").cast("string"), F.col("dst").cast("string")
    return (edges.select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"),
                         F.col(weight_col).cast("long").alias("w"))
            .groupBy("a", "b").agg(F.sum("w").alias("w")))


def degrees(triples: DataFrame,
            predicates: tuple[str, ...] = EDGE_PREDICATES) -> DataFrame:
    """Per-node out/in degree over the dependency edges.

    Two hash aggs (map-side partial combine is free from Catalyst) and a
    full-outer merge on the node id. Distinct-edge semantics are
    inherited from the triple table (a graph is a set — SURVEY §2.5 A3),
    so no extra dedup pass is needed here.
    """
    edges = edge_list(triples, predicates)
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_degree"))
    in_deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_degree"))
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def components(triples: DataFrame, max_iter: int = 10,
               predicates: tuple[str, ...] = EDGE_PREDICATES) -> DataFrame:
    """Weakly-connected components: (node, component) with the component
    id = the lexicographic-min node IRI in it.

    Reuses link.connected_components' min-label propagation (the entity
    linker's clustering core) over the undirected dependency edge list.
    Early convergence exit is safe for oracle comparison: once converged,
    further steps are identity, so a fixed-step SQL twin that runs all
    ``max_iter`` steps lands on the same labels. The edge list is
    localCheckpoint-ed first, so the propagation rounds read the
    upstream plan once instead of carrying it, and released once the
    labels are cut.
    """
    from .link import connected_components

    edges = edge_list(triples, predicates).localCheckpoint()
    pairs = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    labels = None
    try:
        labels = connected_components(_nodes(edges, "mention"), pairs,
                                      max_iter=max_iter)
    finally:
        caching.release_unread([edges], labels)
    return labels.select(F.col("mention").alias("node"),
                         F.col("canonical").alias("component"))


def coimport_pairs(triples: DataFrame, min_files: int = 2,
                   predicates: tuple[str, ...] = MODULE_PREDICATES):
    """(cached distinct edge list, co-import pair counts): the shared
    front half of module_affinity and coimport_triangles — triangles
    don't need the degree joins or Jaccard, so they shouldn't pay for
    them (review r2)."""
    from ..caching import cache_bounded as _cache

    # referenced multiple times (both self-join sides + degree lookups):
    # persist once through the bounded cache registry or the triple table
    # is scanned and re-deduped per branch (.explain confirmed)
    mods = _cache(edge_list(triples, predicates).distinct())
    a, b = mods.alias("a"), mods.alias("b")
    pairs = (
        a.join(b, (F.col("a.src") == F.col("b.src"))
               & (F.col("a.dst") < F.col("b.dst")))
        .groupBy(F.col("a.dst").alias("mod_a"), F.col("b.dst").alias("mod_b"))
        .agg(F.count("*").alias("co_files"))
        .filter(F.col("co_files") >= min_files)
    )
    return mods, pairs


def module_affinity(triples: DataFrame, min_files: int = 2,
                    predicates: tuple[str, ...] = MODULE_PREDICATES) -> DataFrame:
    """Module co-occurrence: pairs of modules imported by the same file,
    with the co-file count and Jaccard affinity co / (d1 + d2 - co).

    The self-join is keyed on the FILE, so hot modules don't blow up the
    join — per-file fan-out is bounded by imports-per-file squared (tens,
    not millions), and a monster generated file can be capped upstream by
    filtering on per-file edge count. The affinity join against the two
    degree sides broadcasts naturally (distinct modules << edges).
    """
    mods, pairs = coimport_pairs(triples, min_files, predicates)
    deg = mods.groupBy(F.col("dst").alias("m")).agg(
        F.count("*").alias("files"))
    da, db = deg.alias("da"), deg.alias("db")
    return (
        pairs
        .join(da, F.col("mod_a") == F.col("da.m"))
        .join(db, F.col("mod_b") == F.col("db.m"))
        .select(
            "mod_a", "mod_b", "co_files",
            F.round(
                F.col("co_files")
                / (F.col("da.files") + F.col("db.files") - F.col("co_files")),
                6,
            ).alias("jaccard"),
        )
    )


def predict_links(triples: DataFrame, min_common: int = 1,
                  predicates: tuple[str, ...] = MODULE_PREDICATES
                  ) -> DataFrame:
    """Link prediction over the co-import graph: for each module pair
    sharing ≥ *min_common* files, the common-neighbor count and the
    Resource-Allocation index (Zhou/Lü/Zhang 2009) — RA(a,b) =
    Σ_{f ∈ Γ(a)∩Γ(b)} 1/deg(f), the ln-free cousin of Adamic-Adar.

    Determinism: the per-file weight is the INTEGER
    ``(10^12 + deg div 2) div deg`` (round-half-up in pure BIGINT
    arithmetic), so the pair score is an exact integer sum — no float
    ln/accumulation-order drift between partitionings or engines;
    ``ra_micro`` is in units of 10^-12. Same scale shape as
    module_affinity: the self-join keys on the FILE (fan-out bounded by
    imports-per-file²), the degree join is file-keyed before pairing so
    the weight rides the pair rows, and the pair agg is one map-side-
    combined hash aggregation."""
    from ..caching import cache_bounded as _cache

    # ONE exchange keys the whole front half: hash(src) satisfies the
    # clustering requirement of the (src,dst) dedup, the deg agg, the
    # deg join AND both self-join sides, so none of them re-shuffle;
    # caching `weighted` makes the two self-join aliases read the same
    # materialization instead of recomputing the lineage per side.
    edges = edge_list(triples, predicates).repartition("src")
    mods = edges.dropDuplicates(["src", "dst"])
    deg = mods.groupBy("src").agg(F.count("*").alias("_d"))
    weighted = _cache(mods.join(deg, "src").select(
        "src", "dst",
        F.expr("(1000000000000L + _d div 2) div _d").alias("_w")))
    a, b = weighted.alias("a"), weighted.alias("b")
    return (
        a.join(b, (F.col("a.src") == F.col("b.src"))
               & (F.col("a.dst") < F.col("b.dst")))
        .groupBy(F.col("a.dst").alias("mod_a"),
                 F.col("b.dst").alias("mod_b"))
        .agg(F.count("*").alias("common"),
             F.sum(F.col("a._w")).alias("ra_micro"))
        .filter(F.col("common") >= min_common)
    )


def pagerank(triples: DataFrame, damping: float = 0.85,
             iterations: int = 8,
             predicates: tuple[str, ...] = EDGE_PREDICATES,
             sources: list[str] | None = None) -> DataFrame:
    """Fixed-iteration PageRank over the dependency edge list.

    rank_{t+1}(n) = (1-d)/N + d * sum_{m -> n} rank_t(m) / out_deg(m)

    With *sources* (personalized PageRank, Page et al. 1999 §6 /
    Jeh & Widom 2003): the teleport vector concentrates on the seed set
    instead of being uniform — base = (1-d)/|S| on seeds, 0 elsewhere,
    initial rank likewise — so ranks measure proximity TO the seeds
    along dependency edges. The seed list is driver-sized (a handful of
    IRIs), applied as a literal ``isin`` predicate: no extra join, the
    loop's shape and cost are identical to the global variant.

    Deterministic given the input (modulo float summation order, which
    callers canonicalize away by rounding — see the contract query).
    Fixed ``iterations`` rather than convergence-tested so the job has a
    statically known number of stages (resume/lineage friendly) and so a
    plain unrolled-SQL twin can replicate it exactly.
    """
    return pagerank_edges(edge_list(triples, predicates),
                          damping=damping, iterations=iterations,
                          sources=sources)


def pagerank_edges(edges: DataFrame, damping: float = 0.85,
                   iterations: int = 8,
                   sources: list | None = None) -> DataFrame:
    """:func:`pagerank` over a prebuilt ``(src, dst)`` edge list — the
    entry point for DICTIONARY-ENCODED graphs (kg/termdict.py), where
    nodes are int64 term ids and the iteration's shuffles move 8-byte
    keys instead of IRI strings. Node column type follows the input."""
    # localCheckpoint (eager), NOT persist: every round re-references
    # these bases, and a persisted DataFrame still carries its full
    # logical plan — over an upstream as deep as the KG pipeline each
    # round would re-render it. Checkpointing flattens them to a
    # LogicalRDD. (On a real cluster prefer reliable .checkpoint() to a
    # checkpoint dir — localCheckpoint blocks die with their executor.)
    nodes = _nodes(edges).localCheckpoint()
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_degree"))
    # weight each edge once, up front: contribution factor = d / out_deg(src).
    # partitioned on src so every iteration's ranks join lands on the same
    # layout; checkpointed once, reused `iterations` times.
    weighted = (
        edges.join(out_deg, "src")
        .select("src", "dst",
                (F.lit(damping) / F.col("out_degree")).alias("w"))
        .repartition("src")
        .localCheckpoint()
    )
    if sources is None:
        base_col = F.lit((1.0 - damping) / n_nodes)
        init_col = F.lit(1.0 / n_nodes)
    else:
        if not sources:
            raise ValueError("personalized pagerank needs >= 1 source")
        seeds = sorted(set(sources))
        base_col = F.when(F.col("node").isin(seeds),
                          F.lit((1.0 - damping) / len(seeds))) \
            .otherwise(F.lit(0.0))
        init_col = F.when(F.col("node").isin(seeds),
                          F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = (
            weighted.join(ranks, weighted.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        return nodes.join(contribs, nodes.node == contribs.dst, "left").select(
            "node", (base_col + F.coalesce("contrib", F.lit(0.0))).alias("rank"))

    ranks, _ = caching.iterate(nodes.select("node", init_col.alias("rank")),
                               step, iterations, bases=(nodes, weighted))
    return ranks


def hits(triples: DataFrame, iterations: int = 3,
         predicates: tuple[str, ...] = EDGE_PREDICATES) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the dependency
    edge list: per round auth(n) = Σ_{m→n} hub(m), then
    hub(n) = Σ_{n→m} auth(n→m's new value).

    Deliberately UNNORMALIZED inside the loop, L1-normalized once at
    the end: with hub_0 = 1 every intermediate score is integer-valued,
    so the sums are EXACT in doubles (below 2^53) regardless of
    partitioning or summation order — bit-identical across runs,
    engines, and cluster sizes, unlike per-round float normalization
    which compounds rounding differently per engine. The classic
    per-round norm only matters for convergence reading; with a fixed
    round count the end-normalized vector is identical up to one exact
    scalar division. Raises if any pre-normalization score leaves the
    exact-integer range (deepen with care: scores grow ~deg^(2T)).

    Scale shape: the state is one (node, hub, auth) table; a round is
    two driver rounds, the auth half then the hub half, each one
    shuffle join + one map-side-combined agg over the EDGE list (the
    checkpointed base) + one left join onto the state, so auth is
    computed once per round. The final normalization is one scalar agg.
    """
    if iterations < 1:
        raise ValueError("hits needs at least one iteration")
    edges = edge_list(triples, predicates).localCheckpoint()

    def half(s: DataFrame, i: int) -> DataFrame:
        # odd driver rounds push hub along edges into auth, even ones
        # pull the new auth back into hub
        src, dst, old, new = (("src", "dst", "hub", "auth") if i % 2
                              else ("dst", "src", "auth", "hub"))
        sums = (edges.join(s, edges[src] == s.node)
                .groupBy(dst).agg(F.sum(old).alias("_s")))
        return s.join(sums, s.node == sums[dst], "left").select(
            "node", old, F.coalesce("_s", F.lit(0.0)).alias(new))

    start = _nodes(edges).select("node", F.lit(1.0).alias("hub"),
                                 F.lit(0.0).alias("auth"))
    scores, _ = caching.iterate(start, half, 2 * iterations, bases=(edges,))
    sums = scores.agg(
        F.sum("hub").alias("hs"), F.sum("auth").alias("as_"),
        F.max(F.greatest("hub", "auth")).alias("mx")).collect()[0]
    if sums.mx is not None and sums.mx >= 2.0 ** 53:
        caching.release(scores)
        raise ValueError(
            f"HITS scores left the exact-integer double range ({sums.mx!r});"
            " reduce iterations")
    hs = sums.hs or 1.0
    austotal = sums.as_ or 1.0
    return scores.select(
        "node", (F.col("hub") / F.lit(hs)).alias("hub"),
        (F.col("auth") / F.lit(austotal)).alias("auth"))


def reachability(edges: DataFrame, max_hops: int = 6) -> DataFrame:
    """Bounded transitive closure: (src, dst, hops) with ``hops`` = the
    MINIMUM number of edges from src to dst, for every pair reachable in
    at most *max_hops* steps. The property-path primitive the BGP layer
    (kg/query.py) lacks — SPARQL's ``pred+`` / ``pred{1,n}`` shapes.

    Semi-naive BFS: each round extends only the FRONTIER (pairs first
    discovered last round), and an anti-join against the accumulated
    result drops re-discoveries, so a pair is expanded exactly once no
    matter how many paths reach it — the work per round is proportional
    to NEW pairs, not all pairs (classic semi-naive datalog evaluation;
    a naive closure re-joins the whole result every round and re-derives
    every short path at every longer length). Cycles terminate for free:
    a revisited node produces only already-seen pairs, which the
    anti-join removes, emptying the frontier.

    Scale shape: the state is the narrow (src, dst, hops) result, whose
    frontier is its ``hops == h - 1`` slice; each round is one shuffle
    join on ``dst``/``src`` plus one anti-join on the pair key, and the
    loop driver cuts the plan every round and stops early when a round
    adds nothing. No windows, no global sorts. At 10^12 edges the
    closure itself can be large — callers bound it with *max_hops* (and
    should pre-filter ``edges`` to the predicate of interest; see
    edge_list).
    """
    base = edges.select("src", "dst").distinct().persist()

    def step(result: DataFrame, i: int) -> DataFrame:
        grown = (
            result.filter(F.col("hops") == i).alias("f")
            .join(base.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
            .distinct()
            .join(result.select("src", "dst"), ["src", "dst"], "left_anti")
            .withColumn("hops", F.lit(i + 1))
        )
        return result.unionByName(grown)

    result, _ = caching.iterate(
        base.withColumn("hops", F.lit(1)), step, max_hops - 1,
        until=lambda r, i: r.filter(F.col("hops") == i + 1).isEmpty(),
        bases=(base,))
    return result


def sssp_hops(edges: DataFrame, source: str,
              max_hops: int = 20) -> DataFrame:
    """Single-source shortest paths by hop count: (node, hops) for every
    node reachable from *source* within *max_hops* edges, hops = the
    MINIMUM edge count (the source itself is hops 0).

    Same semi-naive frontier iteration as :func:`reachability`, but the
    state is per-NODE, not per-pair: the frontier starts at one node and
    each round joins only last round's newly-discovered nodes against the
    edge list, anti-joining the visited set. Work per round is
    proportional to the frontier's out-edges — on a 10^12-edge graph a
    6-hop neighborhood query touches the neighborhood, never the closure
    (reachability's all-pairs state is |V|² worst-case; this is |V|).
    Early exit when the frontier drains (cycles terminate for free: a
    revisited node is dropped by the anti-join). Node ids compare as
    strings (type-agnostic, same convention as ops/dedup.dedup_clusters).
    The visited set is the loop state, cut every round by the driver."""
    base = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst")).distinct().persist()

    def step(visited: DataFrame, i: int) -> DataFrame:
        frontier = visited.filter(F.col("hops") == i - 1)
        grown = (
            frontier.join(base, frontier["node"] == base["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), ["node"], "left_anti")
            .withColumn("hops", F.lit(i))
        )
        return visited.unionByName(grown)

    start = edges.sparkSession.createDataFrame([(source, 0)],
                                               "node string, hops int")
    visited, _ = caching.iterate(
        start, step, max_hops,
        until=lambda v, i: v.filter(F.col("hops") == i).isEmpty(),
        bases=(base,))
    return visited


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, the near-linear-time LPA): labels init to the node id; each
    round EVERY node simultaneously adopts the most frequent label among
    its neighbors (undirected view), ties broken by the lexicographically
    SMALLEST label. Returns (node, label) after *iterations* rounds.

    Determinism: the classic sequential LPA is order-dependent; the
    synchronous all-at-once update with a total tie order makes the result
    a pure function of (graph, iterations) — reproducible across runs,
    partitionings, and engines (the DuckDB twin replays the same rule).
    Synchronous LPA can oscillate on bipartite structures, which is why
    the round count is a parameter rather than a convergence loop.

    Scale shape per round: one shuffle join of the (node, label) table
    against the undirected adjacency, one (node, label) count aggregation
    (map-side combined), one arg-min-by-(-count, label) struct
    aggregation — no windows over unbounded groups, no global sorts.
    Hot nodes (a label counted across 10^6 neighbors) partial-aggregate
    before the shuffle."""
    und = _undirected(edges, self_loops=True).persist()

    def step(labels: DataFrame, _: int) -> DataFrame:
        counts = (
            und.join(labels, und["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt")))
        # arg-min over (-cnt, label): max count, then smallest label
        return (
            counts.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                F.col("label").alias("l"))).alias("b"))
            .select("node", F.col("b.l").alias("label"))
        )

    start = (und.select(F.col("src").alias("node")).distinct()
             .withColumn("label", F.col("node")))
    labels, _ = caching.iterate(start, step, iterations, bases=(und,))
    return labels


def orient_by_degree(pairs: DataFrame,
                     a_col: str = "mod_a", b_col: str = "mod_b"
                     ) -> DataFrame:
    """Orient an undirected unique-edge list from the lower-(degree, id)
    endpoint to the higher — the classic triangle-counting preparation:
    every vertex's oriented OUT-degree is bounded by O(sqrt(|E|)) for
    any graph (a vertex with out-degree d has d neighbors of degree >=
    its own, so d(d+1)/2 <= 2|E|), which bounds the wedge join's
    per-key fan-out no matter how skewed the degree distribution is.

    Returns (s, t, dt) — dt carries rank info for wedge ordering."""
    deg = (
        pairs.select(F.col(a_col).alias("node"))
        .union(pairs.select(F.col(b_col).alias("node")))
        .groupBy("node").agg(F.count("*").alias("deg")))
    e = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .join(deg.select(F.col("node").alias("u"),
                         F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"),
                         F.col("deg").alias("dv")), "v"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    )


def _oriented_triangles(pairs: DataFrame) -> DataFrame:
    """Enumerate each triangle once via degree orientation: wedges
    (s->v, s->w) with rank(v) < rank(w), closed by the oriented edge
    v->w (which exists iff {v,w} is an edge, because rank(v) < rank(w)
    fixes its orientation). Output re-sorted lexicographically so the
    result is column-identical to the plain ordered-join path."""
    o = orient_by_degree(pairs)
    e1, e2 = o.alias("e1"), o.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.s") == F.col("e2.s"))
        .filter((F.col("e1.dt") < F.col("e2.dt")) | (
            (F.col("e1.dt") == F.col("e2.dt"))
            & (F.col("e1.t") < F.col("e2.t"))))
        .select(F.col("e1.s").alias("s"),
                F.col("e1.t").alias("v"), F.col("e2.t").alias("w")))
    closed = wedges.join(
        o.select(F.col("s").alias("v"), F.col("t").alias("w")), ["v", "w"])
    tri = F.array_sort(F.array("s", "v", "w"))
    return closed.select(
        tri[0].alias("a"), tri[1].alias("b"), tri[2].alias("c"))


def coimport_triangles(triples: DataFrame, min_files: int = 2,
                       predicates: tuple[str, ...] = MODULE_PREDICATES,
                       orient: bool = False) -> DataFrame:
    """Triangles in the module co-import graph: module triples that
    pairwise co-occur (each pair in >= *min_files* common files) — the
    densest-community signal on top of module_affinity's pair list.

    Two enumeration plans, identical output (pinned by test + the
    kg_triangles oracle row, which runs the oriented plan):

    - plain (default): the ordered pair list joined with itself twice
      ((a,b) x (b,c) -> probe (a,c)); a<b<c counts each triangle once
      and halves every join input. Right for vocabulary-sized graphs.
    - ``orient=True``: degree orientation (see :func:`orient_by_degree`)
      — the web-scale plan: per-key wedge fan-out bounded by
      O(sqrt(|E|)) even when one hub module is imported by 90% of files,
      where the plain plan's (a,b)x(b,c) join explodes on the hub key.
    """
    _, pairs = coimport_pairs(triples, min_files, predicates)
    pairs = pairs.select("mod_a", "mod_b")
    if orient:
        return _oriented_triangles(pairs)
    p1 = pairs.select(F.col("mod_a").alias("a"), F.col("mod_b").alias("b"))
    p2 = pairs.select(F.col("mod_a").alias("b"), F.col("mod_b").alias("c"))
    p3 = pairs.select(F.col("mod_a").alias("a"), F.col("mod_b").alias("c"))
    return (
        p1.join(p2, "b")
        .join(p3, ["a", "c"])
        .select("a", "b", "c")
    )


def _pair_degrees(pairs: DataFrame) -> DataFrame:
    """(node, degree) over an undirected ``(mod_a, mod_b)`` pair list."""
    return (pairs.select(F.col("mod_a").alias("node"))
            .unionByName(pairs.select(F.col("mod_b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))


def clustering_coefficient(triples: DataFrame, min_files: int = 2,
                           predicates: tuple[str, ...] = MODULE_PREDICATES,
                           orient: bool = True) -> DataFrame:
    """Local clustering coefficient per module on the co-import graph:
    ``cc(v) = 2*T(v) / (d(v) * (d(v)-1))`` with T(v) = triangles through
    v and d(v) = co-import neighbors — the standard community-density
    signal on top of the affinity pair list.

    Scale shape: triangles enumerate through the degree-oriented plan by
    default (wedge fan-out bounded O(sqrt(|E|)) under hub skew); per-node
    triangle counts are one explode of the 3-vertex array + a map-side-
    combined count, and degrees reduce the narrow pair list. Both joins
    against the (modules-sized) degree table broadcast naturally."""
    _, pairs = coimport_pairs(triples, min_files, predicates)
    pairs = pairs.select("mod_a", "mod_b")
    tri = _oriented_triangles(pairs) if orient else None
    if tri is None:
        p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
        tri = (
            p1.join(p2, F.col("p1.mod_b") == F.col("p2.mod_a"))
            .join(p3, (F.col("p3.mod_a") == F.col("p1.mod_a"))
                  & (F.col("p3.mod_b") == F.col("p2.mod_b")))
            .select(F.col("p1.mod_a").alias("a"),
                    F.col("p1.mod_b").alias("b"),
                    F.col("p2.mod_b").alias("c")))
    deg = _pair_degrees(pairs)
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("triangles")))
    d = F.col("degree")
    return (
        deg.join(tcnt, "node", "left")
        .select(
            "node", "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(d >= 2,
                   F.round(2.0 * F.coalesce(F.col("triangles"), F.lit(0))
                           / (d * (d - 1)), 6))
            .otherwise(F.lit(0.0)).alias("clustering")))


def kcore(triples: DataFrame, k: int = 2, min_files: int = 2,
          predicates: tuple[str, ...] = MODULE_PREDICATES,
          max_iter: int = 20) -> DataFrame:
    """The k-core of the co-import graph: the maximal subgraph where
    every module has >= k co-import neighbors — the standard
    dense-community peel (a module in the 3-core co-occurs with at
    least 3 others that THEMSELVES survive the same bar).

    Iterative peeling: drop vertices with degree < k, recompute degrees
    on the induced subgraph, repeat to fixpoint. Work per round is
    proportional to the SURVIVING edge set (one semi-join + one
    map-side-combined degree agg); rounds are bounded by the peel depth
    (degeneracy ordering length), with a driver isEmpty probe per round
    — the same bounded-probe shape as components/reachability. Output:
    (node, core_degree) for every k-core member; warns when *max_iter*
    rounds end before the fixpoint."""
    _, pairs = coimport_pairs(triples, min_files, predicates)

    def low(edges: DataFrame) -> DataFrame:
        return _pair_degrees(edges).filter(F.col("degree") < k).select("node")

    def peel(edges: DataFrame, _: int) -> DataFrame:
        drop = low(edges)
        return (edges.join(drop.withColumnRenamed("node", "mod_a"),
                           "mod_a", "left_anti")
                .join(drop.withColumnRenamed("node", "mod_b"),
                      "mod_b", "left_anti"))

    edges, converged = caching.iterate(
        pairs.select("mod_a", "mod_b"), peel, max_iter,
        until=lambda e, _: low(e).isEmpty())
    if not converged:
        # the edge set is NOT a fixpoint — the degree>=k filter below is
        # an upper bound on the true k-core, so say so loudly instead of
        # silently returning it
        import warnings

        warnings.warn(
            f"kcore: peel did not converge within max_iter={max_iter} "
            f"rounds; result is a non-fixpoint superset of the true "
            f"{k}-core — raise max_iter")
    return _pair_degrees(edges).filter(F.col("degree") >= k).select(
        "node", F.col("degree").alias("core_degree"))


def ktruss(triples: DataFrame, k: int = 3, min_files: int = 2,
           predicates: tuple[str, ...] = MODULE_PREDICATES,
           max_iter: int = 20) -> DataFrame:
    """The k-truss of the co-import graph: the maximal subgraph in
    which every EDGE closes at least k-2 triangles — the edge-level
    tightening of k-core (Cohen '08): a 4-truss edge's endpoints share
    ≥2 surviving co-import partners, so trusses isolate cohesive
    module communities that degree alone (kcore) cannot.

    Iterative peel to fixpoint, mirroring kcore's shape: per round,
    (1) enumerate triangles of the SURVIVING edge set once via the
    degree-oriented wedge join (_oriented_triangles — per-key fan-out
    bounded by O(sqrt|E|) regardless of degree skew), (2) per-edge
    support = one explode-3 + map-side-combined count, (3) drop edges
    with support < k-2 via a left-anti join. Work per round is
    proportional to the surviving edges + their triangles; rounds are
    bounded by the peel depth, with one driver isEmpty probe per
    round. Output: ``(mod_a, mod_b, support)`` for every k-truss edge
    (support counted IN the truss). Warns loudly on non-convergence,
    like kcore."""
    _, pairs = coimport_pairs(triples, min_files, predicates)

    def support(edges: DataFrame) -> DataFrame:
        tri = _oriented_triangles(edges)
        sup = (
            tri.select(F.col("a").alias("mod_a"), F.col("b").alias("mod_b"))
            .unionByName(tri.select(F.col("a").alias("mod_a"),
                                    F.col("c").alias("mod_b")))
            .unionByName(tri.select(F.col("b").alias("mod_a"),
                                    F.col("c").alias("mod_b")))
            .groupBy("mod_a", "mod_b").agg(F.count("*").alias("support")))
        return edges.join(sup, ["mod_a", "mod_b"], "left").select(
            "mod_a", "mod_b", F.coalesce("support", F.lit(0)).alias("support"))

    def peel(edges: DataFrame, _: int) -> DataFrame:
        return (support(edges).filter(F.col("support") >= k - 2)
                .select("mod_a", "mod_b"))

    edges, converged = caching.iterate(
        pairs.select("mod_a", "mod_b"), peel, max_iter,
        until=lambda e, _: support(e).filter(F.col("support") < k - 2)
        .isEmpty())
    if not converged:
        import warnings

        warnings.warn(
            f"ktruss: peel did not converge within max_iter={max_iter} "
            f"rounds; result is a non-fixpoint superset of the true "
            f"{k}-truss — raise max_iter")
    return support(edges).filter(F.col("support") >= k - 2)


def betweenness(edges: DataFrame, k_sources: int = 8, max_hops: int = 4,
                seed: int = 7) -> DataFrame:
    """k-source, hop-bounded betweenness centrality over the undirected
    simple graph of *edges* — Brandes' dependency accumulation (Brandes
    2001) from a deterministic pivot sample (Brandes & Pich 2007), with
    every fractional term quantized to INTEGER micro-units so the result
    is bit-identical across runs, partitionings and engines (the
    ops/text.py micro-nat convention applied to δ).

    Semantics (declared, not a tuning knob): betweenness restricted to
    shortest paths of ≤ *max_hops* edges from the *k_sources* pivot
    nodes with the smallest ``md5(seed|node)`` — the same RNG-free
    sampling rule as ops/split.py. Per pivot s, the forward pass runs a
    layered BFS carrying σ (shortest-path counts, exact integers); the
    backward pass folds δ layer by layer with the integer recurrence

        δ_micro(v) = Σ_{w: succ(v)} (σ_v * (1_000_000 + δ_micro(w))) DIV σ_w

    (all operands BIGINT, all positive, so Spark's ``DIV`` and DuckDB's
    ``//`` agree exactly). Output: ``(node, betweenness_micro)`` =
    Σ_pivots δ_micro over non-pivot appearances — the Brandes partial
    sum scaled by 1e6; divide by k_sources·1e6 (and by 2 for the
    undirected double-count) for the normalized estimate.

    Scale shape: all pivots advance TOGETHER in one (root, node, dist,
    σ) state table holding every BFS layer — each forward round is one
    equi-join of the frontier layer against the undirected adjacency +
    one (root, node) sum-agg + one anti-join against the visited rows;
    each backward round is one equi-join between consecutive layers.
    Both passes run on the loop driver, which cuts the plan every
    round. No windows, no global sorts, no driver data. Frontier size
    is bounded by k × |V|; a celebrity node fans out k ways only.
    """
    und = _undirected(edges, self_loops=False).persist()
    nodes = und.select(F.col("src").alias("node")).distinct()
    # deterministic pivots: k smallest md5(seed|node) — a tiny
    # TakeOrderedAndProject, never a global sort of the node set
    pivots = (
        nodes.withColumn("_h", F.md5(F.concat(F.lit(f"btw|{seed}|"),
                                              F.col("node"))))
        .orderBy("_h", "node").limit(k_sources).drop("_h")
    )
    layer0 = pivots.select(
        F.col("node").alias("root"), F.col("node"),
        F.lit(0).alias("dist"), F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()  # the first round reads it three times

    def forward(state: DataFrame, h: int) -> DataFrame:
        grown = (
            state.filter(F.col("dist") == h - 1)
            .join(und, F.col("node") == und["src"])
            .groupBy("root", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(state.select("root", "node"), ["root", "node"], "left_anti")
            .select("root", "node", F.lit(h).alias("dist"), "sigma")
        )
        return state.unionByName(grown)

    depth = max_hops

    def drained(state: DataFrame, h: int) -> bool:
        nonlocal depth
        if state.filter(F.col("dist") == h).isEmpty():
            depth = h - 1  # the deepest layer reached
            return True
        return False

    layers, _ = caching.iterate(layer0, forward, max_hops, until=drained,
                                bases=(und,))

    # backward: deepest layer has δ=0; fold one layer up per round.
    # succ(v) = neighbors of v in the NEXT layer of the same root — in an
    # unweighted BFS every shortest-path-DAG edge spans consecutive
    # layers, so consecutive-layer joins cover the whole DAG.
    def backward(acc: DataFrame, i: int) -> DataFrame:
        d = depth - i
        v = layers.filter(F.col("dist") == d).alias("v")
        w = acc.filter(F.col("dist") == d + 1).alias("w")
        contrib = (
            v.join(und, F.col("v.node") == und["src"])
            .join(w, (und["dst"] == F.col("w.node"))
                  & (F.col("v.root") == F.col("w.root")))
            .select(
                F.col("v.root").alias("root"), F.col("v.node").alias("node"),
                F.expr("(v.sigma * (1000000 + w.delta)) DIV w.sigma")
                .alias("c"))
            .groupBy("root", "node").agg(F.sum("c").alias("dsum"))
        )
        return acc.unionByName(
            layers.filter(F.col("dist") == d)
            .join(contrib, ["root", "node"], "left")
            .select("root", "node", "dist", "sigma",
                    F.coalesce("dsum", F.lit(0)).cast("long").alias("delta")))

    deepest = layers.filter(F.col("dist") == depth).withColumn(
        "delta", F.lit(0).cast("long"))
    # the forward loop released und; this loop reads it again
    deltas, _ = caching.iterate(deepest, backward, depth,
                                bases=(und.persist(), layers))
    per_node = (deltas.filter(F.col("node") != F.col("root"))
                .groupBy("node").agg(F.sum("delta").alias("betweenness_micro")))
    return (
        nodes.join(per_node, "node", "left")
        .select("node", F.coalesce("betweenness_micro", F.lit(0))
                .cast("long").alias("betweenness_micro"))
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over the undirected
    simple graph of *edges*, as EXACT integers: one row
    ``(n_communities, m_edges, q_numer, q_micro)`` where

        Q = q_numer / (4 m²),   q_numer = 4m·Σ_c e_c − Σ_c d_c²

    (e_c = intra-community edge count, d_c = total degree of community
    c; the textbook Q = Σ_c [e_c/m − (d_c/2m)²] cleared of
    denominators). ``q_micro`` = floor(1e6·Q) computed with the
    portable integer floor ((a − ((a%b)+b)%b) DIV b — a−mod is exactly
    divisible, so truncating and flooring division agree even for
    negative Q, where Spark's DIV truncates but DuckDB's // floors).
    All-integer arithmetic → bit-identical across engines; no floats
    anywhere.

    *labels* is any (node, label) table covering the graph's nodes
    (components, label_propagation, an external assignment). Shape: one
    distinct over the symmetrized edge list, one degree agg, two
    broadcast-sized joins of edges against the label map (label maps at
    10^12 scale are vocabulary-shaped after smushing; if not, the join
    shuffles on node — still no windows), two per-label aggs over
    |communities| keys, and one 1-row final fold with the m scalar
    joined via broadcast crossJoin (the accepted 1-row pattern)."""
    _require_exact_int64(edges, "modularity")
    pairs = _simple_pairs(edges)
    lab = labels.select(F.col("node").cast("string").alias("node"), "label")
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    )
    d_c = (
        deg.join(lab, "node")
        .groupBy("label").agg(F.sum("degree").alias("d_c"))
    )
    la, lb = lab.alias("la"), lab.alias("lb")
    e_c = (
        pairs.join(la, F.col("a") == F.col("la.node"))
        .join(lb, F.col("b") == F.col("lb.node"))
        .filter(F.col("la.label") == F.col("lb.label"))
        .groupBy(F.col("la.label").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    m_df = pairs.agg(F.count(F.lit(1)).alias("m"))
    per_label = (
        d_c.join(e_c, "label", "left")
        .select("label", "d_c", F.coalesce("e_c", F.lit(0)).alias("e_c"))
    )
    folded = (
        per_label.crossJoin(F.broadcast(m_df))
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.first("m").alias("m_edges"),
            F.sum(F.expr("4 * m * e_c - d_c * d_c")).alias("q_numer"))
    )
    out = folded.select(
        F.col("n_communities").cast("long").alias("n_communities"),
        F.col("m_edges").cast("long").alias("m_edges"),
        F.col("q_numer").cast("long").alias("q_numer"),
        F.expr(
            "CAST((q_numer * 1000000 - (((q_numer * 1000000) % (4 * m_edges * m_edges)"
            " + (4 * m_edges * m_edges)) % (4 * m_edges * m_edges)))"
            " DIV (4 * m_edges * m_edges) AS BIGINT)").alias("q_micro"))
    return out


def modularity_refine(edges: DataFrame, labels: DataFrame | None = None,
                      rounds: int = 3,
                      weight_col: str | None = None) -> DataFrame:
    """Louvain-style local-move refinement, synchronous and all-integer:
    per round EVERY node simultaneously moves to the adjacent community
    (or stays) that maximizes the modularity gain, computed against the
    CURRENT partition with the exact-integer objective

        f(c) = 4m·k_{i,c} − 2·k_i·d̃_c ,   d̃_c = d_c − k_i·[c = own]

    which orders candidates identically to ΔQ (the 4m² denominator and
    the own-community baseline cancel in comparisons — Blondel et al.'s
    local move, cleared of fractions). Ties break on the smallest
    community label; *rounds* is part of the declared semantics, like
    label_propagation's (the synchronous update can oscillate on
    symmetric structures, so no convergence loop). Starting *labels*
    default to singletons — one Louvain level from scratch; pass
    label_propagation output to refine it instead.

    Three rules make the synchronous update deterministic AND
    convergence-friendly (plain simultaneous greedy cycles forever on
    symmetric structures):

    1. **Leiden refinement constraint** (Traag, Waltman & van Eck
       2019): only a node ALONE in its community may move — community
       membership grows monotonically within the level, so doubleton/
       singleton swap cycles cannot form (Louvain's cross-community
       rebalancing belongs to the next level via graph contraction).
    2. **Minimum-labeling guard** (Grappolo — Lu, Halappanavar &
       Kalyanaraman 2015): a singleton may merge into another
       SINGLETON only when the target label is smaller — adjacent
       singletons collapse onto their minimum instead of swapping.
    3. **Canonicalization**: after each round the community id is reset
       to the minimum member node (components' convention) — a label
       whose name-giver moved away would otherwise become a ghost that
       nodes chase in circles.

    Determinism: the synchronous all-at-once move + total tie order
    make the labels a pure function of (graph, labels, rounds) — the
    DuckDB twin replays the identical rounds. All arithmetic is BIGINT
    (overflow bound: 4m·k_i — at 10^12 edges with 10^6-degree hubs this
    approaches int64; shard counts into DECIMAL(38) there).

    Weighted graphs (*weight_col*, the contraction path of
    :func:`louvain`): edge multiplicities are integer weights; k_i and
    d_c become weighted degrees, self-loops (a contracted community's
    internal edges) contribute 2w to their node's degree but never
    appear as move candidates — a self-loop stays intra wherever its
    node goes, so it cancels in the gain comparison (textbook Blondel).
    With *weight_col* None the semantics are EXACTLY the unweighted
    ones (duplicate input edges collapse to one).

    Scale shape per round: one shuffle join of labels onto the
    adjacency, one (node, label) count, one per-label degree agg
    (|communities| keys), one broadcast of the 1-row 2m scalar folded
    in as a literal, and one arg-min struct agg per node. No windows,
    no global sorts. Hot communities partial-aggregate map-side (same
    argument as label_propagation)."""
    canon = _weighted_pairs(edges, weight_col)
    nonself = canon.filter(F.col("a") != F.col("b"))
    selfw = canon.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("node"), F.col("w").alias("w_self"))
    und = (
        nonself.select(F.col("a").alias("x"), F.col("b").alias("y"), "w")
        .unionByName(nonself.select(F.col("b").alias("x"),
                                    F.col("a").alias("y"), "w"))
        .persist()
    )
    deg = (
        und.groupBy(F.col("x").alias("node")).agg(F.sum("w").alias("kn"))
        .join(selfw, "node", "full_outer")
        .select("node",
                (F.coalesce("kn", F.lit(0))
                 + F.lit(2) * F.coalesce("w_self", F.lit(0)))
                .cast("long").alias("ki"))
        .persist()
    )
    two_m = deg.agg(F.sum("ki")).collect()[0][0] or 0  # Σki = 2m exactly
    if labels is None:
        start = deg.select("node", F.col("node").alias("label"))
    else:
        start = labels.select(F.col("node").cast("string").alias("node"),
                              F.col("label").cast("string").alias("label"))
    start = start.localCheckpoint()  # the first round reads it four times

    def step(lab: DataFrame, _: int) -> DataFrame:
        d_c = (
            lab.join(deg, "node")
            .groupBy("label").agg(F.sum("ki").alias("d_c"))
        )
        k_ic = (
            und.join(lab.withColumnRenamed("node", "y"), "y")
            .groupBy(F.col("x").alias("node"), "label")
            .agg(F.sum("w").alias("k"))
        )
        sizes = lab.groupBy("label").agg(
            F.count(F.lit(1)).alias("csize"))
        base = (
            lab.select("node", F.col("label").alias("a"))
            .join(deg, "node")
            .join(sizes.select(F.col("label").alias("a"),
                               F.col("csize").alias("s_a")), "a")
        )
        # candidate set: neighbor communities ∪ the own community (with
        # k=0 when no neighbor shares it) — summed so the own row merges
        cands = (
            k_ic.unionByName(
                base.select("node", F.col("a").alias("label"),
                            F.lit(0).cast("long").alias("k")))
            .groupBy("node", "label").agg(F.sum("k").alias("k"))
        )
        scored = (
            cands.join(base, "node")
            .join(d_c, "label")
            .join(sizes.select("label", F.col("csize").alias("s_c")),
                  "label")
            # Leiden refinement constraint: only nodes ALONE in their
            # community may move (monotone growth — no oscillation);
            # minimum-labeling drops singleton->larger-singleton moves
            .filter((F.col("label") == F.col("a")) | (F.col("s_a") == 1))
            .filter(~((F.col("label") != F.col("a"))
                      & (F.col("s_a") == 1) & (F.col("s_c") == 1)
                      & (F.col("label") > F.col("a"))))
            .select(
                "node", "label",
                (F.lit(2 * two_m) * F.col("k")
                 - F.lit(2) * F.col("ki")
                 * (F.col("d_c")
                    - F.when(F.col("label") == F.col("a"), F.col("ki"))
                    .otherwise(F.lit(0)))).alias("f"))
        )
        moved = (
            scored.groupBy("node")
            .agg(F.min(F.struct((-F.col("f")).alias("nf"),
                                F.col("label").alias("l"))).alias("b"))
            .select("node", F.col("b.l").alias("label"))
        )
        # canonicalize: community id = min member node (components'
        # convention). Without this, a label whose eponymous node moved
        # away becomes a GHOST — nodes chase a community that no longer
        # contains its name-giver and symmetric structures cycle forever;
        # with it, dissolved communities collapse back to self-labels and
        # the minimum-labeling guard can finish the merge next round.
        canon = moved.groupBy("label").agg(F.min("node").alias("_c"))
        return moved.join(canon, "label").select(
            "node", F.col("_c").alias("label"))

    lab, _ = caching.iterate(start, step, rounds, bases=(und, deg))
    return lab


def weighted_sssp(wedges: DataFrame, source: str,
                  max_hops: int = 6) -> DataFrame:
    """Bounded Bellman-Ford over integer edge weights: ``(node, dist)``
    with dist = the minimum total weight over paths of ≤ *max_hops*
    edges from *source* (the weighted counterpart of sssp_hops; bounded
    rounds are the declared semantics, as everywhere in this module).
    *wedges* has columns ``(src, dst, w)``; parallel edges collapse to
    their cheapest. All-integer min-plus arithmetic — a pure data
    fixpoint with no accumulation error, so cross-engine equality is
    structural (the twin relaxes the same rounds).

    Shape per round: the state is ``(node, dist, improved)``; one
    equi-join of its improved rows against the src-hash edge layout
    (built once, reused every round), one min-agg, and one full-outer
    merge-min onto the state that flags the strictly-improved rows
    (label-correcting: relaxing only improved rows computes the same
    fixpoint as full Bellman-Ford rounds, since un-improved rows would
    only re-derive known distances). Early exit when no row improves.
    No windows, no global sorts."""
    _require_exact_int64(wedges, "weighted_sssp")
    e = (
        wedges.select(F.col("src").cast("string").alias("src"),
                      F.col("dst").cast("string").alias("dst"),
                      F.col("w").cast("long").alias("w"))
        .groupBy("src", "dst").agg(F.min("w").alias("w"))
        .repartition("src").localCheckpoint(eager=False)
    )

    def relax(best: DataFrame, _: int) -> DataFrame:
        reached = (
            best.filter("improved").join(e, F.col("node") == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand")))
        return merge_improved(best, reached, "dist", F.least)

    start = wedges.sparkSession.createDataFrame(
        [(source, 0, True)], "node string, dist long, improved boolean")
    best, _ = caching.iterate(
        start, relax, max_hops,
        until=lambda b, _: b.filter("improved").isEmpty(), bases=(e,))
    return best.select("node", "dist")


def merge_improved(best: DataFrame, reached: DataFrame, col: str,
                   better) -> DataFrame:
    """Merge candidate values ``reached(node, cand)`` into the relaxation
    state ``best(node, <col>, improved)``: *col* becomes the *better*
    (``F.least`` or ``F.greatest``) of old and candidate, and
    ``improved`` flags rows whose value is new or strictly better."""
    old, cand = F.col(col), F.col("cand")
    return best.drop("improved").join(reached, "node", "full_outer").select(
        "node", better(old, cand).alias(col),
        (cand.isNotNull() & (old.isNull() | (better(old, cand) != old)))
        .alias("improved"))


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple graph
    (Newman 2002) as EXACT integers: one row ``(m_edges, r_numer,
    r_denom, r_micro)`` with

        r = (4M·P − S1²) / (2M·S2 − S1²)

    where, over the M unique undirected edges with endpoint degrees
    (j, k): P = Σ j·k, S1 = Σ (j+k), S2 = Σ (j² + k²) — the Pearson
    correlation of degrees across edges with every denominator cleared.
    ``r_micro`` = floor(1e6·r) by the portable integer floor
    (modularity's trick), NULL when the denominator is 0 (degree-regular
    graph: correlation undefined). No floats anywhere — cross-engine
    equality is exact.

    Shape: one distinct over the canonicalized edge list, one degree
    agg, two joins to attach endpoint degrees (the degree table is
    node-keyed; at web scale this is the usual narrow shuffle), one
    1-row fold. Overflow: S1² ≤ (2M·k_max)² — at 10^12 edges use
    DECIMAL(38) intermediates; BIGINT is exact to ~3·10⁹ edges of
    10³ degree."""
    _require_exact_int64(edges, "assortativity")
    pairs = _simple_pairs(edges)
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("j"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("k"))
    folded = (
        pairs.join(da, "a").join(db, "b")
        .agg(F.count(F.lit(1)).alias("m_edges"),
             F.sum(F.expr("j * k")).alias("p"),
             F.sum(F.expr("j + k")).alias("s1"),
             F.sum(F.expr("j * j + k * k")).alias("s2"))
    )
    out = folded.select(
        F.col("m_edges").cast("long").alias("m_edges"),
        F.expr("CAST(4 * m_edges * p - s1 * s1 AS BIGINT)").alias("r_numer"),
        F.expr("CAST(2 * m_edges * s2 - s1 * s1 AS BIGINT)").alias("r_denom"),
        F.expr("""
          CAST(CASE WHEN 2 * m_edges * s2 - s1 * s1 = 0 THEN NULL
            ELSE ((4 * m_edges * p - s1 * s1) * 1000000
              - ((((4 * m_edges * p - s1 * s1) * 1000000)
                   % (2 * m_edges * s2 - s1 * s1)
                  + (2 * m_edges * s2 - s1 * s1))
                 % (2 * m_edges * s2 - s1 * s1)))
              DIV (2 * m_edges * s2 - s1 * s1) END AS BIGINT)
        """).alias("r_micro"))
    return out


def contract_graph(edges: DataFrame, labels: DataFrame,
                   weight_col: str | None = None) -> DataFrame:
    """Louvain graph contraction: map both endpoints of every
    (canonical, unique-undirected) edge through *labels* and sum edge
    weights per community pair — intra-community edges become
    SELF-LOOPS carrying the community's internal weight, exactly what
    :func:`modularity_refine`'s weighted path expects. Returns
    ``(src, dst, w)`` with ``src <= dst``.

    One dedup of the edge list, two node-keyed label joins, one
    (community, community) sum — the super-graph is |communities|-sized,
    so every later level costs a vanishing fraction of level 1."""
    canon = _weighted_pairs(edges, weight_col)
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    return (
        canon.join(la, "a").join(lb, "b")
        .groupBy(F.least("la", "lb").alias("src"),
                 F.greatest("la", "lb").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def louvain(edges: DataFrame, levels: int = 2, rounds: int = 3) -> DataFrame:
    """Multi-level Louvain (Blondel et al. 2008): refine → contract →
    refine on the weighted super-graph, *levels* times; returns the
    ORIGINAL nodes mapped to their top-level community. Level 1 runs
    :func:`modularity_refine` from singletons; every later level
    contracts the edge list through the current mapping and runs the
    weighted path on that super-graph, where a community's internal
    weight rides along as a self-loop (weights are integer sums, so
    contracting the original edges equals contracting the previous
    level's super-graph). Deterministic end to end (each stage is), so
    the twin replays the whole pyramid."""
    def level(mapping: DataFrame, _: int) -> DataFrame:
        up = modularity_refine(contract_graph(edges, mapping), rounds=rounds,
                               weight_col="w")
        return (
            mapping.join(up.select(F.col("node").alias("label"),
                                   F.col("label").alias("_up")), "label")
            .select("node", F.col("_up").alias("label")))

    mapping, _ = caching.iterate(modularity_refine(edges, rounds=rounds),
                                 level, levels - 1)
    return mapping


def eccentricity_probe(edges: DataFrame, max_hops: int = 8,
                       seed: int = 7) -> DataFrame:
    """Diameter lower bound by the double sweep (Magnien, Latapy &
    Habib 2009): BFS from a deterministic md5-sampled pivot, then BFS
    again from the farthest node found — ``ecc_peak`` is the classic
    high-quality diameter lower bound (exact on trees). One row:
    ``(start_node, peak_node, ecc_start, ecc_peak)``; eccentricities
    are hop-bounded by *max_hops* (declared semantics, as everywhere).
    Ties for the farthest node break on the smallest node id.

    Shape: two :func:`sssp_hops` frontier iterations over the
    symmetrized edge list (per round: one equi-join + anti-join, no
    windows), and two 1-row argmax probes to the driver — the only
    driver data is the pivot and the peak. The result is built on the
    driver, so every checkpoint is released on every exit."""
    spark = edges.sparkSession
    und = _undirected(edges, self_loops=False).localCheckpoint()

    def _far(source: str):
        d = sssp_hops(und, source, max_hops=max_hops)
        try:
            b = d.agg(F.min(F.struct((-F.col("hops")).alias("nh"),
                                     F.col("node").alias("n"))).alias("b")
                      ).collect()[0]["b"]
        finally:
            caching.release(d)
        return b["n"], -b["nh"]

    try:
        start = (
            und.select("src").distinct()
            .withColumn("_h", F.md5(F.concat(F.lit(f"ecc|{seed}|"),
                                             F.col("src"))))
            .orderBy("_h", "src").limit(1).collect()[0][0])
        peak, ecc1 = _far(start)
        _, ecc2 = _far(peak)
    finally:
        caching.release(und)
    return spark.createDataFrame(
        [(start, peak, ecc1, ecc2)],
        "start_node string, peak_node string, ecc_start long, ecc_peak long")
