"""OWL-RL-lite property-axiom materialization (prp-inv / prp-symp /
prp-trp / prp-spo2 / prp-fp / prp-ifp).

The reference emits asserted CSVW triples only; kg/infer.py adds the
RDFS closure. This module adds the OWL 2 RL *property* rules a code KG
actually uses — inverses (``kg:importedBy``), symmetric relations,
transitive reachability, and 2-step property chains (``definedIn ∘
inRepo ⊑ inRepo`` gives symbols repo membership) — under one unified
engine:

- **symmetric is a self-inverse** (``p owl:inverseOf p``) and
  **transitive is a self-chain** (``p ∘ p ⊑ p``), so only two join
  shapes exist: the unary SWAP (one broadcast join against the
  inverse-pair table) and the binary CHAIN (an equi-join of two edge
  streams on the shared node).
- **Semi-naive fixpoint**: each round applies every rule with the NEW
  edges from the previous round on at least one premise
  (``new⋈all ∪ all⋈new``), so work per round is proportional to the
  frontier, and a transitive closure emerges with log-doubling rounds.
- **Vocabulary pruning**: only edges whose predicate appears in some
  rule premise or conclusion ever enter the loop — the 10^12-row
  instance stream is filtered ONCE by a pushed-down predicate isin;
  everything outside the rule vocabulary streams straight to the
  output union untouched.

Inverse/symmetric conclusions require an IRI object (a literal cannot
become a subject) — literal-valued premises are skipped, per OWL RL's
own applicability condition. Chain conclusions carry the second
premise's term metadata.

Functional / inverse-functional properties don't infer edges — they
infer ``owl:sameAs`` (prp-fp/prp-ifp); :func:`functional_sameas`
emits the pair table in kg/smush.py's input shape so canonicalization
composes: rules → pairs → smush.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import TRIPLE_COLUMNS, caching

OWL = "http://www.w3.org/2002/07/owl#"
INVERSE_OF = OWL + "inverseOf"
SYMMETRIC = OWL + "SymmetricProperty"
TRANSITIVE = OWL + "TransitiveProperty"
FUNCTIONAL = OWL + "FunctionalProperty"
INVERSE_FUNCTIONAL = OWL + "InverseFunctionalProperty"
SAMEAS = OWL + "sameAs"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def parse_axioms(ontology: DataFrame) -> dict:
    """(subj, pred, obj) ontology rows -> axiom dict. The ontology is
    vocabulary-sized; this is a driver-side collect by design."""
    inv, sym, trans, func, ifunc = [], [], [], [], []
    for r in ontology.collect():
        if r["pred"] == INVERSE_OF:
            inv.append((r["subj"], r["obj"]))
        elif r["pred"] == _RDF_TYPE:
            {SYMMETRIC: sym, TRANSITIVE: trans, FUNCTIONAL: func,
             INVERSE_FUNCTIONAL: ifunc}.get(r["obj"], []).append(r["subj"])
    return {"inverse": inv, "symmetric": sym, "transitive": trans,
            "functional": func, "inverse_functional": ifunc}


def _compile_rules(inverse, symmetric, transitive, chains, ontology):
    inverse = list(inverse or [])
    symmetric = list(symmetric or [])
    transitive = list(transitive or [])
    chains = list(chains or [])
    if ontology is not None:
        ax = parse_axioms(ontology)
        inverse += ax["inverse"]
        symmetric += ax["symmetric"]
        transitive += ax["transitive"]
    # unify: symmetric = self-inverse, transitive = self-chain
    swap_pairs = sorted(set(
        [(p, q) for p, q in inverse] + [(q, p) for p, q in inverse]
        + [(p, p) for p in symmetric]))
    chain_rules = sorted(set(chains) | {(p, p, p) for p in transitive})
    vocab = sorted({t for pair in swap_pairs for t in pair}
                   | {t for c in chain_rules for t in c})
    return swap_pairs, chain_rules, vocab


def _closure_loop(spark, closed: DataFrame | None, frontier: DataFrame,
                  swap_pairs, chain_rules, max_rounds: int,
                  caller: str) -> DataFrame:
    """Semi-naive fixpoint shared by full and incremental closure:
    each round applies every rule with the new edges from the previous
    round on at least one premise. The edges are *closed* (already
    closed among themselves, or None) plus the new *frontier*; the loop
    state is all edges with a ``_new`` flag on the last round's
    conclusions. Returns the closed edge set."""
    swaps = F.broadcast(spark.createDataFrame(
        swap_pairs or [("", "")], "p string, q string").filter(
        F.col("p") != ""))
    chain_df = F.broadcast(spark.createDataFrame(
        chain_rules or [("", "", "")],
        "p1 string, p2 string, q string").filter(F.col("p1") != ""))

    def apply_swap(edges: DataFrame) -> DataFrame:
        return (edges.filter(F.col("obj_is_iri"))
                .join(swaps, edges["pred"] == swaps["p"])
                .select(F.col("obj").alias("subj"),
                        F.col("q").alias("pred"),
                        F.col("subj").alias("obj"),
                        F.lit(True).alias("obj_is_iri"),
                        F.lit(None).cast("string").alias("obj_datatype"),
                        F.lit(None).cast("string").alias("obj_lang")))

    def apply_chain(left: DataFrame, right: DataFrame) -> DataFrame:
        l = left.filter(F.col("obj_is_iri")).select(
            F.col("subj").alias("_x"), F.col("pred").alias("_pl"),
            F.col("obj").alias("_y"))
        r = right.select(
            F.col("subj").alias("_y2"), F.col("pred").alias("_pr"),
            F.col("obj").alias("_z"), "obj_is_iri", "obj_datatype",
            "obj_lang")
        return (l.join(chain_df, l["_pl"] == chain_df["p1"])
                .join(r, (F.col("_y") == F.col("_y2"))
                      & (F.col("_pr") == F.col("p2")))
                .select(F.col("_x").alias("subj"),
                        F.col("q").alias("pred"),
                        F.col("_z").alias("obj"),
                        "obj_is_iri", "obj_datatype", "obj_lang"))

    def dedup_det(df: DataFrame) -> DataFrame:
        # deterministic metadata winner per (s,p,o): a conclusion can
        # arise via several paths with different carried metadata and
        # dropDuplicates would pick by partition order
        return (df.groupBy("subj", "pred", "obj")
                .agg(F.min(F.struct("obj_is_iri", "obj_datatype",
                                    "obj_lang")).alias("_m"))
                .select("subj", "pred", "obj",
                        F.col("_m.obj_is_iri").alias("obj_is_iri"),
                        F.col("_m.obj_datatype").alias("obj_datatype"),
                        F.col("_m.obj_lang").alias("obj_lang")))

    def step(state: DataFrame, _: int) -> DataFrame:
        frontier = state.filter("_new").drop("_new")
        all_edges = state.drop("_new")
        new = apply_swap(frontier)
        if chain_rules:
            new = new.unionByName(apply_chain(frontier, all_edges))
            new = new.unionByName(apply_chain(all_edges, frontier))
        new = dedup_det(new).join(
            all_edges.select("subj", "pred", "obj"),
            ["subj", "pred", "obj"], "left_anti")
        return all_edges.withColumn("_new", F.lit(False)).unionByName(
            new.withColumn("_new", F.lit(True)))

    state = frontier.withColumn("_new", F.lit(True))
    if closed is not None:
        state = closed.withColumn("_new", F.lit(False)).unionByName(state)
    state, converged = caching.iterate(
        state, step, max_rounds,
        until=lambda s, _: s.filter("_new").isEmpty())
    if not converged:
        warnings.warn(
            f"{caller} exited after {max_rounds} rounds without "
            "reaching the fixpoint; the returned closure is truncated "
            "— raise max_rounds", stacklevel=3)
    return state.drop("_new")


def owl_property_materialize(
        triples: DataFrame, *,
        inverse: list[tuple[str, str]] | None = None,
        symmetric: list[str] | None = None,
        transitive: list[str] | None = None,
        chains: list[tuple[str, str, str]] | None = None,
        ontology: DataFrame | None = None,
        max_rounds: int = 12) -> DataFrame:
    """Asserted graph + the property-rule closure.

    *inverse* is [(p, q)] (both directions applied), *symmetric* [p],
    *transitive* [p], *chains* [(p1, p2, q)] meaning ``p1 ∘ p2 ⊑ q``;
    an *ontology* triple table contributes its owl axioms on top
    (chains still come in via the parameter — RDF-list encoding is a
    storage question, not a rule question). Warns loudly if the
    fixpoint is not reached within *max_rounds*."""
    swap_pairs, chain_rules, vocab = _compile_rules(
        inverse, symmetric, transitive, chains, ontology)
    if not vocab:
        return triples

    asserted = triples.select(*TRIPLE_COLUMNS)
    # the only pass over the full stream: pushed-down predicate filter
    in_vocab = asserted.filter(F.col("pred").isin(vocab))
    all_edges = _closure_loop(
        triples.sparkSession, None, in_vocab, swap_pairs,
        chain_rules, max_rounds, "owl_property_materialize")

    inferred = all_edges.join(
        in_vocab.select("subj", "pred", "obj"),
        ["subj", "pred", "obj"], "left_anti")
    # asserted stream (full graph, untouched) + net-new closure rows;
    # asserted rows win on (s,p,o) — same shape as rdfs_materialize
    new_rows = inferred.join(
        asserted.select("subj", "pred", "obj"),
        ["subj", "pred", "obj"], "left_anti")
    return asserted.unionByName(new_rows)


def owl_incremental(
        materialized: DataFrame, delta: DataFrame, *,
        inverse: list[tuple[str, str]] | None = None,
        symmetric: list[str] | None = None,
        transitive: list[str] | None = None,
        chains: list[tuple[str, str, str]] | None = None,
        ontology: DataFrame | None = None,
        max_rounds: int = 12) -> DataFrame:
    """Maintain an owl-closed graph under INSERTIONS: given
    *materialized* = ``owl_property_materialize(asserted)`` and a
    *delta* of new triples, returns the closure of asserted ∪ delta —
    without re-deriving anything: the semi-naive loop starts from the
    delta frontier, so every rule application touches at least one new
    fact and work is proportional to the delta's consequences (the
    standard semi-naive completeness argument: a derivation using only
    old facts is already in *materialized*). Same broadcast-rule /
    vocabulary-pruned shapes as the full closure; the 10^12-row closed
    graph streams to the output with no shuffle."""
    return materialized.select(*TRIPLE_COLUMNS).unionByName(
        owl_incremental_delta(
            materialized, delta, inverse=inverse, symmetric=symmetric,
            transitive=transitive, chains=chains, ontology=ontology,
            max_rounds=max_rounds))


def owl_incremental_delta(
        materialized: DataFrame, delta: DataFrame, *,
        inverse: list[tuple[str, str]] | None = None,
        symmetric: list[str] | None = None,
        transitive: list[str] | None = None,
        chains: list[tuple[str, str, str]] | None = None,
        ontology: DataFrame | None = None,
        max_rounds: int = 12) -> DataFrame:
    """The NET-NEW rows of :func:`owl_incremental` alone (new asserted
    delta + its closure consequences, both anti-joined against the
    closed base) — what a MERGE-INTO-shaped snapshot sink commits as
    its append per micro-batch (r5)."""
    swap_pairs, chain_rules, vocab = _compile_rules(
        inverse, symmetric, transitive, chains, ontology)
    base = materialized.select(*TRIPLE_COLUMNS)
    new_delta = (delta.select(*TRIPLE_COLUMNS)
                 .dropDuplicates(["subj", "pred", "obj"])
                 .join(base.select("subj", "pred", "obj"),
                       ["subj", "pred", "obj"], "left_anti"))
    if not vocab:
        return new_delta
    mat_vocab = base.filter(F.col("pred").isin(vocab))
    frontier = new_delta.filter(F.col("pred").isin(vocab))
    all_edges = _closure_loop(
        materialized.sparkSession, mat_vocab, frontier, swap_pairs,
        chain_rules, max_rounds, "owl_incremental")
    # net-new closure rows: not in the closed base, not in the delta
    inferred = all_edges.join(
        mat_vocab.unionByName(frontier).select("subj", "pred", "obj"),
        ["subj", "pred", "obj"], "left_anti")
    return new_delta.unionByName(inferred)


def functional_sameas(triples: DataFrame, *,
                      functional: list[str] | None = None,
                      inverse_functional: list[str] | None = None,
                      ontology: DataFrame | None = None) -> DataFrame:
    """prp-fp / prp-ifp: (a, b) ``owl:sameAs`` pairs (a > b, the
    kg/smush.py input shape) — a functional property maps each subject
    to ONE object, so two objects of the same subject are the same
    entity; inverse-functional dually. One hash agg per property class
    keyed on the determining side, pair fan-out bounded by the group
    sizes (an adversarially hot key means the data genuinely asserts
    that many equal entities)."""
    functional = list(functional or [])
    inverse_functional = list(inverse_functional or [])
    if ontology is not None:
        ax = parse_axioms(ontology)
        functional += ax["functional"]
        inverse_functional += ax["inverse_functional"]

    def pairs(edges: DataFrame, key: str, val: str) -> DataFrame:
        narrow = edges.select(F.col("pred").alias("_p"),
                              F.col(key).alias("_k"),
                              F.col(val).alias("_v"))
        anchor = narrow.groupBy("_p", "_k").agg(F.min("_v").alias("_m"))
        return (narrow.join(anchor, ["_p", "_k"])
                .filter(F.col("_v") != F.col("_m"))
                .select(F.col("_v").alias("a"), F.col("_m").alias("b"))
                .dropDuplicates(["a", "b"]))

    spark = triples.sparkSession
    empty = spark.createDataFrame([], "a string, b string")
    out = empty
    if functional:
        fp = triples.filter(F.col("pred").isin(functional)
                            & F.col("obj_is_iri"))
        out = out.unionByName(pairs(fp, "subj", "obj"))
    if inverse_functional:
        ifp = triples.filter(F.col("pred").isin(inverse_functional)
                             & F.col("obj_is_iri"))
        out = out.unionByName(pairs(ifp, "obj", "subj"))
    return out.dropDuplicates(["a", "b"])
