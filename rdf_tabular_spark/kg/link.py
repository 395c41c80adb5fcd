"""Stage 3: entity linking + canonicalization (north rule).

Module mentions (import/dependency names) referring to the same logical
module get one canonical IRI. The contract is one definition, whatever
the vocabulary size: labels = connected_components(vocabulary,
candidate_pairs(vocabulary)). Pipeline — all set-level, skew-aware:

1. distinct mentions (tiny vs. the triple stream: map-side-combined distinct)
2. normalize + character-3-gram shingles (native SQL expressions)
3. minhash signatures: B bands x R rows, each minhash the minimum of
   ``hash(shingle, seed)`` over the shingles (``ops.dedup.
   minhash_signature``, one native fold, no UDF; the reference has no
   analog; this generalizes its cross-table IRI linking J2 into a
   similarity join)
4. LSH blocking: explode band keys, self-join per (band, key) bucket;
   bucket sizes are capped (hot-bucket guard) before the pair join
5. verify, then dedup: every joined candidate row gets its exact Jaccard
   on the shingle sets (as injective long codes),
   ``|A∩B| / (|A| + |B| - |A∩B|)``, and is filtered right after the join;
   only the kept pairs, as narrow (a, b, jaccard) rows, reach the (a, b)
   dedup shuffle. A pair that collides in several bands has the same
   Jaccard in each, so the order changes nothing.
6. connected components by fixed-step min-label propagation: a self-loop
   per vertex makes a round one edges ⋈ labels join plus one aggregate;
   convergence is checked only every 3rd round and on the last one, where
   a localCheckpoint cuts the plan. canonical = min mention. The one
   driver step: for a vocabulary of at most SMALL_VOCAB names,
   link_mentions collects the verified pairs and runs the same rounds in
   Python, which saves the distributed loop's scheduling latency
7. canonicalize_mentions: a broadcast alias join rewrites the mention
   names on the narrow extracted rows, before assembly emits any triple

The expression builders (normalize_mention, shingles, shingle_code,
minhash_bands) take and return Spark SQL text (:mod:`..expr`); the plans
cross the py4j bridge once per projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import expr as S
from ..csvw.datatypes import RDF_TYPE
from ..expr import Expr
from ..operators.emit import triple, triple_rows
from ..ops.dedup import minhash_signature
from .annotate import KG, module_iri

N_BANDS = 8
ROWS_PER_BAND = 2
MAX_BUCKET = 256  # hot-bucket guard: drop LSH buckets larger than this
#: vocabulary size at or below which the propagation runs on the driver:
#: a distributed loop on a few thousand names is scheduling latency. The
#: pairs are the distributed LSH's either way, so the labels are the same
SMALL_VOCAB = 4096
#: label-propagation rounds of connected_components (and of its driver step)
CC_ROUNDS = 10


def normalize_mention(c: Expr) -> Expr:
    n = S.regexp_replace(S.lower(c), r"^\./", "")
    return S.regexp_replace(n, r"[/._-]+", ".")


def shingles(c: Expr, k: int = 3) -> Expr:
    padded = S.concat("^", c, "$")
    idx = S.sequence(1, S.greatest(S.length(padded) - (k - 1), 1))
    return S.array_distinct(
        S.transform(idx, lambda i: S.substring(padded, i, k)))


def shingle_code(t: Expr) -> Expr:
    """The shingle *t* (at most 3 characters) as a long: code point + 1 of
    each character in its own 21 bits, 0 for no character. Injective, so
    set sizes over codes equal those over the strings, and set operations
    on them run on primitive longs."""
    code = S.lit(0).cast("long")
    for p in range(3):
        cp = S.ascii(S.substring(t, p + 1, 1)).cast("long") + 1
        code = code + S.shiftleft(
            S.when(S.length(t) > p, cp).otherwise(0), 21 * p)
    return code


def minhash_bands(sh: Expr) -> Expr:
    """array of N_BANDS band-hash values over ROWS_PER_BAND minhashes each."""
    sig = minhash_signature(sh, N_BANDS * ROWS_PER_BAND)
    return S.array(*[
        S.hash(*[S.element_at(sig, b * ROWS_PER_BAND + r + 1)
                 for r in range(ROWS_PER_BAND)], b)
        for b in range(N_BANDS)
    ])


def link_mentions(mentions: DataFrame,
                  jaccard_threshold: float = 0.55) -> DataFrame:
    """Entity linking: mentions(mention) -> labels (mention, canonical),
    always ``connected_components(distinct, candidate_pairs(distinct))``.

    The distinct-mention vocabulary (checked with a LIMIT probe, not a
    full count) decides only where the propagation runs: at or below
    SMALL_VOCAB names the verified pairs are collected and propagated on
    the driver; above it, in Spark."""
    from .. import caching

    distinct = mentions.select("mention").distinct()
    probe = distinct.limit(SMALL_VOCAB + 1).collect()
    sig, pairs = _lsh_pairs(distinct, jaccard_threshold)
    try:
        if len(probe) > SMALL_VOCAB:
            # the propagation loop ends on a checkpoint of its own, so
            # nothing reads the signatures once it returns
            return connected_components(distinct, pairs)
        pairs = pairs.select("a", "b").collect()
    finally:
        caching.release(sig)
    labels = _propagate([r["mention"] for r in probe], pairs)
    return mentions.sparkSession.createDataFrame(
        sorted(labels.items(), key=lambda kv: (kv[0] is not None, kv[0])),
        "mention string, canonical string")


def _propagate(names: list, pairs: list) -> dict:
    """connected_components' rule on the driver: for CC_ROUNDS rounds,
    every name takes the min of its own and its neighbours' labels; a
    None name has no pairs and keeps the None label."""
    adj: dict = {n: [] for n in names}
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    label = {n: n for n in names}
    for _ in range(CC_ROUNDS):
        new = {n: min([label[n], *(label[m] for m in adj[n])])
               for n in names}
        if new == label:
            break
        label = new
    return label


def candidate_pairs(mentions: DataFrame, jaccard_threshold: float = 0.55) -> DataFrame:
    """mentions(mention) -> similar pairs (a, b, jaccard), a < b."""
    return _lsh_pairs(mentions, jaccard_threshold)[1]


def _lsh_pairs(mentions: DataFrame,
               jaccard_threshold: float) -> tuple[DataFrame, DataFrame]:
    """(signature checkpoint, pairs) of :func:`candidate_pairs`; the
    caller releases the checkpoint once nothing reads the pairs."""
    m = (
        mentions.select("mention").distinct()
        .selectExpr("*", normalize_mention(S.col("mention")).alias("norm").sql)
        .selectExpr("*", shingles(S.col("norm")).alias("sh").sql)
        .selectExpr("*", minhash_bands(S.col("sh")).alias("bands").sql)
    )
    # the distinct-mention set is orders of magnitude smaller than the
    # mention stream; localCheckpoint it so the LSH self-join's two sides
    # (and the downstream CC loop) don't each re-run the distinct + minhash
    # over the full extraction output. From here on the shingles are
    # codes: the verification below intersects arrays of longs
    m = m.selectExpr(
        "mention", "norm",
        S.transform(S.col("sh"), shingle_code).alias("sh").sql, "bands",
    ).localCheckpoint(eager=False)
    # hot-bucket guard: drop degenerate buckets via a windowed count —
    # one shuffle on (band, key), which the self-join below reuses
    bucketed = (
        m.selectExpr("mention", "sh", "posexplode(bands) AS (band, key)")
        .selectExpr("*", "count(1) OVER (PARTITION BY band, key) AS n")
        .filter(f"n <= {MAX_BUCKET}")
        .drop("n")
    )
    a = bucketed.selectExpr("band", "key", "mention AS a", "sh AS sh_a")
    b = bucketed.selectExpr("band", "key", "mention AS b", "sh AS sh_b")
    # verify before the dedup: the shuffle then carries the few kept
    # (a, b, jaccard) rows instead of every candidate with both shingle
    # arrays; |A∪B| comes from the set sizes, one array_intersect per row
    pairs = (
        a.join(b, ["band", "key"])
        .filter("a < b")
        .selectExpr("*", "size(array_intersect(sh_a, sh_b)) AS i")
        .selectExpr("*", "i / (size(sh_a) + size(sh_b) - i) AS jaccard")
        .filter((S.col("jaccard") >= jaccard_threshold).sql)
        .select("a", "b", "jaccard")
        .dropDuplicates(["a", "b"])
    )
    return m, pairs


#: hot-shingle guard for the blocked candidate generator: shingles in
#: more than this many distinct mentions are stop-shingles (".py", "lib")
#: and generate quadratic candidates without discriminating anything
MAX_SHINGLE_DF = 256


def shingle_blocked_pairs(mentions: DataFrame,
                          min_shared: int = 2,
                          max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Candidate mention pairs by shared-shingle blocking: (a, b, shared)
    for a < b sharing >= *min_shared* non-stop shingles. The PPJoin-style
    alternative to minhash-LSH blocking — exact recall at the blocking
    bar (LSH banding is probabilistic), fully engine-portable (no hash
    function in the plan), at the cost of touching every co-shingle pair
    once. The df cap bounds the per-shingle join fan-out to max_df², and
    the agg is map-side combined; the mention VOCABULARY (distinct
    names, not the 10^12-row mention stream) is the join input."""
    m = (
        mentions.select("mention").distinct()
        .selectExpr("mention", S.explode(shingles(
            normalize_mention(S.col("mention")))).alias("t").sql)
    )
    live = (
        m.selectExpr("*", "count(1) OVER (PARTITION BY t) AS df")
        .filter(f"df <= {max_df}")
        .drop("df")
    )
    a = live.selectExpr("t", "mention AS a")
    b = live.selectExpr("t", "mention AS b")
    return (
        a.join(b, "t")
        .filter("a < b")
        .groupBy("a", "b")
        .agg(F.expr("count(1) AS shared"))
        .filter(f"shared >= {min_shared}")
    )


def tfidf_rescore(mentions: DataFrame, pairs: DataFrame) -> DataFrame:
    """tf-idf rescoring of candidate pairs (the north rule's second
    linking stage after blocking): score(a, b) = idf-weighted Jaccard
    of the shingle sets,

        Σ_{t ∈ a∩b} idf(t)  /  Σ_{t ∈ a∪b} idf(t)

    with smoothed idf(t) = ln((N+1)/(df(t)+1)) over the distinct-mention
    vocabulary of size N — shared rare shingles count, shared
    stop-shingles barely do. Returns (a, b, tfidf_micro).

    Determinism: idf is quantized to integer micro-nats up front
    (``round(ln · 1e6)`` — the ops/text.ngram_lm_score convention), so
    both Σ are exact BIGINT sums under any partitioning, and the final
    ratio is quantized with pure integer arithmetic
    ``(2·10⁶·num + den) div (2·den)`` — floor(x·10⁶ + ½) without ever
    leaving integers, bit-identical across engines.

    Shape: the idf table is shingle-vocabulary-sized (broadcast); the
    pair scoring is one explode over each pair's union set + one
    broadcast join + one integer agg — candidates in, scores out,
    nothing rescans the corpus."""
    m = (
        mentions.select("mention").distinct()
        .selectExpr("mention", shingles(
            normalize_mention(S.col("mention"))).alias("sh").sql)
        .localCheckpoint(eager=False)
    )
    n = m.count()
    idf = (
        m.selectExpr("explode(sh) AS t")
        .groupBy("t").agg(F.expr("count(1) AS df"))
        .selectExpr("t", f"CAST(round(ln({S.sql(float(n + 1))} / (df + 1))"
                         " * 1000000.0D) AS long) AS idf_micro")
    )
    pa = (
        pairs.select("a", "b")
        .join(m.selectExpr("mention AS a", "sh AS sh_a"), "a")
        .join(m.selectExpr("mention AS b", "sh AS sh_b"), "b")
        .selectExpr("a", "b", "sh_a", "sh_b",
                    "explode(array_union(sh_a, sh_b)) AS t")
        .selectExpr("a", "b", "t", "array_contains(sh_a, t) "
                    "AND array_contains(sh_b, t) AS _probe")
    )
    return (
        pa.join(F.broadcast(idf), "t")
        .groupBy("a", "b")
        .agg(F.expr("sum(CASE WHEN _probe THEN idf_micro ELSE 0 END) AS num"),
             F.expr("sum(idf_micro) AS den"))
        .selectExpr("a", "b", "(2 * 1000000 * num + den) div (2 * den) "
                    "AS tfidf_micro")
    )


def connected_components(
    mentions: DataFrame, pairs: DataFrame, max_iter: int = CC_ROUNDS
) -> DataFrame:
    """(mention, canonical) via fixed-step min-label propagation: after
    *max_iter* rounds (or earlier, once a round changes nothing) each
    mention's canonical is the min label within that many hops. Pair
    endpoints missing from *mentions* are dropped, and a null mention
    stays its own (null) entity."""
    from .. import caching

    # a self-loop per vertex folds the vertex's own label into the
    # neighbour min, so a round is one join + one aggregate; the self-loop
    # also tells vertices from pair endpoints missing from `mentions`
    own = "x <=> y"
    p = pairs.filter("a != b")
    edges = (
        p.selectExpr("a AS x", "b AS y")
        .union(p.selectExpr("b AS x", "a AS y"))
        .union(mentions.selectExpr("mention AS x", "mention AS y").distinct())
    ).persist()

    def step(state: DataFrame, _: int) -> DataFrame:
        labels = state.selectExpr("x AS mention", "label")
        return (
            edges.join(labels, F.expr("y <=> mention"))
            .groupBy("x")
            .agg(F.expr("min(label) AS label"),
                 F.expr(f"min(CASE WHEN {own} THEN label END) AS old"))
            .filter("old IS NOT NULL OR x IS NULL")
        )

    # Each round references the previous labels once, so the plan grows
    # by one join + aggregate per round; cutting every 3rd and the last
    # round bounds it, and the convergence check runs there. Rounds after
    # a fixed point change nothing, so stopping there keeps the
    # fixed-step result the SQL twins compute.
    state, _ = caching.iterate(
        edges.filter(own).selectExpr("x", "y AS label"), step,
        max_iter, cut_every=3,
        until=lambda s, _: not s.filter("label != old").limit(1).count(),
        bases=(edges,))
    return state.selectExpr("x AS mention", "label AS canonical")


def entity_table(labels: DataFrame) -> DataFrame:
    """Canonical entity table: (iri, kind, canonical_key, aliases)."""
    return (
        labels.groupBy("canonical")
        .agg(F.expr("sort_array(collect_set(mention)) AS aliases"))
        .selectExpr(module_iri(S.col("canonical")).alias("iri").sql,
                    "'Module' AS kind", "canonical AS canonical_key",
                    "aliases")
    )


def canonicalize_mentions(extracted: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite import/dep mention names to their canonical form on the
    NARROW extracted rows (broadcast join) and deduplicate there — ~80-byte
    rows instead of ~300-byte IRI triples. Downstream edge emission is then
    globally unique by construction and the triple-level set-dedup shuffle
    disappears from the hot path."""
    alias_map = F.broadcast(labels.filter("mention != canonical"))
    return (
        extracted.filter("kind IN ('import', 'dep')")
        .join(alias_map, F.expr("name = mention"), "left")
        .withColumn("name", F.expr("coalesce(canonical, name)"))
        .drop("mention", "canonical")
    )


def module_metadata_from_labels(labels: DataFrame, canon_deps: DataFrame) -> DataFrame:
    """Module type/mention/versionSpec triples straight from the label map
    (canonical vocabulary) — replaces remapping + dedup of per-occurrence
    metadata."""
    canon_iri = module_iri(S.col("canonical"))
    type_rows = triple_rows(
        labels.select("canonical").distinct(),
        triple(canon_iri, RDF_TYPE, KG + "Module", is_iri=True))
    mention_rows = triple_rows(
        labels, triple(canon_iri, KG + "mention", S.col("mention"),
                       is_iri=False),
    ).dropDuplicates(["subj", "obj"])
    version_rows = triple_rows(
        canon_deps.filter("kind = 'dep' AND detail IS NOT NULL")
        .select("name", "detail").distinct(),
        triple(module_iri(S.col("name")), KG + "versionSpec",
               S.col("detail"), is_iri=False))
    return type_rows.unionByName(mention_rows).unionByName(version_rows)
