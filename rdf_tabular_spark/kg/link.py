"""Stage 3: entity linking + canonicalization (north rule).

Module mentions (import/dependency names) referring to the same logical
module get one canonical IRI. The contract is one definition, whatever
the vocabulary size: labels = connected_components(vocabulary,
candidate_pairs(vocabulary)). Pipeline — all set-level, skew-aware:

1. distinct mentions (tiny vs. the triple stream: map-side-combined distinct)
2. normalize + character-3-gram shingles (pure column expressions)
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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.dedup import minhash_signature
from .annotate import module_iri

N_BANDS = 8
ROWS_PER_BAND = 2
MAX_BUCKET = 256  # hot-bucket guard: drop LSH buckets larger than this
#: vocabulary size at or below which the propagation runs on the driver:
#: a distributed loop on a few thousand names is scheduling latency. The
#: pairs are the distributed LSH's either way, so the labels are the same
SMALL_VOCAB = 4096
#: label-propagation rounds of connected_components (and of its driver step)
CC_ROUNDS = 10


def normalize_mention(c):
    n = F.lower(c)
    n = F.regexp_replace(n, r"^\./", "")
    n = F.regexp_replace(n, r"[/._-]+", ".")
    return n


def shingles(c, k: int = 3):
    padded = F.concat(F.lit("^"), c, F.lit("$"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(padded, i, k)))


def shingle_code(t):
    """The shingle *t* (at most 3 characters) as a long: code point + 1 of
    each character in its own 21 bits, 0 for no character. Injective, so
    set sizes over codes equal those over the strings, and set operations
    on them run on primitive longs."""
    code = F.lit(0).cast("long")
    for p in range(3):
        cp = F.ascii(F.substring(t, p + 1, 1)).cast("long") + 1
        code = code + F.shiftleft(
            F.when(F.length(t) > p, cp).otherwise(F.lit(0)), 21 * p)
    return code


def minhash_bands(sh):
    """array of N_BANDS band-hash values over ROWS_PER_BAND minhashes each."""
    sig = minhash_signature(sh, N_BANDS * ROWS_PER_BAND)
    bands = []
    for b in range(N_BANDS):
        row_hashes = [
            F.element_at(sig, b * ROWS_PER_BAND + r + 1)
            for r in range(ROWS_PER_BAND)
        ]
        bands.append(F.hash(*row_hashes, F.lit(b)))
    return F.array(*bands)


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
        mentions.select(F.col("mention"))
        .distinct()
        .withColumn("norm", normalize_mention(F.col("mention")))
        .withColumn("sh", shingles(F.col("norm")))
        .withColumn("bands", minhash_bands(F.col("sh")))
    )
    # the distinct-mention set is orders of magnitude smaller than the
    # mention stream; localCheckpoint it so the LSH self-join's two sides
    # (and the downstream CC loop) don't each re-run the distinct + minhash
    # over the full extraction output. From here on the shingles are
    # codes: the verification below intersects arrays of longs
    m = m.withColumn("sh", F.transform("sh", shingle_code)) \
        .localCheckpoint(eager=False)
    exploded = m.select(
        "mention", "sh", F.posexplode("bands").alias("band", "key"))

    # hot-bucket guard: drop degenerate buckets via a windowed count —
    # one shuffle on (band, key), which the self-join below reuses
    from pyspark.sql import Window

    w = Window.partitionBy("band", "key")
    bucketed = (
        exploded.withColumn("n", F.count(F.lit(1)).over(w))
        .filter(F.col("n") <= MAX_BUCKET)
        .drop("n")
    )
    a = bucketed.select(
        "band", "key", F.col("mention").alias("a"), F.col("sh").alias("sh_a"))
    b = bucketed.select(
        "band", "key", F.col("mention").alias("b"), F.col("sh").alias("sh_b"))
    # verify before the dedup: the shuffle then carries the few kept
    # (a, b, jaccard) rows instead of every candidate with both shingle
    # arrays; |A∪B| comes from the set sizes, one array_intersect per row
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("i") / (F.size("sh_a") + F.size("sh_b") - F.col("i")))
        .filter(F.col("jaccard") >= jaccard_threshold)
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
    from pyspark.sql import Window

    m = (
        mentions.select("mention").distinct()
        .withColumn("norm", normalize_mention(F.col("mention")))
        .select("mention", F.explode(shingles(F.col("norm"))).alias("t"))
    )
    live = (
        m.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("t")))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    a = live.select(F.col("t"), F.col("mention").alias("a"))
    b = live.select(F.col("t"), F.col("mention").alias("b"))
    return (
        a.join(b, "t")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
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
        .withColumn("norm", normalize_mention(F.col("mention")))
        .withColumn("sh", shingles(F.col("norm")))
        .localCheckpoint(eager=False)
    )
    n = m.count()
    idf = (
        m.select(F.explode("sh").alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("df"))
        .select(
            "t",
            F.round(F.log((F.lit(float(n + 1))) / (F.col("df") + 1)) * 1e6)
            .cast("long").alias("idf_micro"))
    )
    pa = (
        pairs.select("a", "b")
        .join(m.select(F.col("mention").alias("a"),
                       F.col("sh").alias("sh_a")), "a")
        .join(m.select(F.col("mention").alias("b"),
                       F.col("sh").alias("sh_b")), "b")
        .select("a", "b", "sh_a", "sh_b",
                F.explode(F.array_union("sh_a", "sh_b")).alias("t"))
        .select("a", "b", "t",
                (F.array_contains("sh_a", F.col("t"))
                 & F.array_contains("sh_b", F.col("t"))).alias("_probe"))
    )
    scored = (
        pa.join(F.broadcast(idf), "t")
        .groupBy("a", "b")
        .agg(
            F.sum(F.when(F.col("_probe"), F.col("idf_micro"))
                  .otherwise(F.lit(0))).alias("num"),
            F.sum("idf_micro").alias("den"))
        .select(
            "a", "b",
            F.expr("(2 * 1000000 * num + den) div (2 * den)")
            .alias("tfidf_micro"))
    )
    return scored


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
    own = F.col("x").eqNullSafe(F.col("y"))
    p = pairs.filter(F.col("a") != F.col("b"))
    edges = (
        p.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(p.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .union(mentions.select(F.col("mention").alias("x"),
                               F.col("mention").alias("y")).distinct())
    ).persist()

    def step(state: DataFrame, _: int) -> DataFrame:
        labels = state.select(F.col("x").alias("mention"), "label")
        return (
            edges.join(labels, F.col("y").eqNullSafe(F.col("mention")))
            .groupBy("x")
            .agg(F.min("label").alias("label"),
                 F.min(F.when(own, F.col("label"))).alias("old"))
            .filter(F.col("old").isNotNull() | F.col("x").isNull())
        )

    # Each round references the previous labels once, so the plan grows
    # by one join + aggregate per round; cutting every 3rd and the last
    # round bounds it, and the convergence check runs there. Rounds after
    # a fixed point change nothing, so stopping there keeps the
    # fixed-step result the SQL twins compute.
    state, _ = caching.iterate(
        edges.filter(own).select("x", F.col("y").alias("label")), step,
        max_iter, cut_every=3,
        until=lambda s, _: not s.filter(F.col("label") != F.col("old"))
        .limit(1).count(),
        bases=(edges,))
    return state.select(F.col("x").alias("mention"),
                        F.col("label").alias("canonical"))


def entity_table(labels: DataFrame) -> DataFrame:
    """Canonical entity table: (iri, kind, canonical_key, aliases)."""
    return (
        labels.groupBy("canonical")
        .agg(F.sort_array(F.collect_set("mention")).alias("aliases"))
        .select(
            module_iri(F.col("canonical")).alias("iri"),
            F.lit("Module").alias("kind"),
            F.col("canonical").alias("canonical_key"),
            F.col("aliases"),
        )
    )


def canonicalize_mentions(extracted: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite import/dep mention names to their canonical form on the
    NARROW extracted rows (broadcast join) and deduplicate there — ~80-byte
    rows instead of ~300-byte IRI triples. Downstream edge emission is then
    globally unique by construction and the triple-level set-dedup shuffle
    disappears from the hot path."""
    alias_map = F.broadcast(
        labels.filter(F.col("mention") != F.col("canonical")))
    return (
        extracted.filter(F.col("kind").isin("import", "dep"))
        .join(alias_map, F.col("name") == F.col("mention"), "left")
        .withColumn("name", F.coalesce(F.col("canonical"), F.col("name")))
        .drop("mention", "canonical")
    )


def module_metadata_from_labels(labels: DataFrame, canon_deps: DataFrame) -> DataFrame:
    """Module type/mention/versionSpec triples straight from the label map
    (canonical vocabulary) — replaces remapping + dedup of per-occurrence
    metadata."""
    from .. import TRIPLE_COLUMNS
    from .annotate import KG, module_iri, _t
    from ..csvw.datatypes import RDF_TYPE

    canon_iri = module_iri(F.col("canonical"))
    type_rows = labels.select("canonical").distinct().select(
        module_iri(F.col("canonical")).alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.lit(KG + "Module").alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
    )
    mention_rows = labels.select(
        canon_iri.alias("subj"),
        F.lit(KG + "mention").alias("pred"),
        F.col("mention").alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
    ).dropDuplicates(["subj", "obj"])
    version_rows = (
        canon_deps.filter((F.col("kind") == "dep") & F.col("detail").isNotNull())
        .select("name", "detail").distinct()
        .select(
            module_iri(F.col("name")).alias("subj"),
            F.lit(KG + "versionSpec").alias("pred"),
            F.col("detail").alias("obj"),
            F.lit(False).alias("obj_is_iri"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"),
        )
    )
    return type_rows.unionByName(mention_rows).unionByName(version_rows) \
        .select(*TRIPLE_COLUMNS)
