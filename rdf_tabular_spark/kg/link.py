"""Stage 3: entity linking + canonicalization (north rule).

Module mentions (import/dependency names) referring to the same logical
module get one canonical IRI. Pipeline — all set-level, skew-aware:

1. distinct mentions (tiny vs. the triple stream: map-side-combined distinct)
2. normalize + character-3-gram shingles (pure column expressions)
3. minhash signatures: B bands x R rows, each minhash = ``array_min`` over
   ``hash(shingle, seed)`` — native, no UDF (the reference has no analog;
   this generalizes its cross-table IRI linking J2 into a similarity join)
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
   a localCheckpoint cuts the plan. canonical = min mention
7. broadcast remap of the mention IRIs inside the triple stream
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .annotate import KGI, module_iri

N_BANDS = 8
ROWS_PER_BAND = 2
MAX_BUCKET = 256  # hot-bucket guard: drop LSH buckets larger than this
#: vocabulary size below which linking runs driver-local (the mention
#: vocabulary is broadcast-sized anyway; a distributed LSH self-join + CC
#: loop on a few thousand rows is pure scheduling latency). Same adaptive
#: philosophy as AQE's broadcast-vs-SMJ choice from runtime stats.
#: The two paths bucket differently: the driver twin's minhash is crc32,
#: the distributed path's is Spark's murmur3 ``hash``, so they find
#: different LSH candidates and the same names can group differently on
#: either side of this threshold (the 4,837 names of the seed-401 kg_build
#: benchmark input give 1,671 entities through the driver twin and 1,478
#: through the distributed path).
SMALL_VOCAB = 4096


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
    n_hashes = N_BANDS * ROWS_PER_BAND
    # single fold updating all minima at once (keeps codegen small); the
    # lambda takes exactly the declared params — an extra default-arg param
    # would be bound by Spark to the element index
    init = F.array_repeat(F.lit(9223372036854775807).cast("long"), n_hashes)
    sig = F.aggregate(
        sh, init,
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[F.hash(x, F.lit(s)).cast("long") for s in range(n_hashes)]),
            lambda u, v: F.least(u, v)),
    )
    bands = []
    for b in range(N_BANDS):
        row_hashes = [
            F.element_at(sig, b * ROWS_PER_BAND + r + 1)
            for r in range(ROWS_PER_BAND)
        ]
        bands.append(F.hash(*row_hashes, F.lit(b)))
    return F.array(*bands)


def _norm_py(s: str) -> str:
    import re as _re

    return _re.sub(r"[/._-]+", ".", _re.sub(r"^\./", "", s.lower()))


def _shingles_py(s: str, k: int = 3) -> frozenset:
    padded = "^" + s + "$"
    if len(padded) <= k:
        return frozenset([padded[:k]])
    return frozenset(padded[i:i + k] for i in range(len(padded) - k + 1))


def link_mentions_local(names: list[str],
                        jaccard_threshold: float = 0.55) -> list[tuple[str, str]]:
    """Driver-local twin of candidate_pairs + connected_components for
    sub-broadcast vocabularies: crc32 minhash banding -> exact-Jaccard
    verification -> union-find. Deterministic (crc32, no PYTHONHASHSEED
    dependence) so resumed runs relink identically. Returns
    (mention, canonical) rows."""
    from zlib import crc32

    n_hashes = N_BANDS * ROWS_PER_BAND
    sh: dict[str, frozenset] = {}
    buckets: dict[tuple[int, int], list[str]] = {}
    for nm in names:
        s = _shingles_py(_norm_py(nm))
        sh[nm] = s
        sig = [
            min(crc32(t.encode("utf-8"), seed) for t in s)
            for seed in range(n_hashes)
        ]
        for b in range(N_BANDS):
            key = (b, crc32(repr(sig[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]).encode()))
            buckets.setdefault(key, []).append(nm)

    parent: dict[str, str] = {nm: nm for nm in names}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) > MAX_BUCKET:
            continue  # same hot-bucket guard as the distributed path
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pair = (a, b) if a < b else (b, a)
                if pair in seen:
                    continue
                seen.add(pair)
                sa, sb = sh[a], sh[b]
                if len(sa & sb) / len(sa | sb) >= jaccard_threshold:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
    return [(nm, find(nm)) for nm in names]


def link_mentions(mentions: DataFrame,
                  jaccard_threshold: float = 0.55) -> DataFrame:
    """Adaptive entity linking: mentions(mention) -> labels
    (mention, canonical).

    The distinct-mention vocabulary decides the physical strategy (checked
    with a LIMIT probe, not a full count): at or below SMALL_VOCAB rows the
    whole link runs on the driver; above it, the distributed minhash-LSH
    self-join + label-propagation CC path runs."""
    spark = mentions.sparkSession
    distinct = mentions.select("mention").distinct()
    probe = distinct.limit(SMALL_VOCAB + 1).collect()
    if len(probe) <= SMALL_VOCAB:
        names = sorted(r["mention"] for r in probe)
        rows = link_mentions_local(names, jaccard_threshold)
        return spark.createDataFrame(rows, "mention string, canonical string")
    return connected_components(
        distinct, candidate_pairs(distinct, jaccard_threshold))


def candidate_pairs(mentions: DataFrame, jaccard_threshold: float = 0.55) -> DataFrame:
    """mentions(mention) -> similar pairs (a, b, jaccard), a < b."""
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
    return pairs


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
    mentions: DataFrame, pairs: DataFrame, max_iter: int = 10
) -> DataFrame:
    """(mention, canonical) via fixed-step min-label propagation: after
    *max_iter* rounds (or earlier, once a round changes nothing) each
    mention's canonical is the min label within that many hops. Pair
    endpoints missing from *mentions* are dropped, and a null mention
    stays its own (null) entity."""
    from ..caching import cache_bounded, release

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
    labels = edges.filter(own).select(
        F.col("x").alias("mention"), F.col("y").alias("label"))
    # Each round references the previous labels once, so the plan grows
    # by one join + aggregate per round; every 3rd and the last round cut
    # it with a localCheckpoint (a persisted frame keeps its plan, and
    # nested callers such as smush(smush(...)) render it into every
    # explain string) and check convergence there. Rounds after a fixed
    # point change nothing, so stopping there keeps the fixed-step result
    # the SQL twins compute.
    held = None  # the last checkpointed frame
    try:
        for it in range(max_iter):
            step = (
                edges.join(labels, F.col("y").eqNullSafe(F.col("mention")))
                .groupBy("x")
                .agg(F.min("label").alias("label"),
                     F.min(F.when(own, F.col("label"))).alias("old"))
                .filter(F.col("old").isNotNull() | F.col("x").isNull())
            )
            labels = step.select(F.col("x").alias("mention"), "label")
            if (it + 1) % 3 and it + 1 < max_iter:
                continue
            step = step.localCheckpoint()
            if held is not None:
                release(held)
            held = step
            labels = step.select(F.col("x").alias("mention"), "label")
            changed = step.filter(F.col("label") != F.col("old"))
            if not changed.limit(1).count():
                break
    except BaseException:
        if held is not None:
            release(held)
        raise
    finally:
        edges.unpersist()
    if held is not None:
        # registered so repeated calls in a long-lived session cannot
        # accumulate caches
        cache_bounded(held)
    return labels.select("mention", F.col("label").alias("canonical"))


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


def remap_triples(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite mention-level module IRIs to canonical IRIs. The mention map
    is tiny relative to the triple stream -> broadcast hash joins, no
    shuffle of the triples."""
    iri_map = labels.filter(F.col("mention") != F.col("canonical")).select(
        module_iri(F.col("mention")).alias("from_iri"),
        module_iri(F.col("canonical")).alias("to_iri"),
    )
    bmap = F.broadcast(iri_map)
    out = (
        triples.join(bmap, triples.subj == bmap.from_iri, "left")
        .withColumn("subj", F.coalesce(F.col("to_iri"), F.col("subj")))
        .drop("from_iri", "to_iri")
    )
    out = (
        out.join(bmap, (out.obj == bmap.from_iri) & out.obj_is_iri, "left")
        .withColumn("obj", F.coalesce(F.col("to_iri"), F.col("obj")))
        .drop("from_iri", "to_iri")
    )
    return out


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
