"""Document deduplication family: exact, n-gram-Jaccard (exact, with prefix
blocking), MinHash+LSH (approximate, the scale path), SimHash, and
embedding-cosine near-dup.

Design notes for 100 TB:
- exact dedup is a map-side-combined hash agg over the content hash;
- the exact Jaccard path uses prefix filtering (PPJoin-style): a pair at
  Jaccard >= t must share one of each doc's ((1-t)*|s|)+1 lexicographically
  smallest shingles, so the candidate join only explodes that prefix, not
  every shingle;
- MinHash-LSH keeps signatures tiny (B*R ints/doc) and self-joins per band
  bucket — sub-linear candidate generation for web-scale corpora;
- portable hashes (md5) wherever the DuckDB oracle needs to replicate the
  exact result.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text

# the bounded cache registry moved to rdf_tabular_spark.caching (it is
# shared by kg/graph and ops/vocab too); re-exported here for back-compat
from ..caching import cache_bounded as _cache  # noqa: F401
from ..caching import release_caches  # noqa: F401


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct word-k-gram shingles from a token-array column.

    *toks* MUST be a reference to a materialized column, not an inline
    ``split(...)`` expression: expressions captured inside a
    higher-order-function lambda are duplicated per use-site, so an inline
    tokenizer would re-run its regex chain for every shingle element
    (measured 18× slower). ``array_join(slice(...))`` keeps exactly one
    *toks* reference per element."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " ")))


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word-k-gram shingles of the normalized text. Prefer
    :func:`with_shingles` / :func:`shingles_from_tokens` over a staged
    token column in anything hot — see the lambda-capture note there."""
    return shingles_from_tokens(F.split(normalize_text(c), " "), k)


def with_shingles(df: DataFrame, text_col: str, k: int,
                  id_col: str, out: str = "sh") -> DataFrame:
    """(id, sorted distinct shingles) with the tokenizer staged through a
    projection boundary so the shingle lambda sees a column reference."""
    staged = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_toks"))
    return staged.select(
        "id", F.sort_array(shingles_from_tokens(F.col("_toks"), k)).alias(out))


def prefix_fingerprint(c: Column, prefix_chars: int | None = None) -> Column:
    """md5 of the (optionally prefix-truncated) normalized text — the
    single home of the exact-dedup fingerprint (exact_duplicates, the
    streaming dedup, the composed curation pipeline row)."""
    norm = normalize_text(c)
    if prefix_chars is not None:
        norm = F.substring(norm, 1, prefix_chars)
    return F.md5(norm)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     prefix_chars: int | None = None) -> DataFrame:
    """Groups of exact duplicates (by md5 of normalized text) with the
    elected keeper = min id. Returns (fp, n, keep_id).

    *prefix_chars* fingerprints only the first N normalized characters —
    the common production variant that collapses boilerplate-prefixed
    documents (and the variant the small-SF oracle uses so duplicate
    groups actually exist in the synthetic corpus)."""
    withfp = df.select(
        F.col(id_col),
        prefix_fingerprint(F.col(text_col), prefix_chars).alias("fp"))
    return (
        withfp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame, threshold: float = 0.8, k: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """EXACT near-duplicate pairs at word-k-gram Jaccard >= threshold.

    Prefix-filtered: only each document's smallest ((1-t)|s|)+1 shingles
    (lexicographic order — replicable in plain SQL) generate candidates."""
    base = with_shingles(df, text_col, k, id_col)
    # candidates-then-verify: the exploded prefix join carries only
    # (tok_hash, id) — never the shingle arrays — so the shuffle is narrow;
    # arrays are re-attached to the (much smaller) candidate pair set.
    # Shingles are compared as xxhash64 values (set sizes are identical to
    # the string comparison modulo 64-bit collisions).
    # persist: three plan branches (prefix explode, both verify sides) read
    # this — without it each branch re-runs the tokenize+shingle pipeline.
    hashed = _cache(base.select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("shh"),
    ).withColumn("prefix", F.slice(
        "shh", F.lit(1),
        F.floor(F.size("shh") * F.lit(1.0 - threshold)).cast("int") + F.lit(1))
    ))
    # PPJoin length filter: Jaccard >= t forces t*|b| <= |a| <= |b|/t,
    # pruning candidates before the pair dedup shuffle
    tokens = hashed.select(
        "id", F.size("shh").alias("sz"), F.explode("prefix").alias("tok"))
    cand = (
        tokens.select(F.col("tok"), F.col("id").alias("a"), F.col("sz").alias("sz_a"))
        .join(tokens.select(F.col("tok"), F.col("id").alias("b"), F.col("sz").alias("sz_b")), "tok")
        .filter(
            (F.col("a") < F.col("b"))
            & (F.col("sz_a") * F.lit(threshold) <= F.col("sz_b"))
            & (F.col("sz_b") * F.lit(threshold) <= F.col("sz_a")))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sides = hashed.select("id", "shh")
    return (
        cand.join(sides.withColumnsRenamed({"id": "a", "shh": "sh_a"}), "a")
        .join(sides.withColumnsRenamed({"id": "b", "shh": "sh_b"}), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signature(sh: Column, n_hashes: int = 32) -> Column:
    """n_hashes MinHash values, each = min(hash(shingle, seed)). Native."""
    # One fold over the shingle array updating all n_hashes minima at once —
    # 32 separate transform+array_min expressions bloat whole-stage codegen
    # (multi-MiB task binaries); this keeps the tree linear in n_hashes.
    init = F.array_repeat(F.lit(9223372036854775807).cast("long"), n_hashes)
    return F.aggregate(
        sh, init,
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[F.hash(x, F.lit(s)).cast("long") for s in range(n_hashes)]),
            lambda u, v: F.least(u, v)),
    )


def minhash_lsh_pairs(
    df: DataFrame, threshold: float = 0.8, k: int = 3,
    bands: int = 16, rows_per_band: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
    verify: bool = True, max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate near-dup pairs: shingle -> minhash -> band buckets ->
    bucket self-join; optional exact-Jaccard re-verification of candidates
    (the scale path: candidates ≪ n², verification is cheap).

    *max_bucket_size* is the adversarial-bucket guard for web-scale
    corpora: a bucket of B members emits B(B-1)/2 candidates, so one hot
    bucket (boilerplate, empty/templated docs — measured 1716-member
    buckets on the 20k skew-bench corpus) turns a band join into a
    quadratic single task. Buckets above the cap switch to HUB pairs
    (every member vs the bucket's min-id member): B-1 candidates, and
    the bucket's members stay one connected component for dedup
    clustering. Pairwise completeness inside oversized buckets is traded
    away — at dedup thresholds such a bucket is one boilerplate cluster,
    and cluster election only needs connectivity. None (default) keeps
    the exact all-pairs semantics."""
    # candidates-then-verify: the band-bucket self-join shuffles only
    # (band, key, id) — the hashed-shingle arrays are re-attached to the far
    # smaller candidate pair set for exact-Jaccard verification. Staged +
    # persisted for the same lambda-capture / multi-branch reasons as the
    # exact path.
    hashed = _cache(with_shingles(df, text_col, k, id_col).select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("shh"),
    ).withColumn(
        "sig", minhash_signature(F.col("shh"), bands * rows_per_band)
    ))
    band_keys = F.array(*[
        F.hash(F.lit(bnd), *[
            F.element_at("sig", bnd * rows_per_band + r + 1)
            for r in range(rows_per_band)])
        for bnd in range(bands)
    ])
    bucketed = hashed.select("id", F.explode(band_keys).alias("key"))
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("key")
        # cached: three consumers (both join sides + hub pairs) would
        # otherwise each recompute the shingle->minhash->window subtree
        sized = _cache(bucketed.select(
            "key", "id",
            F.count("*").over(w).alias("_n"),
            F.min("id").over(w).alias("_hub")))
        bucketed = sized.filter(F.col("_n") <= max_bucket_size) \
            .select("key", "id")
        # hub < id always (hub is the bucket min), so ordering holds
        hub_pairs = (
            sized.filter((F.col("_n") > max_bucket_size)
                         & (F.col("id") != F.col("_hub")))
            .select(F.col("_hub").alias("a"), F.col("id").alias("b")))
    pairs = (
        bucketed.select(F.col("key"), F.col("id").alias("a"))
        .join(bucketed.select(F.col("key"), F.col("id").alias("b")), "key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    if max_bucket_size is not None:
        pairs = pairs.unionByName(hub_pairs)
    pairs = pairs.dropDuplicates(["a", "b"])
    if not verify:
        return pairs.select("a", "b", F.lit(None).cast("double").alias("jaccard"))
    sides = hashed.select("id", "shh")
    return (
        pairs.join(sides.withColumnsRenamed({"id": "a", "shh": "sh_a"}), "a")
        .join(sides.withColumnsRenamed({"id": "b", "shh": "sh_b"}), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signature_md5(sh: Column, n_hashes: int = 16) -> Column:
    """Oracle-portable MinHash: per seed, the LEXICOGRAPHIC min of
    ``md5(shingle || '|' || seed)`` hex strings — every engine with md5 and
    string min reproduces it bit-for-bit. Production uses
    :func:`minhash_signature` (murmur3 single-fold, ~an order of magnitude
    cheaper); this variant exists so the LSH path itself gets a DuckDB
    oracle row rather than a rows-only check."""
    return F.array(*[
        F.array_min(F.transform(
            sh, lambda s: F.md5(F.concat(s, F.lit(f"|{seed}")))))
        for seed in range(n_hashes)
    ])


def minhash_lsh_pairs_md5(
    df: DataFrame, threshold: float = 0.5, k: int = 3,
    bands: int = 8, rows_per_band: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """:func:`minhash_lsh_pairs` with portable md5 hashing end-to-end:
    band key = md5(band || row-minhashes), verification = exact Jaccard on
    the shingle STRING sets. Same candidates-then-verify shape — the band
    bucket join shuffles only (key, id)."""
    base = _cache(with_shingles(df, text_col, k, id_col).withColumn(
        "sig", minhash_signature_md5(F.col("sh"), bands * rows_per_band)))
    band_keys = F.array(*[
        F.md5(F.concat_ws("|", F.lit(str(b)), *[
            F.element_at("sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]))
        for b in range(bands)
    ])
    bucketed = base.select("id", F.explode(band_keys).alias("key"))
    pairs = (
        bucketed.select(F.col("key"), F.col("id").alias("a"))
        .join(bucketed.select(F.col("key"), F.col("id").alias("b")), "key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sides = base.select("id", "sh")
    return (
        pairs.join(sides.withColumnsRenamed({"id": "a", "sh": "sh_a"}), "a")
        .join(sides.withColumnsRenamed({"id": "b", "sh": "sh_b"}), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


#: bits used by the portable simhash: 15 hex digits of md5 = 60 bits, the
#: widest md5 prefix that always fits a signed 64-bit integer
SIMHASH_MD5_BITS = 60


def simhash_md5(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Oracle-portable 60-bit SimHash: per-token hash = integer value of
    the first 15 md5 hex digits (``conv(substr(md5(t),1,15),16,10)``),
    bit b of the sketch = majority of token-hash bit b. Same staging
    discipline as :func:`simhash64` (the production xxhash64 variant)."""
    staged = df.select(
        F.col(id_col),
        F.transform(
            F.filter(F.split(normalize_text(F.col(text_col)), " "),
                     lambda t: t != ""),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
            .cast("long")).alias("_th"))
    th = F.col("_th")
    n = F.size(th)

    def bit_set(b: int) -> Column:
        ones = F.size(F.filter(
            th, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1))
        return F.when(ones * 2 > n, F.lit(1 << b).cast("long")) \
            .otherwise(F.lit(0).cast("long"))

    sim = bit_set(0)
    for b in range(1, SIMHASH_MD5_BITS):
        sim = sim.bitwiseOR(bit_set(b))
    return staged.select(F.col(id_col), sim.alias("simhash"))


def simhash_md5_near_pairs(df: DataFrame, max_hamming: int = 8,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Near-dup pairs on the portable simhash, blocked on max_hamming+1
    disjoint chunks of the 60 bits (pigeonhole: full recall at the
    requested distance)."""
    sh = _cache(simhash_md5(df, id_col, text_col))
    chunks = F.array(*[
        F.struct(F.lit(i).alias("chunk"),
                 F.shiftright("simhash", s)
                 .bitwiseAND(F.lit((1 << w) - 1)).alias("v"))
        for i, (s, w) in enumerate(
            simhash_chunks(SIMHASH_MD5_BITS, max_hamming))
    ])
    e = sh.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", "c.chunk", "c.v")
    a = e.select(F.col("chunk"), F.col("v"), F.col(id_col).alias("a"),
                 F.col("simhash").alias("ha"))
    b = e.select(F.col("chunk"), F.col("v"), F.col(id_col).alias("b"),
                 F.col("simhash").alias("hb"))
    return (
        a.join(b, ["chunk", "v"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash over tokens: per bit, sign of the sum of per-token
    contributions (+1/-1 from xxhash64 bit b). Pure column expressions.

    The token-hash array is STAGED as a physical column first: the 64
    bit-folds reference it ~128 times, and an inline tokenizer expression
    would be duplicated into every one of those use-sites (lambda-capture
    duplication, see shingles_from_tokens)."""
    staged = df.select(
        F.col(id_col),
        F.transform(
            F.filter(F.split(normalize_text(F.col(text_col)), " "),
                     lambda t: t != ""),
            lambda t: F.xxhash64(t)).alias("_th"))
    th = F.col("_th")
    n = F.size(th)

    def bit_set(b: int) -> Column:
        # contribution sum for bit b is 2*ones - n; bit set when positive
        ones = F.size(F.filter(
            th, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1))
        mask = (1 << b) if b < 63 else -(1 << 63)  # two's-complement sign bit
        return F.when(ones * 2 > n, F.lit(mask).cast("long")) \
            .otherwise(F.lit(0).cast("long"))

    sim = bit_set(0)
    for b in range(1, 64):
        sim = sim.bitwiseOR(bit_set(b))
    return staged.select(F.col(id_col), sim.alias("simhash"))


def simhash_chunks(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """Pigeonhole blocking layout: a pair within Hamming distance h must
    agree on at least one of h+1 disjoint chunks. Returns
    [(shift, width), ...] covering *bits*, widths as even as possible.
    More chunks = coarser buckets = more candidates — the recall guarantee
    scales with the REQUESTED distance instead of silently capping at 3
    (the old fixed 4-chunk layout missed distance-4..8 pairs)."""
    n = max_hamming + 1
    base, rem = divmod(bits, n)
    out, shift = [], 0
    for i in range(n):
        w = base + (1 if i < rem else 0)
        out.append((shift, w))
        shift += w
    return out


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, blocked
    on max_hamming+1 disjoint bit chunks (pigeonhole: recall = 1.0 at the
    requested distance)."""
    # both self-join sides read the simhash column — compute it once
    sh = _cache(simhash64(df, id_col, text_col))
    chunks = F.array(*[
        F.struct(F.lit(i).alias("chunk"),
                 F.shiftright("simhash", s)
                 .bitwiseAND(F.lit((1 << w) - 1)).alias("v"))
        for i, (s, w) in enumerate(simhash_chunks(64, max_hamming))
    ])
    e = sh.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", "c.chunk", "c.v")
    a = e.select(F.col("chunk"), F.col("v"), F.col(id_col).alias("a"),
                 F.col("simhash").alias("ha"))
    b = e.select(F.col("chunk"), F.col("v"), F.col(id_col).alias("b"),
                 F.col("simhash").alias("hb"))
    return (
        a.join(b, ["chunk", "v"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def cosine_sim(va: Column, vb: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda v: F.sqrt(F.aggregate(  # noqa: E731
        v, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")))
    return dot / (norm(va) * norm(vb))


def blocked_self_join(emb: DataFrame, id_col: str, vec_col: str,
                      block_col: str | None) -> DataFrame:
    """Candidate frame (a, va[, blk]) × (b, vb[, blk]) for a vector
    self-join: block-equi join when *block_col* is given (IVF-style), else
    a full cross join (small-n exact baseline only). Single home for the
    scaffolding :func:`embedding_near_pairs` and similarity.knn_join share."""
    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
                   *([F.col(block_col).alias("blk")] if block_col else []))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
                   *([F.col(block_col).alias("blk")] if block_col else []))
    return a.join(b, on="blk", how="inner") if block_col else a.crossJoin(b)


def embedding_near_pairs(
    emb: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-dup pairs. Blocked on *block_col* when given
    (e.g. a cluster/label id — IVF-style), else full cross self-join (only
    for small n / as the verification baseline)."""
    joined = blocked_self_join(emb, id_col, vec_col, block_col)
    return (
        joined.filter(F.col("a") < F.col("b"))
        .withColumn("cosine", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def embedding_near_pairs_kmeans(
    emb: DataFrame, threshold: float = 0.9,
    n_clusters: int = 8, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """:func:`embedding_near_pairs` with the block column LEARNED by
    deterministic k-means (ops/similarity.kmeans) — at 100 TB nobody hands
    you a label column. Like any single-assignment IVF blocking, pairs
    straddling a cluster boundary are missed; raise n_clusters/iters or
    fall back to the exact path for recall-critical runs."""
    from .similarity import kmeans

    assigned, _ = kmeans(emb, n_clusters, iters, id_col, vec_col)
    return embedding_near_pairs(
        assigned, threshold, id_col, vec_col, block_col="cluster")


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iter: int = 10,
) -> DataFrame:
    """Near-dup pairs -> clusters -> canonical election: the step every
    dedup pipeline runs AFTER a pair finder (exact/ngram/MinHash/SimHash/
    embedding all emit (a, b) pairs; reference analog: the PK/FK passes
    reduce to per-key groups, reader.rb:652-660 — near-dup groups need the
    transitive closure instead).

    Returns one row per document in *docs*: (id_col, cluster_id, keep)
    where cluster_id is the MIN member id of the doc's connected
    component in the pair graph (deterministic, layout-invariant) and
    keep marks exactly that canonical member — `filter(keep)` is the
    deduplicated corpus, singletons keep themselves.

    Scale shape: min-label propagation over the PAIR graph only
    (kg/link.connected_components — one join + hash agg per round on
    narrow (id, label) rows); docs touched
    once by the final left join. Pair graphs are tiny relative to the
    corpus (near-dup rate << 1), so the iteration cost is bounded by the
    duplicate population, not the corpus.
    """
    from ..kg.link import connected_components

    ids = docs.select(F.col(id_col).cast("string").alias("mention"))
    # localCheckpoint the pair graph before iterating: the pair finder's
    # plan (e.g. the cosine self-join's per-element lambda trees) would
    # otherwise be re-embedded in every propagation step's plan and blow
    # up driver heap — same base-truncation as kg/graph.components
    pg = pairs.select(
        F.col("a").cast("string"), F.col("b").cast("string")
    ).localCheckpoint()
    members = (
        pg.select(F.col("a").alias("mention"))
        .union(pg.select(F.col("b").alias("mention")))
        .distinct()
        .localCheckpoint()
    )
    labels = connected_components(members, pg, max_iter=max_iter)
    out = (
        ids.join(labels, "mention", "left")
        .select(
            F.col("mention"),
            F.coalesce("canonical", F.col("mention")).alias("cluster_id"),
        )
    )
    return out.select(
        F.col("mention").alias(id_col),
        "cluster_id",
        (F.col("mention") == F.col("cluster_id")).alias("keep"),
    )


def elect_canonical(assign: DataFrame, scores: DataFrame,
                    id_col: str = "doc_id",
                    score_col: str = "score") -> DataFrame:
    """Quality-aware canonical election: re-elect each dedup cluster's
    keeper as the member with the HIGHEST score (ties -> min id),
    replacing :func:`dedup_clusters`' positional min-id keeper. The
    production pattern is to keep the best-quality member of every
    near-dup cluster (longest / highest quality-score / most-cited), not
    an arbitrary one — curation guidance the min-id election can't give.

    *assign* is dedup_clusters' (id, cluster_id) output; *scores* maps id
    -> a numeric quality score. Returns (id, cluster_id, score, keep)
    with exactly one keep per cluster.

    Scale shape: one join of the NARROW assignment rows to the score
    column plus one map-side-combined arg-min aggregation per cluster
    (min of a (negated score, id) struct — the hot boilerplate cluster
    reaches its reducer as one partial per partition); the corpus is
    never touched. NULL scores negate to +infinity, so they lose to
    every scored member and fall back to min-id among themselves —
    the election stays total and deterministic for unscored rows.
    """
    sid = F.col(id_col).cast("string")
    sc = scores.select(sid.alias(id_col), F.col(score_col).alias("_score"))
    j = (assign.select(sid.alias(id_col), "cluster_id")
         .join(sc, id_col, "left"))
    neg = -F.coalesce(F.col("_score"), F.lit(float("-inf")))
    winner = (
        j.groupBy("cluster_id")
        .agg(F.min(F.struct(neg.alias("ns"),
                            F.col(id_col).alias("i"))).alias("w"))
        .select("cluster_id", F.col("w.i").alias("_keeper")))
    return (
        j.join(winner, "cluster_id")
        .select(id_col, "cluster_id", F.col("_score").alias(score_col),
                (F.col(id_col) == F.col("_keeper")).alias("keep")))


def substring_duplicate_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, min_docs: int = 2,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499) in its
    k-gram-island formulation: a token position is duplicated when some
    k-token window covering its window-start appears in >= *min_docs*
    DISTINCT documents; maximal runs of duplicated windows merge into
    ``[span_start, span_end)`` token-index spans per document — the spans
    a curation pipeline cuts out of the training text.

    Returns (doc_id, span_start, span_end, span_tokens), one row per
    maximal duplicated span.

    Scale shape (100 TB corpus):

    - gram rows carry ``(md5, id, pos)`` only — document text is scanned
      once and never re-shuffled;
    - the duplicated-gram set is a map-side-combinable count-distinct
      aggregate followed by a SEMI-join back, so a boilerplate gram
      appearing in 10^6 documents contributes one flag and 10^6 hit rows
      — never the 10^12 pairs an all-pairs formulation would (this is
      why substring dedup needs no LSH-style bucket cap);
    - island merging is one per-document window over the (small) hit
      subset: partition key = doc id, so no global sort.
    """
    from pyspark.sql import Window

    toks = F.split(normalize_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    idx = F.when(
        F.size("_t") >= k, F.sequence(F.lit(0), F.size("_t") - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = staged.select(
        "doc_id",
        F.explode(F.transform(idx, lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice("_t", i + 1, k), " ")).alias("g"),
        ))).alias("x"),
    ).select("doc_id", F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("g")
    )
    hits = grams.join(dup, "g", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        hits
        .withColumn("_prev", F.lag("pos").over(w))
        # windows are all k tokens long, so [prev, prev+k) and [pos,
        # pos+k) overlap-or-touch exactly when pos <= prev + k
        .withColumn("_new", F.when(
            F.col("_prev").isNull() | (F.col("pos") > F.col("_prev") + k),
            1).otherwise(0))
        .withColumn("_island", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        isl.groupBy("doc_id", "_island")
        .agg(F.min("pos").alias("_s"), (F.max("pos") + k).alias("_e"))
        .select(
            "doc_id",
            F.col("_s").cast("long").alias("span_start"),
            F.col("_e").cast("long").alias("span_end"),
            (F.col("_e") - F.col("_s")).cast("long").alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame, spans: DataFrame | None = None,
    id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, min_docs: int = 2,
) -> DataFrame:
    """Apply exact-substring dedup: cut every duplicated span
    (:func:`substring_duplicate_spans`, passed in or computed here) out
    of the normalized text — the actionable Lee-et-al pass a curation
    pipeline runs before training.

    Returns (doc_id, clean_text, n_tokens, n_removed_tokens); documents
    with no duplicated span pass through with n_removed_tokens = 0.

    Scale shape: spans aggregate to one array per affected document
    (bounded by doc length), broadcast-or-shuffle joined back on the doc
    key; the cut itself is a map-only higher-order filter over the token
    array — no per-row Python."""
    if spans is None:
        spans = substring_duplicate_spans(df, id_col, text_col, k, min_docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    toks = F.split(normalize_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t")) \
        .join(per_doc, "doc_id", "left")
    spans_arr = F.coalesce(
        "_spans", F.array().cast(
            "array<struct<span_start:long,span_end:long>>"))
    kept = F.filter(
        F.transform("_t", lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda x: ~F.exists(
            spans_arr,
            lambda s: (x["i"] >= s["span_start"]) & (x["i"] < s["span_end"])),
    )
    return staged.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda x: x["t"]), " ")
        .alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("long").alias("n_removed_tokens"),
    )


def hard_negative_pairs(
    emb: DataFrame, lo: float = 0.2, hi: float = 0.7,
    n_clusters: int = 8, iters: int = 2, per_anchor: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive hard-negative mining: same-cluster pairs whose cosine
    sits in the band ``[lo, hi)`` — close enough to be informative
    negatives, below the near-duplicate bar (a pair >= *hi* is a
    positive/duplicate, not a negative; random pairs are too easy).
    Keeps the ``per_anchor`` hardest (highest-cosine) negatives per
    anchor, ties broken by partner id.

    The candidate generator is the same learned-k-means blocking as
    :func:`embedding_near_pairs_kmeans` — at scale the band query must
    never go all-pairs; cluster blocking bounds candidates exactly like
    the dedup path, and the per-anchor top-k is a window keyed by the
    anchor (WindowGroupLimit: per-partition heap, no full sort of a hot
    anchor's candidate list)."""
    from pyspark.sql import Window

    from .similarity import kmeans

    assigned, _ = kmeans(emb, n_clusters, iters, id_col, vec_col)
    joined = blocked_self_join(assigned, id_col, vec_col, "cluster")
    # quantize to integer micro-units with EXPLICIT half-up arithmetic
    # (floor(x*1e6 + 0.5)): pure double ops, bit-identical across
    # engines — decimal round() is not (engines disagree on ties for the
    # same double; found on this row's oracle). Band membership AND the
    # per-anchor ranking are decided on the quantized integer (ADVICE
    # r3): near-equal cosines (engine summation order shifts a 64-term
    # dot product by ~1e-7) collapse to the same micro value and the
    # partner-id tiebreak resolves them identically on every engine.
    lo_micro, hi_micro = int(round(lo * 1e6)), int(round(hi * 1e6))
    band = (
        joined.filter(F.col("a") != F.col("b"))
        .withColumn("_c", cosine_sim(F.col("va"), F.col("vb")))
        .withColumn("cosine_micro",
                    F.floor(F.col("_c") * 1e6 + 0.5).cast("long"))
        .filter((F.col("cosine_micro") >= lo_micro)
                & (F.col("cosine_micro") < hi_micro))
    )
    w = Window.partitionBy("a").orderBy(F.desc("cosine_micro"), F.asc("b"))
    return (
        band.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= per_anchor)
        .select(F.col("a").alias("anchor"), F.col("b").alias("negative"),
                "cosine_micro", F.col("_r").alias("rank"))
    )
