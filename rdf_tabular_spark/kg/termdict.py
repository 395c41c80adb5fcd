"""Term-dictionary encoding for the KG hot path (VERDICT r4 #2).

Every shuffle, cache, and materialized row of the string pipeline moves
full IRI terms (~60-180 bytes/triple); the full-pipeline scaling
ceiling the rounds kept hitting is exactly that memory-bus pressure.
Real triple stores dictionary-encode terms to fixed-width ids first —
RDF-3X's opening design decision (Neumann & Weikum, VLDB '08: "RDF-3X:
a RISC-style engine for RDF", §3.1) — so the working representation of
a triple is ``(s, p, o)`` int64 ids and strings exist only at the rim:
parse once on the way in, decode only at sinks.

Two-level scheme, chosen for the 100 TB shape:

1. **Map-side hash ids** (:func:`encode_triples`): id = ``xxhash64``
   of the term string, computed INSIDE the emitting projection — zero
   added shuffle, and whole-stage codegen collapses
   ``concat(...IRI parts...) -> xxhash64 -> drop string`` into one
   stage, so the term string is a per-row transient that never reaches
   a shuffle buffer, cache block, or output row. This is the streaming/
   one-shot encode: nothing global is consulted, so it parallelizes
   embarrassingly and works under Structured Streaming.
2. **Dense ids over the vocabulary** (:func:`dense_ids`): the distinct
   term set (≪ triples; entities + literals) gets dense ``0..V-1``
   int64 ids by the repo's content-addressed md5 discipline — md5
   bucket → per-bucket rank → driver prefix-sum of 4096 bucket counts
   — layout-invariant and deterministic, with NO global sort/window
   (the window partitions by bucket). Remapping hash ids to dense ids
   (:func:`remap_dense`) then joins on 8-byte longs, never strings.
   Dense ids buy delta-compressed storage and array-indexed join
   structures in a stored graph; the hash id is the join key that got
   the strings out of the hot path.

Collision safety: 64-bit hash ids collide with probability ~V²/2·2⁻⁶⁴
(~2.5e-5 at a 30M-term vocabulary). :func:`check_injective` verifies
injectivity over the vocabulary — one agg over V rows, not the triple
table — and raises loudly on a collision; at true 10^12-term scale the
documented escape is the 128-bit variant (two xxhash64 calls with
distinct salts riding as two longs), the same contract at twice the
key width. The reference has no analogue (its Ruby interpreter holds
every term in memory as a string); this module is the Spark-first
scale path for the same graph product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: encoded triple schema — the working representation of the graph
ENCODED_COLUMNS = ["s", "p", "o", "obj_is_iri", "obj_datatype", "obj_lang"]


def term_id(c: Column | str) -> Column:
    """Map-side int64 term id (xxhash64, Spark's default seed 42)."""
    return F.xxhash64(F.col(c) if isinstance(c, str) else c)


def encode_triples(triples: DataFrame) -> DataFrame:
    """String triples -> ``(s, p, o, obj_is_iri, obj_datatype,
    obj_lang)`` with s/p/o as int64 hash ids. Pure projection — zero
    shuffle; when composed over the assembly streams Catalyst collapses
    the IRI concat into the hash call, so output rows are 3 longs + the
    small literal flags and the IRI strings are never retained."""
    return triples.select(
        term_id("subj").alias("s"),
        term_id("pred").alias("p"),
        term_id("obj").alias("o"),
        "obj_is_iri", "obj_datatype", "obj_lang")


def vocabulary(triples: DataFrame) -> DataFrame:
    """Distinct ``(term, id)`` over every position of the triple
    stream. One map-side-combined distinct over the VOCABULARY (the
    set of entities + predicates + literal values — orders of magnitude
    narrower than the triple table at KG shape); this is the only place
    term strings shuffle, and it is vocabulary-sized by construction."""
    terms = (
        triples.select(F.col("subj").alias("term"))
        .unionByName(triples.select(F.col("pred").alias("term")))
        .unionByName(triples.select(F.col("obj").alias("term")))
        .distinct()
    )
    return terms.select("term", term_id("term").alias("id"))


def check_injective(vocab: DataFrame) -> None:
    """Raise if two distinct terms share a hash id (vocabulary-sized
    agg; the 64-bit birthday bound makes this astronomically rare below
    ~10^9 terms — see module docstring for the 128-bit escape)."""
    clash = (
        vocab.groupBy("id").agg(F.count(F.lit(1)).alias("n"),
                                F.collect_list("term").alias("terms"))
        .filter(F.col("n") > 1).limit(1).collect())
    if clash:
        raise RuntimeError(
            "term-id collision: "
            f"{clash[0]['terms']!r} share xxhash64 id {clash[0]['id']}; "
            "switch to the 128-bit encoding (two salted xxhash64 ids)")


def bucket_of(h, buckets: int):
    """Bucket ``0..buckets-1`` of the int hash column *h*. ``pmod``, not
    ``abs(h) % buckets``: abs of Int.MinValue fails the query under ANSI
    and stays negative without it, which lands outside the bucket range."""
    return F.pmod(h, F.lit(buckets))


def dense_ids(vocab: DataFrame, buckets: int = 4096) -> DataFrame:
    """Assign dense ``0..V-1`` ids over the vocabulary: md5 bucket →
    rank within bucket (partitioned window — never a global sort) →
    driver prefix-sum of the *buckets* counts. Deterministic and
    layout-invariant: the id is a pure function of the term SET, not of
    partitioning or arrival order (the repo's md5 discipline). Returns
    ``(term, id, dense_id)``."""
    from pyspark.sql import Window

    with_b = vocab.withColumn(
        "_b", bucket_of(F.hash(F.md5(F.col("term"))), buckets))
    counts = dict(
        (r["_b"], r["n"]) for r in
        with_b.groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect())
    base, offsets = 0, {}
    for k in sorted(counts):
        offsets[k] = base
        base += counts[k]
    off = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(offsets.items())
                       for x in kv]), F.col("_b"))
    w = Window.partitionBy("_b").orderBy("term")
    return (
        with_b.withColumn(
            "dense_id",
            (off + F.row_number().over(w) - 1).cast("long"))
        .select("term", "id", "dense_id")
    )


def remap_dense(encoded: DataFrame, dense: DataFrame) -> DataFrame:
    """Rewrite hash-id triples onto dense ids — three joins on 8-byte
    longs (the narrow dictionary broadcasts when it fits; shuffles on a
    long key otherwise — never on strings)."""
    def j(col: str) -> DataFrame:
        nonlocal out
        m = dense.select(F.col("id").alias(col),
                         F.col("dense_id").alias(f"_{col}"))
        out = out.join(m, col, "left").drop(col) \
            .withColumnRenamed(f"_{col}", col)
        return out

    out = encoded
    for c in ("s", "p", "o"):
        j(c)
    return out.select(*ENCODED_COLUMNS)


def pred_ids(spark, predicates) -> list[int]:
    """The int64 ids of a driver-sized predicate list — one local 3-row
    eval so the constants match the JVM's xxhash64 exactly (query
    planning consults the dictionary for constants; the data never
    ships strings)."""
    rows = spark.createDataFrame(
        [(p,) for p in predicates], "term string").select(
        term_id("term").alias("h")).collect()
    return [r["h"] for r in rows]


def edge_list_encoded(encoded: DataFrame, predicates=None) -> DataFrame:
    """graph.edge_list over an ENCODED triple table: ``(src, dst)``
    int64 edges. The predicate filter compares 8-byte ids against
    driver-computed constants; the downstream graph algorithms
    (pagerank_edges & co.) then shuffle longs, never IRI strings —
    the point of the dictionary."""
    from .graph import EDGE_PREDICATES

    ids = pred_ids(encoded.sparkSession,
                   predicates or EDGE_PREDICATES)
    return (
        encoded.filter(F.col("p").isin(ids) & F.col("obj_is_iri"))
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
    )


def decode_triples(encoded: DataFrame, vocab: DataFrame) -> DataFrame:
    """Sink-side decode: id triples + dictionary -> the standard string
    triple schema. Three equi-joins on int64 keys; this is the ONLY
    place strings re-enter, exactly as a triple store's result
    serializer consults its dictionary."""
    out = encoded
    for col, name in (("s", "subj"), ("p", "pred"), ("o", "obj")):
        m = vocab.select(F.col("id").alias(col),
                         F.col("term").alias(name))
        out = out.join(m, col, "left").drop(col)
    return out.select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang")
