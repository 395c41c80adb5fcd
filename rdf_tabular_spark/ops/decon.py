"""Train/test decontamination: flag training documents sharing word
n-grams with an evaluation set.

The standard pre-training hygiene pass (n-gram overlap decontamination):
every training document that contains any n-gram of any benchmark/test
document is flagged (and typically dropped or split-audited).

Scale shape — the test side is always small (benchmark suites are
thousands of documents, the train side is the 100 TB corpus):

- the test set's distinct n-gram hashes are BROADCAST, so the train side
  is a map-side semi-join: one scan, no shuffle of the corpus;
- the only shuffle is the final per-doc hit count over the (tiny)
  matching subset;
- hashes are md5 (8-byte prefix would do) so the broadcast stays narrow
  and the DuckDB oracle computes identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import expr as S
from .text import normalize_text


def ngram_hash_set(df: DataFrame, n: int, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(id, gram) rows: md5 of each word n-gram of the normalized text.
    Documents shorter than *n* tokens yield no grams."""
    staged = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("_toks"))
    toks = F.col("_toks")
    idx = F.when(
        F.size(toks) >= n,
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")))
    return staged.select(
        id_col, F.explode(grams).alias("gram"))


def contaminated_docs(train: DataFrame, test: DataFrame, n: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per contaminated training doc: how many distinct test n-grams it
    contains. Clean docs are absent (anti-join the result to drop)."""
    test_grams = ngram_hash_set(test, n, text_col, id_col) \
        .select("gram").distinct()
    hits = ngram_hash_set(train, n, text_col, id_col).join(
        F.broadcast(test_grams), "gram")
    return (hits.groupBy(id_col)
            .agg(F.count_distinct("gram").alias("n_test_ngrams"))
            .select(id_col, F.col("n_test_ngrams").cast("long")))


def fuzzy_decon_pairs(
    train: DataFrame, test: DataFrame, threshold: float = 0.5, k: int = 3,
    bands: int = 8, rows_per_band: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
    engine: str = "fast",
) -> DataFrame:
    """Near-duplicate decontamination: exact n-gram overlap
    (:func:`contaminated_docs`) misses lightly-edited test copies, so
    this flags (train_id, test_id, jaccard) pairs via a MinHash-banded
    CROSS-corpus candidate join verified with exact Jaccard.

    Scale shape: the eval side is tiny (benchmark suites), so its banded
    keys BROADCAST — the 100 TB train side computes signatures map-only
    and never shuffles; candidates (a tiny set) carry only ids until the
    shingle re-attach for verification. ``engine="md5"`` swaps murmur3
    for md5 end-to-end so a SQL engine reproduces the rows bit-for-bit
    (the oracle path; ~an order of magnitude more hash cost).
    """
    from .dedup import minhash_signature, minhash_signature_md5, with_shingles

    def banded(df: DataFrame, side: str) -> tuple[DataFrame, DataFrame]:
        base = with_shingles(df, text_col, k, id_col)
        if engine == "md5":
            base = base.withColumn(
                "sig", minhash_signature_md5(F.col("sh"),
                                             bands * rows_per_band))
            keys = F.array(*[
                F.md5(F.concat_ws("|", F.lit(str(b)), *[
                    F.element_at("sig", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)]))
                for b in range(bands)])
            sh = base.select(F.col("id").alias(side), F.col("sh").alias(f"sh_{side}"))
        else:
            base = base.withColumn(
                "shh", F.transform("sh", lambda s: F.xxhash64(s))
            ).withColumn(
                "sig", F.expr(minhash_signature(
                    S.col("shh"), bands * rows_per_band).sql))
            keys = F.array(*[
                F.hash(F.lit(b), *[
                    F.element_at("sig", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)])
                for b in range(bands)])
            sh = base.select(F.col("id").alias(side), F.col("shh").alias(f"sh_{side}"))
        bucketed = base.select(
            F.col("id").alias(side), F.explode(keys).alias("key"))
        return bucketed, sh

    tr_keys, tr_sh = banded(train, "train_id")
    te_keys, te_sh = banded(test, "test_id")
    pairs = (
        tr_keys.join(F.broadcast(te_keys), "key")
        .select("train_id", "test_id").dropDuplicates(["train_id", "test_id"]))
    return (
        pairs.join(tr_sh, "train_id").join(F.broadcast(te_sh), "test_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_train_id", "sh_test_id"))
            / F.size(F.array_union("sh_train_id", "sh_test_id")))
        .filter(F.col("jaccard") >= threshold)
        .select("train_id", "test_id", F.round("jaccard", 6).alias("jaccard"))
    )
