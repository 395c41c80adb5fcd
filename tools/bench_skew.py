"""Skew-hardening benchmark (VERDICT r2 item 6): the same jobs on a
uniform corpus vs an adversarially-skewed one — one monorepo holding 30%
of files AND one module imported by ~90% of them — must hold their wall
times (ratio ≈ 1), because every skew-exposed aggregation in the engine
is either map-side partial-combined (COUNT-shape: the reducer sees one
partial per upstream partition, not one row per occurrence) or
explicitly salted (set-shape: salted_agg_count), and the LSH band
groupBy shuffles only (key, id).

Measured jobs (SURVEY §7.4-5):

- edge_rollup      groupBy(obj).count() over edge triples — the hot
                   module IRI is ~58% of all edge objects in the skewed
                   corpus (90% of files x ~1/(imports+1) of each file's
                   edges... measured below); partial combine absorbs it
- salted_distinct  distinct (obj, subj) per module via salted_agg_count
                   — the A3/set shape where salting IS needed
- a3_dedup         dedupe_triples over the full candidate triple table
- vocab_counts     corpus vocabulary over content (hot token everywhere)
- lsh_bands        MinHash-LSH candidate pairs (band groupBy self-join)

Usage: python tools/bench_skew.py [n_files]  (default 20000; uses
$SPARK_GRAFT_CPUS or the usable core count). Prints one JSON line;
numbers recorded in BASELINE.md (round 3).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build(spark, n_files: int, skewed: bool, path: str):
    from rdf_tabular_spark.kg.synth import synth_source_table

    df = synth_source_table(
        spark, n_files,
        hot_repo=skewed, hot_module_frac=0.9 if skewed else 0.0)
    df.write.mode("overwrite").parquet(path)


def jobs(spark, src_path: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from rdf_tabular_spark.kg.annotate import (
        edge_triples,
        symbol_metadata_triples,
    )
    from rdf_tabular_spark.kg.extract import extract_structures
    from rdf_tabular_spark.kg.link import module_metadata_from_labels
    from rdf_tabular_spark.operators.dedup import dedupe_triples, salted_agg_count
    from rdf_tabular_spark.ops.dedup import minhash_lsh_pairs
    from rdf_tabular_spark.ops.vocab import vocab_counts

    src = spark.read.parquet(src_path)
    # range layout, as the round-3 numbers were taken: the monorepo's
    # files land in contiguous partitions
    extracted = extract_structures(
        src, spark.sparkContext.defaultParallelism * 2)
    extracted.write.mode("overwrite").parquet(src_path + ".extracted")
    extracted = spark.read.parquet(src_path + ".extracted")
    edges = edge_triples(extracted)
    # the mention-level candidate table: per-occurrence edges plus module
    # metadata (each mention its own entity) and symbol metadata
    mentions = extracted.filter("kind IN ('import', 'dep')").selectExpr(
        "name AS mention", "name AS canonical").distinct()
    candidates = edges.unionByName(
        module_metadata_from_labels(mentions, extracted)).unionByName(
        symbol_metadata_triples(extracted))
    docs = src.select(
        F.concat_ws("/", "repo", "path").alias("doc_id"),
        F.col("content").alias("text"))

    out: dict[str, float] = {}

    def timed(name, thunk):
        t0 = time.time()
        n = thunk()
        out[name] = round(time.time() - t0, 3)
        print(f"  {name}: {out[name]}s ({n} rows)", file=sys.stderr)

    timed("edge_rollup",
          lambda: edges.groupBy("obj").count().count())
    timed("salted_distinct",
          lambda: salted_agg_count(
              edges.select("obj", "subj").distinct(),
              ["obj"]).count())
    timed("a3_dedup",
          lambda: dedupe_triples(
              candidates.unionByName(edges)).count())
    timed("vocab_counts",
          lambda: vocab_counts(docs).count())
    timed("lsh_bands",
          lambda: minhash_lsh_pairs(docs, threshold=0.8).count())
    timed("lsh_bands_capped",
          lambda: minhash_lsh_pairs(
              docs, threshold=0.8, max_bucket_size=64).count())
    # substring dedup's skew claim: a boilerplate 8-gram present in ~90%
    # of documents (the hot module's import line) is ONE aggregate row +
    # one semi-join flag per occurrence — never candidate PAIRS — so the
    # skewed corpus costs ~the uniform one
    from rdf_tabular_spark.ops.dedup import substring_duplicate_spans

    timed("substring_spans",
          lambda: substring_duplicate_spans(docs, k=8).count())
    # assign_shards' skew exposure is the RANK BAND (= token count), not
    # the corpus label: a corpus where every document has the same
    # length concentrates the whole rank window into one band, split
    # only by the md5 sub-bands. Time the natural corpus against a
    # degenerate equal-length one (same rows, text replaced by a
    # constant 50-token string) — the sub-band split must hold the
    # per-window size and the wall time.
    from rdf_tabular_spark.ops.pack import assign_shards

    timed("shard_assign",
          lambda: assign_shards(docs, n_shards=32).count())
    timed("shard_assign_hotband",
          lambda: assign_shards(
              docs.withColumn(
                  "text",
                  F.array_join(F.array_repeat(F.lit("w"), 50), " ")),
              n_shards=32).count())
    # walk-sampling skew (r4): the hot module (~90% of files import it)
    # is one node with both a huge in-degree and, symmetrized, a huge
    # out-degree — the candidate join fans out |states at node| ×
    # degree; the ranked-adjacency equi-join + AQE skew split must hold
    # the wall time vs the uniform corpus
    from rdf_tabular_spark.kg.walks import node2vec_walks, random_walks

    wedges = edges.select(F.col("subj").alias("src"),
                          F.col("obj").alias("dst"))
    sym = wedges.unionByName(
        wedges.select(F.col("dst").alias("src"),
                      F.col("src").alias("dst")))
    timed("random_walks",
          lambda: random_walks(sym, length=4,
                               walks_per_node=1).count())
    timed("node2vec_walks",
          lambda: node2vec_walks(sym, length=3, walks_per_node=1,
                                 p=4.0, q=0.25).count())
    return out


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench-skew")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    base = f"/tmp/rdf_tabular_spark_skew_bench_{n_files}"
    results: dict[str, dict[str, float]] = {}
    for label, skewed in (("uniform", False), ("skewed", True)):
        path = f"{base}_{label}.parquet"
        build(spark, n_files, skewed, path)
        print(f"{label}:", file=sys.stderr)
        jobs(spark, path)  # warm-up (JIT/codegen/page cache)
        results[label] = jobs(spark, path)
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(path + ".extracted", ignore_errors=True)

    ratios = {k: round(results["skewed"][k] / results["uniform"][k], 3)
              for k in results["uniform"]}
    print(json.dumps({
        "metric": "skew_bench", "n_files": n_files, "cpus": int(cpus),
        "uniform_sec": results["uniform"], "skewed_sec": results["skewed"],
        "skew_ratio": ratios,
    }))


if __name__ == "__main__":
    main()
