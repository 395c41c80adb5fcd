"""Incremental KG maintenance: re-extract only what changed.

At 10^12 files the content scan inside extraction is the dominant cost
of the pipeline (SURVEY §7). A daily snapshot touches a tiny fraction
of files, so recomputing the whole graph re-reads ~100 TB to change
~0.1 %. The incremental path:

1. ``source_diff`` — compare snapshots by (repo, path) + content sha256.
   Both sides project down to three narrow columns BEFORE the join, so
   the diff never shuffles content; the join is a plain shuffle join on
   (repo, path) (sha equality checked post-join). The OLD side is the
   previous extraction's file rows (``extract.unpack_files``): the old
   content is never needed, or retained, for diffing.
2. ``incremental_structures`` — keep the previous snapshot's extraction
   rows for unchanged files (anti-join against the changed/removed key
   set), run the extraction UDF ONLY over added/changed files (semi-join
   of the new source against the — usually tiny, so broadcast — delta
   key set: the full content column never moves).
3. ``incremental_graph`` — relink + reassemble from the merged
   structures. Linking and assembly operate on narrow extracted rows
   (~80 bytes), so a global rerun of those stages costs orders of
   magnitude less than the avoided content scan; this also keeps
   canonical labels globally consistent (a new alias can re-canonicalize
   an old mention), which per-file patching could not.

The invariant — incremental output is SET-IDENTICAL to a full recompute
on the new snapshot — is pinned by test and by the kg_incremental
oracle row (Spark runs the incremental path from v1, DuckDB recomputes
v2 from scratch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import extract, link
from .assemble import build_graph

FILE_KEY = ["repo", "path"]


def _with_sha(src: DataFrame) -> DataFrame:
    if "content_sha256" in src.columns:
        return src
    return src.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def source_diff(old_src: DataFrame, new_src: DataFrame) -> DataFrame:
    """(repo, path, status) for every file that differs between
    snapshots; status in {'added', 'removed', 'changed'}. Unchanged files
    are absent — the result is delta-sized, not corpus-sized."""
    old = _with_sha(old_src).select(
        *FILE_KEY, F.col("content_sha256").alias("old_sha"))
    new = _with_sha(new_src).select(
        *FILE_KEY, F.col("content_sha256").alias("new_sha"))
    joined = old.join(new, FILE_KEY, "full_outer")
    return (
        joined.select(
            *FILE_KEY,
            F.when(F.col("old_sha").isNull(), "added")
            .when(F.col("new_sha").isNull(), "removed")
            .when(F.col("old_sha") != F.col("new_sha"), "changed")
            .alias("status"))
        .filter(F.col("status").isNotNull())
    )


def incremental_structures(prev_structs: DataFrame, new_src: DataFrame,
                           diff: DataFrame) -> DataFrame:
    """Extraction output (file rows included) for the NEW snapshot,
    touching content only for added/changed files. This is the single
    home of the delta-merge invariant (every diff status invalidates;
    only added/changed re-extract) — pipeline.run_incremental calls it
    too."""
    stale_keys = diff.select(*FILE_KEY)  # every diff status invalidates
    fresh_keys = diff.filter(
        F.col("status").isin("added", "changed")).select(*FILE_KEY)
    kept = prev_structs.join(
        F.broadcast(stale_keys), FILE_KEY, "left_anti")
    # broadcast the delta keys: the semi-join must not shuffle `content`
    fresh_src = new_src.join(F.broadcast(fresh_keys), FILE_KEY, "left_semi")
    return kept.unionByName(extract.extract_structures(fresh_src))


def incremental_graph(prev_structs: DataFrame, new_src: DataFrame,
                      jaccard_threshold: float = 0.55):
    """Full new-snapshot graph from (old extraction, new source).

    Returns (structs, labels, triples); ``structs`` is the new snapshot's
    extraction table — persist it as the input for the NEXT delta."""
    diff = source_diff(extract.unpack_files(prev_structs), new_src)
    structs = incremental_structures(prev_structs, new_src, diff)
    mentions = structs.filter(
        F.col("kind").isin("import", "dep")).select(
        F.col("name").alias("mention"))
    labels = link.link_mentions(mentions, jaccard_threshold)
    triples = build_graph(extract.unpack_files(structs), structs, labels)
    return structs, labels, triples


def graph_diff(old_triples: DataFrame, new_triples: DataFrame) -> DataFrame:
    """Triple-level diff of two graph versions: (change, subj, pred,
    obj) with change ∈ {'added', 'removed'} — the audit artifact an
    incremental maintenance run publishes next to the new snapshot
    (what changed, reviewable without replaying the pipeline).

    Two anti-joins on the narrow (subj, pred, obj) key — the same
    shuffle shape as A3 set-dedup; unchanged triples (the overwhelming
    majority of a 10^12-row graph under a small delta) are hash-joined
    away and never materialize in the output."""
    key = ["subj", "pred", "obj"]
    added = (
        new_triples.select(*key)
        .join(old_triples.select(*key), key, "left_anti")
        .select(F.lit("added").alias("change"), *key))
    removed = (
        old_triples.select(*key)
        .join(new_triples.select(*key), key, "left_anti")
        .select(F.lit("removed").alias("change"), *key))
    return added.unionByName(removed).dropDuplicates()
