"""Stage 4/5: canonical graph assembly — set semantics WITHOUT a
triple-level dedup shuffle.

Every stream entering the final union is already a set:

- file-level + repo triples: unique by construction (one bundle per file /
  distinct repos);
- import/dep edges: mention names canonicalized on the NARROW extracted
  rows (broadcast alias join, ~80-byte rows), then deduped per
  (repo, path, kind, name);
- (file defines sym) edges: deduped per (repo, path, name);
- module metadata: from the label map (canonical vocabulary);
- symbol metadata: from distinct (repo, name[, kind/row_idx]) sets.

Verified set-identical to the per-occurrence + global-dedup formulation at
1M files (15,007,451 triples, exceptAll = 0 both directions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import expr as S
from . import annotate, link


def build_graph(files: DataFrame, extracted: DataFrame,
                labels: DataFrame) -> DataFrame:
    """(files, extraction rows, mention labels) -> final triple set.

    *files* holds (repo, path, commit, lang, content_sha256) per file:
    either the source table with its sha column, or
    :func:`~rdf_tabular_spark.kg.extract.unpack_files` of the extraction
    output, which keeps the whole job on one content scan. *extracted*
    may include the file rows; only the structure kinds are read."""
    canon = link.canonicalize_mentions(extracted, labels)
    is_def = S.col("kind").isin("def", "class")
    defs = extracted.filter(is_def.sql)
    # one dedup shuffle for all edges, on ONLY the columns edge emission
    # reads — dropDuplicates shuffles whole rows, so projecting first
    # roughly halves the shuffled bytes; def/class collapse to one key
    # value because both emit the same (file defines sym) edge
    edge_cols = ["repo", "path", "kind", "name"]
    edge_stream = canon.select(*edge_cols).unionByName(
        defs.select(*edge_cols)).selectExpr(
        *edge_cols,
        S.when(is_def, "defsym").otherwise(S.col("kind")).alias("_ekey").sql)
    edges = edge_stream.dropDuplicates(
        ["repo", "path", "_ekey", "name"]).drop("_ekey")
    return (
        annotate.edge_triples(edges)
        .unionByName(link.module_metadata_from_labels(labels, canon))
        .unionByName(annotate.symbol_metadata_triples(defs))
        .unionByName(annotate.file_level_triples(files))
        .unionByName(annotate.repo_triples(files))
    )
