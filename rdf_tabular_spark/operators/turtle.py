"""Turtle serialization sink (subject-grouped, prefix-compacted).

The reference gem serializes through rdf.rb's writer registry — Turtle
being the fixture format of its own spec suite (spec/data/*.ttl). This
is the distributed analog: triples group per subject into one Turtle
block (``subj p1 o1 ; p2 o2 .``), IRIs compact against a prefix table,
and literals escape per the Turtle grammar. Deterministic bytes: blocks
carry their predicate-object pairs sorted, so the same graph always
renders the same block per subject regardless of partitioning.

Scale shape: ONE hash aggregation keyed by subject (the same key the
JSON-lines sink groups on — at 10^12 triples this is the unavoidable
serialization shuffle and nothing else); prefix compaction and escaping
are pure column expressions. ``write_turtle`` emits block part-files
plus one tiny ``_prefixes.ttl`` header file — concatenating header +
parts in any part order is a valid Turtle document because every block
is self-contained.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ntriples import escape_literal

#: default prefix table (insertion order = longest-match preference is
#: enforced in code, not order)
DEFAULT_PREFIXES: dict[str, str] = {
    "csvw": "http://www.w3.org/ns/csvw#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}

#: conservative PN_LOCAL: compaction only applies when the local part
#: needs no grammar escapes
_LOCAL_SAFE = "^[A-Za-z0-9_][A-Za-z0-9_.-]*$"


def _iri_term(c: Column, prefixes: dict[str, str]) -> Column:
    """Compact an IRI against the prefix table (longest namespace wins),
    else wrap in angle brackets; ``_:`` ids pass through as bnodes."""
    out = F.concat(F.lit("<"), c, F.lit(">"))
    # shortest namespace first: each WHEN wraps the previous expression,
    # so the LAST-applied (longest) namespace is evaluated first and
    # longest-match wins for nested namespaces
    for name, ns in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
        local = F.substring(c, len(ns) + 1, 1 << 20)
        out = F.when(
            c.startswith(ns) & local.rlike(_LOCAL_SAFE),
            F.concat(F.lit(name + ":"), local),
        ).otherwise(out)
    return F.when(c.startswith("_:"), c).otherwise(out)


def _object_term(prefixes: dict[str, str]) -> Column:
    lit = F.concat(F.lit('"'), escape_literal(F.col("obj")), F.lit('"'))
    lit = F.when(
        F.col("obj_lang").isNotNull(),
        F.concat(lit, F.lit("@"), F.col("obj_lang")),
    ).when(
        F.col("obj_datatype").isNotNull(),
        F.concat(lit, F.lit("^^"), _iri_term(F.col("obj_datatype"), prefixes)),
    ).otherwise(lit)
    return F.when(F.col("obj_is_iri"),
                  _iri_term(F.col("obj"), prefixes)).otherwise(lit)


def to_turtle_blocks(triples: DataFrame,
                     prefixes: dict[str, str] | None = None) -> DataFrame:
    """(subj, block): one self-contained Turtle statement block per
    subject, predicate-object pairs sorted — deterministic bytes."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    staged = triples.select(
        "subj",
        F.concat(_iri_term(F.col("pred"), prefixes), F.lit(" "),
                 _object_term(prefixes)).alias("_po"))
    return (
        staged.groupBy("subj")
        .agg(F.array_join(F.sort_array(F.collect_list("_po")), " ;\n    ")
             .alias("_body"))
        .select(
            "subj",
            F.concat(_iri_term(F.col("subj"), prefixes), F.lit(" "),
                     F.col("_body"), F.lit(" .")).alias("block"))
    )


def write_turtle(triples: DataFrame, path: str,
                 prefixes: dict[str, str] | None = None) -> str:
    """Write the graph as a Turtle dataset directory: ``_prefixes.ttl``
    (header) + block part-files. Executor-side text write — nothing is
    collected to the driver."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    blocks = to_turtle_blocks(triples, prefixes)
    blocks.select("block").sortWithinPartitions("block").write.mode(
        "overwrite").text(os.path.join(path, "blocks"))
    header = "".join(f"@prefix {k}: <{v}> .\n" for k, v in sorted(prefixes.items()))
    with open(os.path.join(path, "_prefixes.ttl"), "w", encoding="utf-8") as f:
        f.write(header)
    return path
