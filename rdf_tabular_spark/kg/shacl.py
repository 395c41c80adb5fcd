"""SHACL-lite: declarative shape validation over the triple table.

The reference validates *tabular* data (PK/FK/datatype facets,
reader.rb validate mode); once the graph is materialized, production KG
pipelines validate the GRAPH against shapes — the W3C SHACL core
subset that covers most real deployments:

- ``minCount`` / ``maxCount`` per (target class, property)
- ``class``: every value of property p on a target must be typed c
- ``nodeKind``: IRI vs Literal
- ``datatype``: literal values must carry the given datatype IRI
- ``pattern`` (sh:pattern): literal values must match the regex (r4)
- ``in`` (sh:in): closed value enumeration (r4)
- ``min_inclusive`` / ``max_inclusive`` (sh:minInclusive /
  sh:maxInclusive): numeric range on literal values; a non-numeric
  literal under a range constraint is itself a violation (r4)

Shapes are declared as plain dicts (the compiled form a Turtle shapes
graph would parse to). The validator emits a VIOLATIONS table —
(focus, shape, constraint, detail) — empty means conformant, mirroring
the reference's error-channel style (collect, never raise).

Scale shape: targets = one filtered projection of the triple scan
(``rdf:type <class>``); every constraint is a hash aggregation or a
broadcast/anti join keyed on the focus node:

- cardinality: LEFT join targets->property counts (one agg, one join);
- class: property values anti-joined against the typed-node set
  (broadcast when the class is small, AQE decides);
- nodeKind/datatype: map-only filters on the property's triple slice.

Nothing ever shuffles the full triple table; each constraint touches
only its predicate's slice (predicate-partitioned storage prunes to
the touched predicates — materialize.py writes exactly that layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..csvw.datatypes import RDF_TYPE


def _violation(focus, shape: str, constraint: str, detail) -> list:
    return [
        focus.alias("focus"),
        F.lit(shape).alias("shape"),
        F.lit(constraint).alias("constraint"),
        detail.cast("string").alias("detail"),
    ]


def validate_shapes(triples: DataFrame, shapes: list[dict]) -> DataFrame:
    """Validate *triples* against *shapes*; returns the violations table
    (focus, shape, constraint, detail), empty when conformant.

    Each shape dict: ``{"name": str, "target_class": IRI, "property":
    IRI, "min_count": int?, "max_count": int?, "class": IRI?,
    "node_kind": "IRI"|"Literal"?, "datatype": IRI?}``.
    """
    out = None
    types = triples.filter(F.col("pred") == RDF_TYPE)
    for sh in shapes:
        name, prop = sh["name"], sh["property"]
        targets = (
            types.filter(F.col("obj") == sh["target_class"])
            .select(F.col("subj").alias("focus")).distinct()
        )
        values = triples.filter(F.col("pred") == prop)
        parts = []

        if "min_count" in sh or "max_count" in sh:
            counts = (
                targets.join(
                    values.select(F.col("subj").alias("focus"),
                                  F.lit(1).alias("_hit")), "focus", "left")
                .groupBy("focus")
                # count(right-side marker): left-miss rows contribute 0
                .agg(F.count("_hit").alias("n"))
            )
            lo = sh.get("min_count")
            hi = sh.get("max_count")
            bad = counts.filter(
                (F.col("n") < lo if lo is not None else F.lit(False))
                | (F.col("n") > hi if hi is not None else F.lit(False)))
            parts.append(bad.select(*_violation(
                F.col("focus"), name, "cardinality", F.col("n"))))

        if "class" in sh:
            typed = (
                types.filter(F.col("obj") == sh["class"])
                .select(F.col("subj").alias("v")).distinct()
            )
            vals = (
                values.join(targets,
                            values["subj"] == targets["focus"], "leftsemi")
                .filter(F.col("obj_is_iri"))
                .select("subj", F.col("obj").alias("v"))
            )
            bad = vals.join(typed, "v", "left_anti")
            parts.append(bad.select(*_violation(
                F.col("subj"), name, "class", F.col("v"))))

        if "node_kind" in sh:
            want_iri = sh["node_kind"] == "IRI"
            vals = values.join(
                targets, values["subj"] == targets["focus"], "leftsemi")
            bad = vals.filter(F.col("obj_is_iri") != F.lit(want_iri))
            parts.append(bad.select(*_violation(
                F.col("subj"), name, "node_kind", F.col("obj"))))

        if "datatype" in sh:
            vals = values.join(
                targets, values["subj"] == targets["focus"], "leftsemi")
            bad = vals.filter(
                F.col("obj_is_iri")
                | ~F.col("obj_datatype").eqNullSafe(sh["datatype"]))
            parts.append(bad.select(*_violation(
                F.col("subj"), name, "datatype",
                F.coalesce(F.col("obj_datatype"), F.lit("plain")))))

        if "pattern" in sh:  # sh:pattern — literal values must rlike it
            vals = values.join(
                targets, values["subj"] == targets["focus"], "leftsemi")
            bad = vals.filter(
                ~F.col("obj_is_iri")
                & ~F.col("obj").rlike(sh["pattern"]))
            parts.append(bad.select(*_violation(
                F.col("subj"), name, "pattern", F.col("obj"))))

        if "in" in sh:  # sh:in — closed value enumeration
            allowed = [str(v) for v in sh["in"]]
            vals = values.join(
                targets, values["subj"] == targets["focus"], "leftsemi")
            bad = vals.filter(~F.col("obj").isin(allowed))
            parts.append(bad.select(*_violation(
                F.col("subj"), name, "in", F.col("obj"))))

        if "min_inclusive" in sh or "max_inclusive" in sh:
            # sh:minInclusive / sh:maxInclusive — numeric comparison on
            # literal values; non-numeric literals violate (cast NULL)
            vals = values.join(
                targets, values["subj"] == targets["focus"], "leftsemi")
            num = F.expr("try_cast(obj AS decimal(38,12))")
            lo = sh.get("min_inclusive")
            hi = sh.get("max_inclusive")
            bad = vals.filter(
                ~F.col("obj_is_iri")
                & (num.isNull()
                   | (num < lo if lo is not None else F.lit(False))
                   | (num > hi if hi is not None else F.lit(False))))
            parts.append(bad.select(*_violation(
                F.col("subj"), name, "range", F.col("obj"))))

        for p in parts:
            out = p if out is None else out.unionByName(p)
    if out is None:
        raise ValueError("no shapes given")
    return out.dropDuplicates()
