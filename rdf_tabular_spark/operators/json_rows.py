"""S12/EP3: JSON serialization — csv2json (reference reader.rb:398-624).

Minimal mode: a flat list of per-subject objects in row order. Standard
mode: a ``{"tables": [{url, common-props, row: [...]}]}`` envelope where
each row carries ``url``/``rownum``/``titles``/``describes``.

One renderer: :func:`json_lines` builds, as Spark SQL text, the frame of
JSON lines both outputs read — a subject object per line in minimal mode,
a row envelope per line in standard mode. Each subject object is a
``to_json(struct)`` per about-template group whose field order fixes key
order; single-reference ``valueUrl`` nesting (J3, reader.rb:592-601) is
resolved *statically* from template identity, so the nesting is part of
the expression tree, not a runtime join. :func:`write_json_lines` writes
the lines from the executors; ``reader.to_json`` collects and parses them
and adds only the table- and group-level envelope.
"""

from __future__ import annotations

import json
from collections import Counter

from pyspark.sql import DataFrame

from ..csvw.context import PREFIXES, expand_iri
from ..csvw.datatypes import RDF_TYPE
from ..csvw.metadata import CompiledColumn, CompiledTable
from .. import expr as S
from ..expr import Expr
from .cells import cell_values
from .emit import template_compiler

_INT_BASES = {
    "integer", "long", "int", "short", "byte", "nonNegativeInteger",
    "positiveInteger", "nonPositiveInteger", "negativeInteger",
    "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
}
_FLOAT_BASES = {"double", "float", "number", "decimal"}


def compact_iri(iri: str) -> str:
    """IRI -> pname via the CSVW context prefixes (longest namespace wins);
    full IRI when no prefix matches (reader.rb:558-564)."""
    best = None
    for pre, ns in PREFIXES.items():
        if iri.startswith(ns) and len(ns) < len(iri):
            if best is None or len(ns) > len(PREFIXES[best]):
                best = pre
    if best is None:
        return iri
    local = iri[len(PREFIXES[best]):]
    return f"{best}:{local}"


def compact_iri_col(c: Expr) -> Expr:
    """Executor-side ``compact_iri``: longest-namespace-first chained
    ``when`` over the (bounded, 43-entry) CSVW context prefix map —
    driver-compiled constants, whole-stage-codegen friendly. Tie order
    matches the driver-side function (dict order, stable sort)."""
    expr: Expr | None = None
    for pre, ns in sorted(PREFIXES.items(), key=lambda kv: -len(kv[1])):
        cond = c.startswith(ns) & (S.length(c) > len(ns))
        branch = S.concat(S.lit(pre + ":"), S.substring(c, len(ns) + 1, 2**24))
        expr = (S.when(cond, branch) if expr is None
                else expr.when(cond, branch))
    return expr.otherwise(c)


def _json_key(col: CompiledColumn, table: CompiledTable) -> str:
    if col.property_url is None:
        return col.name
    template = col.property_url
    if "{" in template:
        # templates over the per-column statics (_name/_column/_sourceColumn)
        # are constant per column -> expand driver-side
        from urllib.parse import unquote

        from ..csvw.templates import expand as py_expand, template_variables

        if set(template_variables(template)) <= {"_name", "_column",
                                                 "_sourceColumn"}:
            template = py_expand(template, {
                "_name": unquote(col.name),
                "_column": str(col.number),
                "_sourceColumn": str(col.source_number),
            })
        else:
            return template  # dynamic propertyUrl: unsupported in JSON mode
    expanded = expand_iri(template, base=table.url)
    if expanded == RDF_TYPE:
        return "@type"
    return compact_iri(expanded)


def _typed_value(col: CompiledColumn, item: Expr) -> Expr:
    base = col.datatype.base
    lex = item["lex"]
    if base in _INT_BASES:
        return lex.cast("long")
    if base in _FLOAT_BASES:
        return lex.cast("double")
    if base == "boolean":
        return lex.cast("boolean")
    return lex


def _is_nonfinite(d: Expr) -> Expr:
    return S.isnan(d) | (d == float("inf")) | (d == float("-inf"))


def _special_float_expr(col: CompiledColumn) -> Expr | None:
    """String twin for a scalar float column: the canonical XSD lexical
    (NaN / INF / -INF) when the value is non-finite, else null. Spark's
    JSON writer would spell these "Infinity"/"-Infinity"; the reference
    emits the literal's lexical form (reader.rb:575-576). Separator lists
    keep Spark's spelling (an array cannot mix number and string types)."""
    if (col.value_url or col.separator is not None
            or col.datatype.base not in _FLOAT_BASES):
        return None
    values = cell_values(col.name)
    d = S.try_element_at(values, S.lit(1))["lex"].cast("double")
    return S.when(
        (S.size(values) > 0) & _is_nonfinite(d),
        S.when(S.isnan(d), S.lit("NaN"))
        .when(d > 0, S.lit("INF"))
        .otherwise(S.lit("-INF")))


def _group_key(col: CompiledColumn) -> str:
    return col.about_url or ""


def json_lines(
    cells_df: DataFrame, table: CompiledTable, mode: str = "minimal",
) -> DataFrame:
    """cells DF -> (_row, pos, line): one JSON text per line, lines in
    document order by (_row, pos).

    - mode="minimal": one subject object per line;
    - mode="standard": one row envelope per line (pos 0,
      ``{"url": ..#row=N, "rownum": n[, "titles": ...], "describes":
      [...]}``)."""
    base = table.url

    # group columns by aboutUrl template (row subjects)
    group_order: list[str] = []
    groups: dict[str, list[CompiledColumn]] = {}
    for col in table.columns:
        if col.suppress_output:
            continue
        k = _group_key(col)
        if k not in groups:
            groups[k] = []
            group_order.append(k)
        groups[k].append(col)

    # J3 static nesting: a valueUrl template equal to another group's
    # aboutUrl template inlines that group (self-references stay strings).
    # The reference inlines only targets referenced EXACTLY ONCE in the row
    # (reader.rb:597 ref[:count] != 1); template equality makes that
    # statically decidable — two columns sharing a valueUrl template expand
    # to the same URL every row, so their count is never 1.
    vu_counts = Counter(
        c.value_url for cs in groups.values() for c in cs if c.value_url)
    inlined: set[str] = set()
    iri = template_compiler(table)

    def value_expr(col: CompiledColumn, own_group: str, depth: int) -> Expr | None:
        values = cell_values(col.name)
        if col.value_url:
            target = col.value_url
            if (depth < 3 and target != own_group and target in groups
                    and target != "" and vu_counts[target] == 1):
                inlined.add(target)
                nested = group_struct(target, depth + 1)
                cond = S.lit(True) if col.virtual else (S.size(values) > 0)
                vu = iri(col.value_url, col)
                return S.when(cond & vu.isNotNull(), nested)
            vu = iri(col.value_url, col)
            cond = S.lit(True) if col.virtual else (S.size(values) > 0)
            if _json_key(col, table) == "@type":
                # rdf:type objects are compacted pnames in JSON
                static = col.value_url if "{" not in col.value_url else None
                v = S.lit(compact_iri(expand_iri(static, base=base))) \
                    if static else vu
                return S.when(cond & vu.isNotNull(), v)
            return S.when(cond & vu.isNotNull(), vu)
        if col.separator is not None:
            arr = S.transform(values, lambda it: _typed_value(col, it))
            return S.when(S.size(values) > 0, arr)
        v = _typed_value(col, S.try_element_at(values, S.lit(1)))
        if (_json_key(col, table) == "@type"
                and col.datatype.base not in _INT_BASES
                and col.datatype.base not in _FLOAT_BASES
                and col.datatype.base != "boolean"):
            # @type without valueUrl: the cell VALUE is the type and is
            # compacted against the CSVW context (reader.rb:567-568
            # cell.valueUrl || cell.value)
            v = compact_iri_col(v)
        if col.datatype.base in _FLOAT_BASES:
            # non-finite doubles serialize as the XSD lexical via the twin
            # field below (reference keeps NaN/INF/-INF as strings while
            # finite values go native, reader.rb:575-576); null here so
            # exactly one of the pair survives ignoreNullFields
            v = S.when(~_is_nonfinite(v), v)
        return S.when(S.size(values) > 0, v)

    def group_struct(gkey: str, depth: int = 0) -> Expr:
        cols = groups[gkey]
        fields: list[Expr] = []
        # the group's subject template sees the last column's _name,
        # _column and _sourceColumn
        about = iri(gkey or None, table.columns[-1])
        if about is not None:
            fields.append(about.alias("@id"))
        present = S.lit(False)
        for col in cols:
            v = value_expr(col, gkey, depth)
            if v is None:
                continue
            key = _json_key(col, table)
            fields.append(v.alias(key))
            present = present | v.isNotNull()
            special = _special_float_expr(col)
            if special is not None:
                # duplicate struct field name: at most one of the pair is
                # non-null, and ignoreNullFields keeps the JSON key unique
                fields.append(special.alias(key))
                present = present | special.isNotNull()
        return S.when(present, S.struct(*fields)).otherwise(S.lit(None))

    # building order matters: value_expr marks inlined groups while structs
    # are constructed, so construct all structs first
    structs = {k: group_struct(k) for k in group_order}
    top = [S.to_json(structs[k]) for k in group_order if k not in inlined]
    objs = S.array_compact(S.array(*top))
    if mode == "minimal":
        return cells_df.selectExpr("_row", f"posexplode({objs.sql}) AS (pos, line)")
    # row titles: the rowTitles columns' string values, in declaration
    # order (reader.rb:533 merge_compacted_value(r, "titles", t))
    title_arrays = []
    for rt in table.row_titles:
        rcol = next((c for c in table.columns if c.name == rt), None)
        if rcol is not None:
            title_arrays.append(S.transform(
                cell_values(rcol.name), lambda v: v["lex"]))
    titles = (S.flatten(S.array(*title_arrays)) if title_arrays
              else S.array().cast("array<string>"))
    rows = cells_df.selectExpr(
        "_row", "_sourceRow", objs.alias("objs").sql,
        titles.alias("titles").sql)
    t, tj = S.col("titles"), S.to_json(S.col("titles"))
    # a single title is a scalar (merge_compacted_value): the one-element
    # array's JSON without its brackets
    titles_field = (
        S.when(S.size(t) <= 0, S.lit(""))
        .when(S.size(t) == 1, S.concat(
            S.lit('"titles":'), S.substring(tj, 2, S.length(tj) - 2),
            S.lit(",")))
        .otherwise(S.concat(S.lit('"titles":'), tj, S.lit(","))))
    url_prefix = json.dumps(f"{table.url.split('#', 1)[0]}#row=")[:-1]
    line = S.concat(
        S.lit('{"url":' + url_prefix), S.col("_sourceRow").cast("string"),
        S.lit('","rownum":'), S.col("_row").cast("string"), S.lit(","),
        titles_field,
        S.lit('"describes":['), S.concat_ws(",", S.col("objs")), S.lit("]}"))
    return rows.selectExpr("_row", "0 AS pos", line.alias("line").sql)


def write_json_lines(
    cells_df: DataFrame, table: CompiledTable, path: str,
    mode: str = "minimal", order_partitions: int | None = None,
) -> None:
    """Distributed JSONL sink (S12 at scale): writes the
    :func:`json_lines` of a table straight from the executors — no
    ``collect``, so a lineitem-scale (or 10^12-row) table serializes
    without any driver materialization. The table/group envelope of
    standard mode is driver-side metadata, not row data, and is written by
    the caller if needed.

    Output files are globally row-ordered: lines are range-partitioned and
    sorted within partitions on (_row, pos) before the write, so
    concatenating part files in name order reproduces document order."""
    n = order_partitions or cells_df.sparkSession.sparkContext.defaultParallelism
    (json_lines(cells_df, table, mode)
     .repartitionByRange(n, "_row", "pos")
     .sortWithinPartitions("_row", "pos")
     .select("line")
     .write.mode("overwrite").text(path))


def simplify_common_value(value, base: str | None = None):
    """Common-property values in JSON output: value objects collapse to
    their @value / @id (reader.rb:566-585)."""
    if isinstance(value, list):
        return [simplify_common_value(v, base) for v in value]
    if isinstance(value, dict):
        if "@value" in value:
            return value["@value"]
        if set(value.keys()) == {"@id"}:
            return expand_iri(value["@id"], base=base)
        return {
            k: (expand_iri(v, base=base) if k == "@id" else
                simplify_common_value(v, base))
            for k, v in value.items()
        }
    return value


def assemble_standard_table(
    table: CompiledTable, rows: list[dict],
    comments: list[str] | None = None,
) -> dict:
    """The standard-mode table object around its parsed row envelopes."""
    out: dict = {}
    if table.id:
        out["@id"] = table.id  # reader.rb:504
    out["url"] = table.url
    if comments:
        out["rdfs:comment"] = list(comments)  # reader.rb:513-515
    for k, v in table.common_properties.items():
        out[k] = simplify_common_value(v, base=table.url)
    if table.notes is not None:
        out["notes"] = simplify_common_value(table.notes, base=table.url)
    out["row"] = rows
    return out
