"""S12/EP3: JSON serialization — csv2json (reference reader.rb:398-624).

Minimal mode: a flat list of per-subject objects in row order. Standard
mode: a ``{"tables": [{url, common-props, row: [...]}]}`` envelope where
each row carries ``url``/``rownum``/``titles``/``describes``.

Spark-first shape: each row's objects are assembled **as JSON text with
pure column expressions** — per about-template group a ``to_json(struct)``
whose field order fixes key order, single-reference ``valueUrl`` nesting
(J3, reader.rb:592-601) resolved *statically* from template identity so the
nesting is part of the expression tree, not a runtime join. The driver only
concatenates per-row fragments (at 10^12 scale you would instead write the
fragments as JSONL and never collect).
"""

from __future__ import annotations

import json
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def build_row_objects(
    cells_df: DataFrame, table: CompiledTable,
) -> DataFrame:
    """cells DF -> (_row, _sourceRow, objs array<string>): one JSON text per
    subject object of the row — the executor-side unit both the in-memory
    document assembly and the distributed JSONL sink build from."""
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
    return cells_df.selectExpr(
        "_row", "_sourceRow", objs.alias("objs").sql,
        titles.alias("titles").sql)


def build_row_fragments(
    cells_df: DataFrame, table: CompiledTable,
) -> DataFrame:
    """cells DF -> (_row, _sourceRow, frag, titles) where *frag* is the JSON
    text of this row's objects, comma-joined (wrap in [] to parse)."""
    rows = build_row_objects(cells_df, table)
    return rows.select(
        "_row", "_sourceRow", F.concat_ws(",", "objs").alias("frag"),
        "titles")


def write_json_lines(
    cells_df: DataFrame, table: CompiledTable, path: str,
    mode: str = "minimal", order_partitions: int | None = None,
) -> None:
    """Distributed JSONL sink (S12 at scale): writes one JSON text per line
    straight from the executors — no ``collect``, so a lineitem-scale (or
    10^12-row) table serializes without any driver materialization.
    ``reader.to_json`` keeps its driver-side assembly ONLY for the
    in-memory document return value (reference reader.rb:398-624 semantics,
    page-sized inputs); this sink is the path a pipeline uses.

    - mode="minimal": one subject object per line;
    - mode="standard": one row envelope per line
      (``{"url": ..#row=N, "rownum": n, "describes": [...]}``) — the
      table/group envelope is driver-side metadata, not row data, and is
      written by the caller if needed.

    Output files are globally row-ordered: rows are range-partitioned and
    sorted within partitions on (_row) before the write, so concatenating
    part files in name order reproduces document order."""
    rows = build_row_objects(cells_df, table)
    n = order_partitions or cells_df.sparkSession.sparkContext.defaultParallelism
    if mode == "minimal":
        lines = (
            rows.select("_row", F.posexplode("objs").alias("pos", "obj"))
            .repartitionByRange(n, "_row", "pos")
            .sortWithinPartitions("_row", "pos")
            .select("obj")
        )
    else:
        url_prefix = json.dumps(f"{table.url.split('#', 1)[0]}#row=")[:-1]
        t = F.col("titles")
        tj = F.to_json(t)
        # single title -> scalar (merge_compacted_value): strip the
        # one-element array's outer brackets, safe for any content
        titles_frag = (
            F.when(F.size(t) <= 0, F.lit(""))
            .when(F.size(t) == 1, F.concat(
                F.lit('"titles":'),
                F.substring(tj, 2, 2**24).substr(
                    F.lit(1), F.length(tj) - 2),
                F.lit(",")))
            .otherwise(F.concat(F.lit('"titles":'), tj, F.lit(","))))
        line = F.concat(
            F.lit('{"url":' + url_prefix),
            F.col("_sourceRow").cast("string"), F.lit('",'),
            F.lit('"rownum":'), F.col("_row").cast("string"), F.lit(","),
            titles_frag,
            F.lit('"describes":['), F.concat_ws(",", "objs"), F.lit("]}"),
        )
        lines = (
            rows.select("_row", line.alias("obj"))
            .repartitionByRange(n, "_row")
            .sortWithinPartitions("_row")
            .select("obj")
        )
    lines.write.mode("overwrite").text(path)


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


def assemble_minimal(frag_rows: list[tuple[int, str]]) -> list:
    objs: list = []
    for _row, frag in sorted(frag_rows):
        if frag:
            objs.extend(json.loads(f"[{frag}]"))
    return objs


def assemble_standard_table(
    table: CompiledTable,
    frag_rows: list[tuple[int, int, str]] | list[tuple[int, int, str, list]],
    comments: list[str] | None = None,
) -> dict:
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
    rows = []
    for rec in sorted(frag_rows, key=lambda t: t[:2]):
        _row, _source_row, frag = rec[0], rec[1], rec[2]
        titles = list(rec[3]) if len(rec) > 3 and rec[3] else []
        row_obj: dict = {
            "url": f"{table.url.split('#', 1)[0]}#row={_source_row}",
            "rownum": _row,
        }
        if titles:
            # merge_compacted_value: one title -> scalar (reader.rb:533)
            row_obj["titles"] = titles[0] if len(titles) == 1 else titles
        row_obj["describes"] = json.loads(f"[{frag}]") if frag else []
        rows.append(row_obj)
    out["row"] = rows
    return out
