"""Triple emission: cells -> (subj, pred, obj, obj_is_iri, obj_datatype,
obj_lang) rows (reference reader.rb:258-343).

Per row we assemble an ``array<struct<...>>`` of triples across all columns
with pure SQL expressions, then ``explode`` — one narrow shuffle-free
projection. The whole array is rendered as SQL text on the driver
(:mod:`..expr`) and crosses the py4j bridge in one ``selectExpr``. Template
variables are bound once per table and each distinct about/property/value
template compiles once to SQL (:func:`template_compiler`), whatever its
RFC 6570 operators, so no template runs Python on the executors. Blank
nodes are **deterministic skolem ids**
(``_:r<sha256(table_url, sourceRow)>``) so distributed dedup/resume and
re-runs are idempotent (SURVEY.md §7.4-1); fixture comparison canonicalizes
both sides.
"""

from __future__ import annotations

import re
from urllib.parse import unquote, urljoin

from pyspark.sql import DataFrame

from .. import TRIPLE_COLUMNS
from ..csvw.context import PREFIXES, expand_iri
from ..csvw.datatypes import (
    CSVW_NS,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD,
)
from .. import expr as S
from ..csvw.metadata import CompiledColumn, CompiledTable
from ..expr import Expr
from .cells import cell_binding, cell_values
from ..csvw.templates import compile_template, template_variables

TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, obj_is_iri boolean, "
    "obj_datatype string, obj_lang string"
)

_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:"
_PNAME_SPLIT = re.compile(r"^([A-Za-z][\w.-]*):(?!//)(.*)$", re.S)


def _base_no_fragment(base: str) -> str:
    return base.split("#", 1)[0]


def _base_dir(base: str) -> str:
    no_frag = _base_no_fragment(base)
    return no_frag.rsplit("/", 1)[0] + "/" if "/" in no_frag else no_frag


def triple(subj: Expr | str, pred: Expr | str, obj: Expr | str, *,
           is_iri: bool | Expr, dt: Expr | None = None,
           lang: Expr | None = None) -> Expr:
    """One triple struct (``TRIPLE_COLUMNS``); a Python ``str`` term is a
    literal."""
    return S.struct(
        S.lit(subj).cast("string").alias("subj"),
        S.lit(pred).cast("string").alias("pred"),
        S.lit(obj).cast("string").alias("obj"),
        (S.lit(is_iri) if isinstance(is_iri, bool) else is_iri).alias("obj_is_iri"),
        (dt if dt is not None else S.lit(None).cast("string")).alias("obj_datatype"),
        (lang if lang is not None else S.lit(None).cast("string")).alias("obj_lang"),
    )


def triple_rows(df: DataFrame, t: Expr) -> DataFrame:
    """The triple rows of *t* over *df*. A :func:`triple` is one row per
    input row, its fields projected directly (the optimizer does not
    inline a struct with two computed fields into an aggregate below it);
    any other struct expression, or the ``explode`` of an array of
    triples, is un-nested."""
    if isinstance(t, S.Struct):
        return df.selectExpr(*[f.sql for f in t.fields])
    return (df.selectExpr(t.alias("t").sql)
            .selectExpr(*[f"t.{c} AS {c}" for c in TRIPLE_COLUMNS]))


def skolem(*parts: Expr | str, prefix: str = "_:b") -> Expr:
    """Deterministic blank-node id from its identifying parts."""
    cols = [S.lit(p) if isinstance(p, str) else p.cast("string") for p in parts]
    return S.concat(S.lit(prefix), S.substring(S.sha2(S.concat_ws("\u0000", *cols), 256), 1, 20))


def skolem_str(*parts: object, prefix: str = "_:b") -> str:
    """Driver-side twin of :func:`skolem` (same id scheme)."""
    import hashlib

    joined = "\u0000".join(str(p) for p in parts)
    return prefix + hashlib.sha256(joined.encode("utf-8")).hexdigest()[:20]


def compile_iri_template(
    template: str | None, bindings: dict[str, Expr], base: str
) -> Expr | None:
    """Compile an about/property/value URL template to a resolved-IRI column:
    RFC 6570 expansion, then pname expansion / document-relative resolution
    against the table url (reference Cell#set_urls metadata.rb:1950-1962)."""
    if template is None:
        return None
    if "{" not in template:
        return S.lit(expand_iri(template, base=base))

    # a compact-IRI template prefix (e.g. "schema:{_name}") expands statically
    static_prefix = template.split("{", 1)[0]
    m = _PNAME_SPLIT.match(static_prefix)
    if m and m.group(1) in PREFIXES:
        template = PREFIXES[m.group(1)] + template[len(m.group(1)) + 1:]
        static_prefix = template.split("{", 1)[0]

    # Document-relative templates with a non-empty static prefix resolve that
    # prefix per RFC 3986 driver-side (dot segments "../x", absolute-path
    # "/x", query "?x=" references — the reference joins the whole expanded
    # value, context.expand_iri documentRelative, metadata.rb:1957); the
    # rewritten template is absolute so the executor-side expression is a
    # plain expansion. Dot segments INSIDE a variable's value are not
    # normalized (they would need per-row resolution; templates putting
    # "../" in data are out of spec scope).
    if (static_prefix
            and not re.match(_SCHEME_RE, static_prefix)
            and not static_prefix.startswith("_:")):
        resolved = urljoin(base, static_prefix)
        # urljoin drops a trailing empty fragment/query marker
        # ("x.csv#" -> ".../x.csv"); the template needs it verbatim
        if static_prefix[-1] in "#?" and not resolved.endswith(static_prefix[-1]):
            resolved += static_prefix[-1]
        template = resolved + template[len(static_prefix):]
        static_prefix = template.split("{", 1)[0]

    expanded = compile_template(template, bindings)

    if re.match(_SCHEME_RE, static_prefix):
        return expanded
    if static_prefix.startswith("_:"):
        # blank-node template ("_:{id}"): bnode identifiers are returned
        # as-is, never resolved document-relative (JSON-LD expand_iri)
        return expanded
    if static_prefix.startswith("#"):
        return S.concat(S.lit(_base_no_fragment(base)), expanded)
    if static_prefix == "":
        # resolution shape depends on the expanded value — runtime dispatch
        return (
            S.when(expanded == "", S.lit(base))
            .when(expanded.startswith("_:"), expanded)
            .when(expanded.rlike(_SCHEME_RE), expanded)
            .when(expanded.startswith("#"), S.concat(S.lit(_base_no_fragment(base)), expanded))
            .otherwise(S.concat(S.lit(_base_dir(base)), expanded))
        )
    return S.concat(S.lit(_base_dir(base)), expanded)


def template_compiler(table: CompiledTable):
    """``compile(template, col) -> Expr | None`` over one table: the
    variable bindings (every column's value, ``_row``, ``_sourceRow``)
    are built once, and each distinct template expands once, per set of
    the column-level variables (``_name``, ``_column``, ``_sourceColumn``)
    it reads."""
    bindings: dict[str, Expr] = {
        "_row": S.col("_row").cast("string"),
        "_sourceRow": S.col("_sourceRow").cast("string"),
    }
    for c in table.columns:
        bindings[c.name] = cell_binding(c)
    compiled: dict[tuple, Expr | None] = {}

    def compile_(template: str | None, col: CompiledColumn) -> Expr | None:
        if template is None:
            return None
        statics = {"_name": unquote(col.name), "_column": str(col.number),
                   "_sourceColumn": str(col.source_number)}
        used = tuple((k, v) for k, v in statics.items()
                     if k in template_variables(template))
        if (template, used) not in compiled:
            compiled[template, used] = compile_iri_template(
                template, {**bindings, **{k: S.lit(v) for k, v in used}},
                table.url)
        return compiled[template, used]

    return compile_


def emit_table_triples(
    cells_df: DataFrame, table: CompiledTable, mode: str = "minimal",
    table_node: str | None = None,
) -> DataFrame:
    """Cell structs -> triple rows for one table (T1 minimal / T2 standard)."""
    base = table.url
    iri = template_compiler(table)
    default_subject = skolem(table.url, S.col("_sourceRow"), prefix="_:r")

    per_column_arrays: list[Expr] = []
    subjects: list[Expr] = []

    for col in table.columns:
        values = cell_values(col.name)
        about = iri(col.about_url, col)
        subject = S.coalesce(about, default_subject) if about is not None else default_subject
        if col.suppress_output:
            # suppressed cells contribute neither triples nor a
            # csvw:describes subject (reader.rb:308-315 skips before both)
            continue
        subjects.append(subject)

        if col.property_url:
            pred = iri(col.property_url, col)
        else:
            pred = S.lit(_base_no_fragment(base) + "#" + col.name)

        if col.value_url:
            value_url = iri(col.value_url, col)
            emit_cond = S.lit(True) if col.virtual else (S.size(values) > 0)
            arr = S.when(
                emit_cond & value_url.isNotNull(),
                S.array(triple(subject, pred, value_url, is_iri=True)),
            ).otherwise(S.array().cast(f"array<{_triple_struct_ddl()}>"))
        elif col.ordered and col.separator:
            # RDF collection: bnode spine with deterministic ids (T3)
            node_at = lambda i: skolem(  # noqa: E731
                table.url, S.col("_sourceRow"), col.name, i, prefix="_:l")
            head = S.when(
                S.size(values) > 0,
                S.array(triple(subject, pred, node_at(S.lit(0)), is_iri=True)),
            ).otherwise(S.array(triple(subject, pred, S.lit(RDF_NIL), is_iri=True)))
            spine = S.flatten(S.transform(
                values,
                lambda v, i: S.array(
                    triple(node_at(i), S.lit(RDF_FIRST), v["lex"],
                           is_iri=False, dt=v["dt"], lang=v["lang"]),
                    triple(
                        node_at(i), S.lit(RDF_REST),
                        S.when(i == S.size(values) - 1, S.lit(RDF_NIL))
                        .otherwise(node_at(i + 1)),
                        is_iri=True),
                ),
            ))
            arr = S.concat(head, spine)
        else:
            arr = S.transform(
                values,
                lambda v: triple(subject, pred, v["lex"], is_iri=False,
                                 dt=v["dt"], lang=v["lang"]),
            )
        per_column_arrays.append(arr)

    if mode == "standard":
        row_node = skolem(table.url, S.col("_sourceRow"), prefix="_:row")
        tnode = S.lit(table_node if table_node is not None else table.id or None)
        if table_node is None and table.id is None:
            tnode = skolem(table.url, prefix="_:t")
        env = [
            triple(tnode, S.lit(CSVW_NS + "row"), row_node, is_iri=True),
            triple(row_node, S.lit(CSVW_NS + "rownum"), S.col("_row"),
                   is_iri=False, dt=S.lit(XSD + "integer")),
            triple(row_node, S.lit(RDF_TYPE), S.lit(CSVW_NS + "Row"), is_iri=True),
            triple(row_node, S.lit(CSVW_NS + "url"),
                   S.concat(S.lit(_base_no_fragment(base) + "#row="), S.col("_sourceRow")),
                   is_iri=True),
        ]
        per_column_arrays.append(S.array(*env))
        # csvw:describes -> each distinct cell subject
        describes = S.array_distinct(S.array(*subjects)) if subjects else S.array()
        per_column_arrays.append(S.transform(
            describes,
            lambda s: triple(row_node, S.lit(CSVW_NS + "describes"), s, is_iri=True)))
        # csvw:title from rowTitles
        for rt in table.row_titles:
            rcol = next((c for c in table.columns if c.name == rt), None)
            if rcol is None:
                continue
            per_column_arrays.append(S.transform(
                cell_values(rcol.name),
                lambda v: triple(row_node, S.lit(CSVW_NS + "title"), v["lex"],
                                 is_iri=False, dt=v["dt"], lang=v["lang"])))

    if not per_column_arrays:
        return cells_df.sparkSession.createDataFrame([], TRIPLE_SCHEMA)

    all_triples = S.concat(*per_column_arrays) if len(per_column_arrays) > 1 else per_column_arrays[0]
    return triple_rows(cells_df, S.explode(all_triples))


def _triple_struct_ddl() -> str:
    return ("struct<subj:string,pred:string,obj:string,obj_is_iri:boolean,"
            "obj_datatype:string,obj_lang:string>")
