"""CSVW metadata model -> frozen compiled plan (driver-side only).

Implements the semantics of the reference's metadata layer
(rdf-tabular metadata.rb): type dispatch of TableGroup / Table / Schema /
Column / Dialect documents, property inheritance down the tree
(metadata.rb:29-41), defaults (metadata.rb:42-49), column-name defaulting
from titles (metadata.rb:1621-1628), and normalization of urls against a
base. The output is a :class:`CompiledTableGroup` of plain frozen
dataclasses that :mod:`rdf_tabular_spark.operators` compiles into Spark
column expressions — none of this touches executors.
"""

from __future__ import annotations

import json
import os
import re
import warnings
from dataclasses import dataclass, field
from typing import Any

from .context import encode_column_name, expand_iri
from .datatypes import DATATYPES, UNSUPPORTED

#: properties inherited TableGroup -> Table -> Schema -> Column
INHERITED = [
    "aboutUrl", "datatype", "default", "lang", "null", "ordered",
    "propertyUrl", "required", "separator", "textDirection", "valueUrl",
]

INHERITED_DEFAULTS: dict[str, Any] = {
    "default": "",
    "lang": "und",
    "null": [""],
    "ordered": False,
    "required": False,
    "separator": None,
    "textDirection": "ltr",
}

DIALECT_DEFAULTS: dict[str, Any] = {
    "commentPrefix": None,
    "delimiter": ",",
    "doubleQuote": True,
    "encoding": "utf-8",
    "header": True,
    "lineTerminators": None,
    "quoteChar": '"',
    "skipBlankRows": False,
    "skipColumns": 0,
    "skipInitialSpace": False,
    "skipRows": 0,
}


@dataclass(frozen=True)
class Dialect:
    commentPrefix: str | None = None
    delimiter: str = ","
    doubleQuote: bool = True
    encoding: str = "utf-8"
    header: bool = True
    headerRowCount: int | None = None
    lineTerminators: str | list | None = None  # string-or-array property
    quoteChar: str = '"'
    skipBlankRows: bool = False
    skipColumns: int = 0
    skipInitialSpace: bool = False
    skipRows: int = 0
    trim: Any = None

    @property
    def header_row_count(self) -> int:
        if self.headerRowCount is not None:
            return self.headerRowCount
        return 1 if self.header else 0

    @property
    def effective_trim(self) -> str:
        # default for trim comes from skipInitialSpace (metadata.rb:1780-1783)
        if self.trim is None:
            return "start" if self.skipInitialSpace else "true"
        if self.trim is True:
            return "true"
        if self.trim is False:
            return "false"
        return str(self.trim)

    @property
    def escape_char(self) -> str:
        # doubleQuote=true escapes by doubling the QUOTE char (whatever it
        # is — a quoteChar of ' doubles as ''), false by backslash; the JVM
        # csv option `escape` implements doubling when set to the quote char
        return (self.quoteChar or '"') if self.doubleQuote else "\\"

    @property
    def line_terminator_list(self) -> list[str]:
        """`lineTerminators` normalized to a list (the CSVW property is
        string-or-array; spec default ["\\r\\n", "\\n"])."""
        v = self.lineTerminators
        if v is None:
            return ["\r\n", "\n"]
        return [v] if isinstance(v, str) else [str(t) for t in v]

    @classmethod
    def from_json(cls, obj: dict | None) -> "Dialect":
        obj = obj or {}
        known = {k: obj[k] for k in obj if k in cls.__dataclass_fields__}
        return cls(**known)


@dataclass(frozen=True)
class CompiledDatatype:
    base: str = "string"
    format: Any = None  # str | dict (numeric) | None
    length: int | None = None
    minLength: int | None = None
    maxLength: int | None = None
    minimum: Any = None
    maximum: Any = None
    minInclusive: Any = None
    maxInclusive: Any = None
    minExclusive: Any = None
    maxExclusive: Any = None
    id: str | None = None  # custom derived-datatype IRI

    @property
    def iri(self) -> str:
        return self.id or DATATYPES.get(self.base, DATATYPES["string"])

    @classmethod
    def from_json(cls, obj: Any) -> "CompiledDatatype":
        if obj is None:
            return cls()
        if isinstance(obj, str):
            return cls(base=obj)
        kwargs = {k: obj[k] for k in obj if k in cls.__dataclass_fields__}
        kwargs["id"] = obj.get("@id")
        kwargs.setdefault("base", "string")
        return cls(**kwargs)


@dataclass(frozen=True)
class CompiledColumn:
    name: str
    number: int  # 1-based logical column number
    source_number: int  # 1-based physical column number (skipColumns offset)
    titles: dict[str, list[str]] = field(default_factory=dict)
    datatype: CompiledDatatype = field(default_factory=CompiledDatatype)
    about_url: str | None = None
    property_url: str | None = None
    value_url: str | None = None
    default: str = ""
    lang: str = "und"
    null: tuple[str, ...] = ("",)
    ordered: bool = False
    required: bool = False
    separator: str | None = None
    virtual: bool = False
    suppress_output: bool = False
    #: whether ``name`` was declared in the metadata (vs derived from titles
    #: or defaulted) — compatibility checking distinguishes the two
    #: (metadata.rb:1043-1047)
    name_declared: bool = False


@dataclass(frozen=True)
class ForeignKey:
    column_reference: tuple[str, ...]
    resource: str | None  # resolved referenced-table url
    referenced_columns: tuple[str, ...]
    #: reference.schemaReference (resolved @id of the target tableSchema);
    #: parse_metadata resolves it to the owning table's url into `resource`
    schema_ref: str | None = None


@dataclass(frozen=True)
class CompiledTable:
    url: str
    id: str | None = None
    columns: tuple[CompiledColumn, ...] = ()
    dialect: Dialect = field(default_factory=Dialect)
    primary_key: tuple[str, ...] = ()
    row_titles: tuple[str, ...] = ()
    foreign_keys: tuple[ForeignKey, ...] = ()
    suppress_output: bool = False
    common_properties: dict = field(default_factory=dict)
    notes: Any = None
    schema_id: str | None = None  # tableSchema @id (schemaReference target)
    #: raw metadata dicts of the inherit chain (schema, table, group...) so
    #: columns created AFTER compile time (embedded-header merge) still
    #: honor inherited properties like a schema-level aboutUrl
    inherit_levels: tuple = ()
    default_lang: str = "und"


@dataclass(frozen=True)
class CompiledTableGroup:
    tables: tuple[CompiledTable, ...] = ()
    id: str | None = None
    common_properties: dict = field(default_factory=dict)
    notes: Any = None
    context_lang: str = "und"  # @context {"@language": ...}, default none


def _as_title_map(titles: Any, default_lang: str) -> dict[str, list[str]]:
    """Natural-language property -> {lang: [values]} (metadata.rb:1130-1131)."""
    if titles is None:
        return {}
    if isinstance(titles, str):
        return {default_lang: [titles]}
    if isinstance(titles, list):
        return {default_lang: [str(t) for t in titles]}
    if isinstance(titles, dict):
        return {k: ([v] if isinstance(v, str) else list(v)) for k, v in titles.items()}
    return {}


def _context_base(context: Any, base: str | None) -> str | None:
    """Effective base URL after the ``@context`` object's ``@base``
    (metadata.rb:329-340 — the context may carry only @base and
    @language; @base resolves against the document location and then
    governs every URL resolution in the document)."""
    if isinstance(context, list):
        for part in context:
            if isinstance(part, dict) and isinstance(part.get("@base"),
                                                     str):
                return _resolve_url(part["@base"], base)
    return base


def _context_language(context: Any) -> str:
    if isinstance(context, list):
        for part in context:
            if isinstance(part, dict) and "@language" in part:
                return part["@language"]
    return "und"


def _is_common_property(key: str) -> bool:
    return ":" in key and not key.startswith("@")


class _Inherit:
    """Effective inherited-property resolution along the metadata tree."""

    def __init__(self, *levels: dict):
        self.levels = [lvl or {} for lvl in levels]  # innermost first

    def get(self, prop: str, default: Any = None) -> Any:
        for lvl in self.levels:
            if prop in lvl and lvl[prop] is not None:
                return lvl[prop]
        if default is not None:
            return default
        return INHERITED_DEFAULTS.get(prop)


def _resolve_url(url: str | None, base: str | None) -> str | None:
    if url is None:
        return None
    return expand_iri(url, base=base)


def _compile_column(
    obj: dict, number: int, skip_columns: int, inherit: _Inherit,
    default_lang: str,
) -> CompiledColumn:
    titles = _as_title_map(obj.get("titles"), default_lang)
    name = obj.get("name")
    if not name:
        for lang in (default_lang, "und"):
            if titles.get(lang):
                name = encode_column_name(titles[lang][0])
                break
    if not name:
        # fall back to any language's first title, then _col.N
        for vals in titles.values():
            if vals:
                name = encode_column_name(vals[0])
                break
    name = name or f"_col.{number}"

    col_inherit = _Inherit(obj, *inherit.levels)
    null = col_inherit.get("null")
    if isinstance(null, str):
        null = [null]
    dt = col_inherit.get("datatype")
    datatype = CompiledDatatype.from_json(dt)
    # Unsupported bases are NOT a compile failure: the reference degrades each
    # cell to a plain literal with a per-value error and only warns at the
    # metadata level (metadata.rb:2251-2253, spec "Unsupported datatypes").
    # The cell pipeline checks UNSUPPORTED membership per item.

    return CompiledColumn(
        name=name,
        number=number,
        source_number=number + skip_columns,
        titles=titles,
        datatype=datatype,
        about_url=col_inherit.get("aboutUrl"),
        property_url=col_inherit.get("propertyUrl"),
        value_url=col_inherit.get("valueUrl"),
        default=col_inherit.get("default"),
        lang=obj.get("lang", col_inherit.get("lang")),
        null=tuple(null),
        ordered=bool(col_inherit.get("ordered")),
        required=bool(col_inherit.get("required")),
        separator=col_inherit.get("separator"),
        virtual=bool(obj.get("virtual", False)),
        suppress_output=bool(obj.get("suppressOutput", False)),
        name_declared="name" in obj,
    )


def _compile_table(
    obj: dict, base: str | None, group_inherit: _Inherit,
    group_dialect: dict | None, default_lang: str,
) -> CompiledTable:
    url = _resolve_url(obj.get("url"), base)
    schema = obj.get("tableSchema") or {}
    if isinstance(schema, str):  # schema-by-URL (roles.json style)
        schema_url = _resolve_url(schema, base)
        try:
            schema = _load_json_ref(schema_url)
        except (OSError, ValueError) as e:
            # An unresolvable (or unparsable) schema reference acts as if
            # tableSchema were unset, like every other invalid property
            # value (metadata.rb set_property warn-and-ignore): the module
            # contract is that error-free sanitized docs always compile.
            warnings.warn(
                f"tableSchema reference {schema_url!r} could not be "
                f"loaded ({e}); acting as if unset")
            schema = {}
    dialect = Dialect.from_json(obj.get("dialect") or group_dialect)
    inherit = _Inherit(schema, obj, *group_inherit.levels)
    skip = dialect.skipColumns

    columns = tuple(
        _compile_column(c, i + 1, skip, inherit, default_lang)
        for i, c in enumerate(schema.get("columns") or [])
    )

    pk = schema.get("primaryKey") or ()
    if isinstance(pk, str):
        pk = (pk,)
    row_titles = schema.get("rowTitles") or ()
    if isinstance(row_titles, str):
        row_titles = (row_titles,)

    fks = []
    for fk in schema.get("foreignKeys") or []:
        colref = fk.get("columnReference")
        if isinstance(colref, str):
            colref = (colref,)
        ref = fk.get("reference") or {}
        ref_cols = ref.get("columnReference")
        if isinstance(ref_cols, str):
            ref_cols = (ref_cols,)
        resource = _resolve_url(ref.get("resource"), base)
        schema_ref = _resolve_url(ref.get("schemaReference"), base)
        fks.append(ForeignKey(
            tuple(colref), resource, tuple(ref_cols or ()),
            schema_ref=schema_ref))

    return CompiledTable(
        url=url,
        id=_resolve_url(obj.get("@id"), base),
        columns=columns,
        dialect=dialect,
        primary_key=tuple(pk),
        row_titles=tuple(row_titles),
        foreign_keys=tuple(fks),
        suppress_output=bool(obj.get("suppressOutput", False)),
        common_properties={k: v for k, v in obj.items() if _is_common_property(k)},
        notes=obj.get("notes"),
        schema_id=_resolve_url(schema.get("@id"), base)
        if isinstance(schema, dict) else None,
        inherit_levels=tuple(inherit.levels),
        default_lang=default_lang,
    )


_JSON_REF_BASE: list[str] = []  # directory stack for schema-by-URL loads


def _load_json_ref(url: str) -> dict:
    """Load a referenced schema document. file:// and plain paths only (a
    basename fallback into the _JSON_REF_BASE search dirs maps remote urls
    to local mirrors) — this engine never fetches over the network."""
    path = url
    if path.startswith("file://"):
        path = path[len("file://"):]
    candidates = [path] + [
        os.path.join(d, os.path.basename(path)) for d in _JSON_REF_BASE
    ]
    for cand in candidates:
        if os.path.exists(cand):
            with open(cand, encoding="utf-8") as f:
                return json.load(f)
    raise FileNotFoundError(f"schema reference not found: {url}")


def detect_type(doc: dict) -> str:
    """Type-dispatch heuristic of Metadata.new (metadata.rb:276-297).
    ``Template`` maps to Transformation, as in the reference."""
    t = doc.get("@type")
    if t == "Template":
        return "Transformation"
    if t in ("TableGroup", "Table", "Schema", "Column", "Dialect",
             "Transformation"):
        return t
    if "tables" in doc:
        return "TableGroup"
    if any(k in doc for k in ("dialect", "tableSchema", "transformations")):
        return "Table"
    if any(k in doc for k in ("targetFormat", "scriptFormat", "source")):
        return "Transformation"
    if any(k in doc for k in ("columns", "primaryKey", "foreignKeys",
                              "rowTitles")):
        return "Schema"
    if "name" in doc or "virtual" in doc:
        return "Column"
    if any(k in doc for k in Dialect.__dataclass_fields__):
        return "Dialect"
    # a url-only document behaves as a single-table description; a fully
    # untyped one is an (empty) TableGroup (metadata.rb:288 `:"" =>
    # TableGroup`)
    return "Table" if "url" in doc else "TableGroup"


def parse_metadata(doc: dict, base: str | None = None) -> CompiledTableGroup:
    """Parse + normalize a CSVW metadata document into a compiled plan.

    *base* is the metadata document's own URL (urls resolve against it).

    Invalid property VALUES act as if unset (warn-and-ignore,
    metadata.rb set_property) — the sanitization pass strips them before
    compilation; :func:`validate_document` surfaces the messages."""
    from .normalize import sanitize_metadata

    doc, _w, _e = sanitize_metadata(doc, base)
    base = _context_base(doc.get("@context"), base)
    default_lang = _context_language(doc.get("@context"))
    kind = detect_type(doc)
    if kind == "Table":
        group_doc = {
            k: v for k, v in doc.items()
            if k in ("@context", "dialect") or k in INHERITED
        }
        group_doc["tables"] = [doc]
        doc = group_doc
    elif kind != "TableGroup":
        raise ValueError(f"cannot root a metadata document of type {kind}")

    group_inherit = _Inherit({k: doc[k] for k in INHERITED if k in doc})
    tables = tuple(
        _compile_table(t, base, group_inherit, doc.get("dialect"), default_lang)
        for t in doc.get("tables") or []
    )
    # resolve schemaReference FKs to the owning table's url — needs the
    # whole group compiled (metadata.rb: schemaReference matches the @id
    # of another table's tableSchema)
    by_schema_id = {t.schema_id: t.url for t in tables if t.schema_id}
    if any(fk.schema_ref for t in tables for fk in t.foreign_keys):
        from dataclasses import replace

        tables = tuple(
            replace(t, foreign_keys=tuple(
                replace(fk, resource=by_schema_id.get(fk.schema_ref))
                if fk.schema_ref and fk.resource is None else fk
                for fk in t.foreign_keys))
            if any(fk.schema_ref for fk in t.foreign_keys) else t
            for t in tables
        )
    return CompiledTableGroup(
        tables=tables,
        id=_resolve_url(doc.get("@id"), base),
        common_properties={k: v for k, v in doc.items() if _is_common_property(k)},
        notes=doc.get("notes"),
        context_lang=default_lang,
    )


def load_metadata(path: str, base: str | None = None) -> CompiledTableGroup:
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    if base is None:
        base = "file://" + os.path.abspath(path)
    return parse_metadata(doc, base=base)


def default_table_for(url: str, columns_from_header: list[str],
                      default_lang: str = "und") -> CompiledTable:
    """Embedded-metadata table: columns named from the CSV header row
    (discovery step 4/5, metadata.rb:237-241 + 1786-1880)."""
    cols = tuple(
        CompiledColumn(
            name=encode_column_name(t) if t else f"_col.{i + 1}",
            number=i + 1,
            source_number=i + 1,
            titles={default_lang: [t]} if t else {},
        )
        for i, t in enumerate(columns_from_header)
    )
    return CompiledTable(url=url, columns=cols)


def columns_from_header(table: CompiledTable,
                        header: list[str]) -> CompiledTable:
    """Header-derived columns for a declared table WITHOUT columns, still
    honoring the table's inherited properties (a schema- or table-level
    aboutUrl/datatype/null/... reaches the generated columns exactly as
    it would have at compile time — metadata.rb inherited-property
    semantics apply to on-demand columns too)."""
    from dataclasses import replace

    inherit = _Inherit(*table.inherit_levels) if table.inherit_levels \
        else _Inherit({})
    cols = tuple(
        _compile_column({"titles": t} if t else {}, i + 1,
                        table.dialect.skipColumns, inherit,
                        table.default_lang)
        for i, t in enumerate(header))
    return replace(table, columns=cols)


def merge_embedded_titles(table: CompiledTable, header: list[str],
                          default_lang: str = "und") -> CompiledTable:
    """Compatibility merge of embedded header titles into a declared schema
    (light version of verify_compatible!, metadata.rb:996-1079): declared
    columns win; missing names default from header titles."""
    from dataclasses import replace

    non_virtual = [c for c in table.columns if not c.virtual]
    if header and non_virtual and len(header) != len(non_virtual):
        raise CompatibilityError(
            f"{table.url}: header has {len(header)} columns, "
            f"schema declares {len(non_virtual)} non-virtual columns")
    new_cols = []
    hi = 0
    for col in table.columns:
        if col.virtual:
            new_cols.append(col)
            continue
        title = header[hi] if hi < len(header) else None
        hi += 1
        updates = {}
        if not col.titles and title:
            updates["titles"] = {default_lang: [title]}
        if col.name.startswith("_col.") and title:
            updates["name"] = encode_column_name(title)
        new_cols.append(replace(col, **updates) if updates else col)
    return replace(table, columns=tuple(new_cols))


class CompatibilityError(ValueError):
    """Embedded and declared metadata are incompatible in validating mode
    (reference ``RDF::Tabular::Error`` from ``verify_compatible!``,
    metadata.rb:996-1079)."""


def _titles_match(ta: dict[str, list[str]], tb: dict[str, list[str]]) -> bool:
    """Title-set compatibility (metadata.rb:1048-1063): match when any
    und-language title appears on the other side in any language, when the
    same language shares a title, or when one language tag is a prefix of
    the other with a shared title."""
    tb_all = [t for vs in tb.values() for t in vs]
    if any(t in tb_all for t in ta.get("und", [])):
        return True
    ta_all = [t for vs in ta.values() for t in vs]
    if any(t in ta_all for t in tb.get("und", [])):
        return True
    for lang, values in ta.items():
        if set(tb.get(lang, ())) & set(values):
            return True
    for la, values in ta.items():
        for lb in tb:
            if (la.startswith(lb) or lb.startswith(la)) and set(tb.get(lb, ())) & set(values):
                return True
    return False


def verify_compatible(
    a: "CompiledTableGroup | CompiledTable",
    b: CompiledTable,
    *,
    validate: bool = True,
    warnings: list[str] | None = None,
) -> list[str]:
    """Check that table description *b* (typically embedded metadata built
    from a CSV header) is compatible with *a* (the found/declared metadata)
    — a faithful port of ``Metadata#verify_compatible!``
    (metadata.rb:996-1079).

    In validating mode incompatibilities raise :class:`CompatibilityError`;
    otherwise they are appended to the returned warnings list and
    processing continues. Name mismatches between two *declared* names are
    an error in both modes (metadata.rb:1043-1044).
    """
    warnings = warnings if warnings is not None else []

    def problem(msg: str) -> None:
        if validate:
            raise CompatibilityError(msg)
        warnings.append(msg)

    if isinstance(a, CompiledTableGroup):
        for t in a.tables:
            if t.url == b.url:
                return verify_compatible(
                    t, b, validate=validate, warnings=warnings)
        problem(
            f"TableGroups must have Table with matching url "
            f"{[t.url for t in a.tables]!r} vs {b.url!r}")
        return warnings

    if a.url != b.url:
        problem(f"Tables must have the same url: {a.url!r} vs {b.url!r}")

    non_virtual = [c for c in a.columns if not c.virtual]
    object_columns = list(b.columns)

    # no header -> no column definitions -> compatible (metadata.rb:1020)
    if len(non_virtual) != len(object_columns) and object_columns:
        problem(
            "Columns must have the same number of non-virtual columns: "
            f"{[c.name for c in non_virtual]!r} vs "
            f"{[c.name for c in object_columns]!r}")
        # virtual columns must follow every non-virtual one (metadata.rb:1027)
        seen_virtual = False
        for c in a.columns:
            if c.virtual:
                seen_virtual = True
            elif seen_virtual:
                raise CompatibilityError(
                    "Virtual columns may not appear before non-virtual columns")

    for index, cb in enumerate(object_columns):
        ca = non_virtual[index] if index < len(non_virtual) else None
        ta = ca.titles if ca is not None else {}
        tb = cb.titles or {}
        ca_named = ca is not None and ca.name_declared
        if not ca_named and not cb.name_declared and not ta and not tb:
            continue
        if ca_named and cb.name_declared:
            if ca.name != cb.name:
                # error regardless of mode (metadata.rb:1043-1044)
                raise CompatibilityError(
                    f"Columns don't match on name: {ca.name}, {cb.name}")
            continue
        if validate or (ta and tb):
            if _titles_match(ta, tb):
                continue
            problem(f"Columns don't match on titles: {ta!r} vs {tb!r}")
    return warnings


#: column-name syntax (metadata.rb:108)
NAME_SYNTAX = re.compile(
    r"^(?:_col|[a-zA-Z0-9]|%[0-9a-fA-F]{2})(?:[a-zA-Z0-9._]|%[0-9a-fA-F]{2})*$")

_STRINGY_BASES = {"string", "normalizedString", "token", "language", "Name",
                  "NMTOKEN", "hexBinary", "base64Binary", "binary"}
_RANGED_BASES = {
    "decimal", "integer", "long", "int", "short", "byte", "double", "number",
    "float", "nonNegativeInteger", "positiveInteger", "unsignedLong",
    "unsignedInt", "unsignedShort", "unsignedByte", "nonPositiveInteger",
    "negativeInteger", "date", "dateTime", "datetime", "dateTimeStamp",
    "time", "duration", "dayTimeDuration", "yearMonthDuration",
}


def _cmp_val(v: Any):
    try:
        return (0, float(v))
    except (TypeError, ValueError):
        return (1, str(v))


def _validate_datatype(dt: Any, where: str, errors: list, warnings: list) -> None:
    if dt is None:
        return
    if isinstance(dt, str):
        if dt in UNSUPPORTED:
            warnings.append(f"{where}: unsupported datatype base {dt!r}")
        return
    base = dt.get("base", "string")
    if base in UNSUPPORTED:
        warnings.append(f"{where}: unsupported datatype base {base!r}")
    fmt = dt.get("format")
    if fmt is not None:
        # invalid formats warn and act as if not set (metadata.rb:679-716);
        # the matching drop happens at typing time (operators/cells.py)
        from . import uax35
        from .datatypes import DATE_BASES, NUMERIC_BASES
        try:
            if base in NUMERIC_BASES:
                f = fmt if isinstance(fmt, dict) else {"pattern": fmt}
                uax35.compile_number_pattern(
                    f.get("pattern"), f.get("groupChar") or ",",
                    f.get("decimalChar") or ".")
            elif base in DATE_BASES:
                uax35.compile_date_pattern(str(fmt))
            elif base != "boolean" and isinstance(fmt, str):
                re.compile(fmt)
        except (uax35.PatternError, re.error) as e:
            warnings.append(f"{where}: invalid format {fmt!r}: {e}")
    length, min_l, max_l = dt.get("length"), dt.get("minLength"), dt.get("maxLength")
    if length is not None and min_l is not None and length < min_l:
        errors.append(f"{where}: length < minLength")
    if length is not None and max_l is not None and length > max_l:
        errors.append(f"{where}: length > maxLength")
    if min_l is not None and max_l is not None and min_l > max_l:
        errors.append(f"{where}: minLength > maxLength")
    if any(v is not None for v in (length, min_l, max_l)) \
            and base not in _STRINGY_BASES:
        errors.append(
            f"{where}: length facets only allowed on string/binary datatypes")

    mins = {k: dt[k] for k in ("minimum", "minInclusive", "minExclusive") if k in dt}
    maxs = {k: dt[k] for k in ("maximum", "maxInclusive", "maxExclusive") if k in dt}
    if (mins or maxs) and base not in _RANGED_BASES:
        errors.append(
            f"{where}: range facets only allowed on numeric/date/duration datatypes")
    min_inc = dt.get("minInclusive", dt.get("minimum"))
    max_inc = dt.get("maxInclusive", dt.get("maximum"))
    min_exc, max_exc = dt.get("minExclusive"), dt.get("maxExclusive")
    if min_inc is not None and min_exc is not None:
        errors.append(f"{where}: cannot specify both minInclusive and minExclusive")
    if max_inc is not None and max_exc is not None:
        errors.append(f"{where}: cannot specify both maxInclusive and maxExclusive")
    if min_inc is not None and max_inc is not None \
            and _cmp_val(max_inc) < _cmp_val(min_inc):
        errors.append(f"{where}: maxInclusive < minInclusive")
    if min_inc is not None and max_exc is not None \
            and _cmp_val(max_exc) <= _cmp_val(min_inc):
        errors.append(f"{where}: maxExclusive <= minInclusive")
    if min_exc is not None and max_inc is not None \
            and _cmp_val(max_inc) <= _cmp_val(min_exc):
        errors.append(f"{where}: maxInclusive <= minExclusive")


def validate_document(doc: dict, base: str | None = None) -> tuple[list[str], list[str]]:
    """Metadata-document validation, the analog of the reference's
    ``validate!`` (metadata.rb:611-770 and the Schema/foreignKeys specs):
    returns (errors, warnings). Errors make the document invalid; warnings
    keep it valid (non-validating processing continues either way).

    Checks: column-name syntax (warn), duplicate column names (error),
    virtual-before-non-virtual (error), primaryKey referencing a missing
    column (warn), foreignKey structure — exactly one of
    resource/schemaReference, resolvable targets, existing columns on both
    sides (all errors) — and datatype facet combinations (errors).

    The sanitization pass (:mod:`.normalize`) runs first: invalid property
    VALUES are warnings (the property acts unset, so the structural checks
    below see the cleaned document), while @id/@type violations, missing
    required keys, and malformed common-property JSON-LD are errors."""
    from .normalize import sanitize_metadata

    doc, warnings, errors = sanitize_metadata(doc, base)
    kind = detect_type(doc)
    table_docs = doc.get("tables", [doc] if kind == "Table" else [])

    def schema_of(tdoc: dict) -> dict:
        ts = tdoc.get("tableSchema")
        if isinstance(ts, str):
            try:
                return _load_json_ref(_resolve_url(ts, base) or ts)
            except Exception as e:
                # same warn-and-act-as-if-unset contract as _compile_table
                warnings.append(
                    f"tableSchema reference {ts!r} could not be loaded "
                    f"({e}); acting as if unset")
                return {}
        return ts or {}

    def colnames(schema: dict, default_lang: str = "und") -> list[str]:
        out = []
        for i, c in enumerate(schema.get("columns") or []):
            name = c.get("name")
            if not name:
                titles = _as_title_map(c.get("titles"), default_lang)
                for lang in (default_lang, "und"):
                    if titles.get(lang):
                        name = encode_column_name(titles[lang][0])
                        break
            out.append(name or f"_col.{i + 1}")
        return out

    # table-level checks
    schemas_by_id: dict[str, dict] = {}
    tables_by_url: dict[str, dict] = {}
    for tdoc in table_docs:
        url = _resolve_url(tdoc.get("url"), base) or tdoc.get("url") or "?"
        schema = schema_of(tdoc)
        tables_by_url[url] = schema
        if isinstance(schema.get("@id"), str):
            schemas_by_id[_resolve_url(schema["@id"], base)] = schema
        names = colnames(schema)
        for c, name in zip(schema.get("columns") or [], names):
            declared = c.get("name")
            if declared and not NAME_SYNTAX.match(declared):
                warnings.append(f"{url}: column name {declared!r} has invalid syntax")
            _validate_datatype(c.get("datatype"),
                               f"{url} column {name!r}", errors, warnings)
        declared_names = [n for n in names if n]
        if len(set(declared_names)) != len(declared_names):
            errors.append(f"{url}: column names are not unique")
        seen_virtual = False
        for c in schema.get("columns") or []:
            if c.get("virtual"):
                seen_virtual = True
            elif seen_virtual:
                errors.append(
                    f"{url}: virtual columns may not appear before non-virtual columns")
                break
        pk = schema.get("primaryKey")
        for key in ([pk] if isinstance(pk, str) else (pk or [])):
            if key not in names:
                warnings.append(f"{url}: primaryKey references missing column {key!r}")
        _validate_datatype(schema.get("datatype"), f"{url} schema", errors, warnings)

    # foreignKey checks need all tables known
    for url, schema in tables_by_url.items():
        names = set(colnames(schema))
        for fk in schema.get("foreignKeys") or []:
            cref = fk.get("columnReference")
            cols = [cref] if isinstance(cref, str) else (cref or [])
            for c in cols:
                if c not in names:
                    errors.append(f"{url}: foreignKey references missing column {c!r}")
            ref = fk.get("reference") or {}
            has_res = "resource" in ref
            has_sch = "schemaReference" in ref
            if has_res == has_sch:
                errors.append(
                    f"{url}: foreignKey reference must have exactly one of "
                    f"resource / schemaReference")
                continue
            if has_res:
                target = _resolve_url(ref["resource"], base)
                tschema = tables_by_url.get(target) or tables_by_url.get(ref["resource"])
                if tschema is None:
                    errors.append(
                        f"{url}: foreignKey resource {ref['resource']!r} "
                        f"matches no table")
                    continue
            else:
                target = _resolve_url(ref["schemaReference"], base)
                tschema = schemas_by_id.get(target) or schemas_by_id.get(
                    ref["schemaReference"])
                if tschema is None:
                    errors.append(
                        f"{url}: foreignKey schemaReference "
                        f"{ref['schemaReference']!r} matches no tableSchema @id")
                    continue
            rref = ref.get("columnReference")
            rcols = [rref] if isinstance(rref, str) else (rref or [])
            tnames = set(colnames(tschema))
            for c in rcols:
                if c not in tnames:
                    errors.append(
                        f"{url}: foreignKey references missing column {c!r} "
                        f"in referenced table")
    return errors, warnings
