"""Top-level API: CSVW tabular data + metadata -> triple DataFrame / JSON.

The Spark re-expression of the reference's Reader (reader.rb:63-348):
metadata is compiled on the driver, each table becomes a DataFrame scan +
cell pipeline + triple emission, the per-table streams union, and graph set
semantics apply a final dedup. Multi-table groups fan out driver-side
(S10); FK/PK validation are join/agg operators (validate.py).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import TRIPLE_COLUMNS
from .csvw.context import expand_iri
from .csvw.discovery import TABULAR_EXTS
from .csvw.datatypes import CSVW_NS, RDF_TYPE, XSD
from .csvw.metadata import (
    CompiledTable,
    CompiledTableGroup,
    default_table_for,
    load_metadata,
    merge_embedded_titles,
    verify_compatible,
    CompatibilityError,
    parse_metadata,
)
from .operators.cells import build_cells
from .operators.common_props import common_property_triples, provenance_triples
from .operators.dedup import dedupe_triples
from .operators.emit import TRIPLE_SCHEMA, emit_table_triples, skolem_str
from .sources.csv_source import TableScan, inline_table, read_table


@dataclass
class ReadResult:
    triples: DataFrame
    group: CompiledTableGroup
    scans: dict[str, TableScan] = field(default_factory=dict)


def _url_to_path(url: str, url_map: dict[str, str] | None, search_dir: str | None) -> str:
    if url_map and url in url_map:
        return url_map[url]
    parsed = urlparse(url)
    if parsed.scheme == "file":
        return parsed.path
    if parsed.scheme in ("", None):
        return url
    if search_dir:
        candidate = os.path.join(search_dir, os.path.basename(parsed.path))
        if os.path.exists(candidate):
            return candidate
    raise FileNotFoundError(
        f"cannot map table url {url!r} to a local file; pass url_map")


def _load_group(metadata: dict | str, base: str | None,
                search_dir: str | None,
                headers: dict | None = None):
    """Shared metadata-loading preamble of the three entry points ->
    (CompiledTableGroup, html_text | None, effective search_dir).

    *headers* are caller-supplied HTTP response headers for the tabular
    input; the reference's Content-Type dialect overrides apply to every
    table's dialect before scanning (reader.rb:113-116).

    A path ending in .html takes the S7 branch: the document's
    ``application/csvm+json`` script block is the metadata (reader.rb:94-107)
    and the raw HTML is kept so fragment table urls can scan its tables."""
    from .csvw import metadata as metadata_mod

    html_text: str | None = None
    pushed = 0
    if search_dir is not None:
        metadata_mod._JSON_REF_BASE.append(search_dir)
        pushed += 1
    try:
        if isinstance(metadata, str) and metadata.lower().endswith((".html", ".htm")):
            from .sources.html_source import csvm_metadata

            with open(metadata, encoding="utf-8") as f:
                html_text = f.read()
            doc = csvm_metadata(html_text)
            if doc is None:
                raise ValueError(
                    f"{metadata}: no application/csvm+json metadata block")
            if search_dir is None:
                search_dir = os.path.dirname(os.path.abspath(metadata))
                metadata_mod._JSON_REF_BASE.append(search_dir)
                pushed += 1
            group = parse_metadata(doc, base=base)
        elif isinstance(metadata, str) and metadata.lower().endswith(
                tuple(TABULAR_EXTS)):
            # bare tabular input: run the S9 discovery cascade
            # (metadata.rb:176-245) — sidecar/well-known templates gated by
            # describes_file?, else the embedded-metadata default group
            from .csvw.discovery import discover_metadata

            csv_path = metadata
            if search_dir is None:
                search_dir = os.path.dirname(os.path.abspath(csv_path))
                metadata_mod._JSON_REF_BASE.append(search_dir)
                pushed += 1
            base_eff = base or "file://" + os.path.abspath(csv_path)
            found = discover_metadata(csv_path, base)
            if found is not None:
                _loc, _mbase, group = found  # group already loaded+gated
            else:
                group = parse_metadata(
                    {"@context": "http://www.w3.org/ns/csvw",
                     "url": base_eff}, base=base_eff)
        elif isinstance(metadata, str):
            if search_dir is None:
                search_dir = os.path.dirname(os.path.abspath(metadata))
                metadata_mod._JSON_REF_BASE.append(search_dir)
                pushed += 1
            group = load_metadata(metadata, base=base)
        else:
            group = parse_metadata(metadata, base=base)
    finally:
        for _ in range(pushed):
            metadata_mod._JSON_REF_BASE.pop()
    if headers:
        from .csvw.http_headers import apply_headers_to_group

        group = apply_headers_to_group(group, headers)
    return group, html_text, search_dir


def _effective_table(table: CompiledTable, scan: TableScan) -> CompiledTable:
    """Declared schema merged with embedded header titles; without a
    declared schema the header row becomes the columns — and a *headerless*
    file with no schema gets ``_col.N`` columns from the data width, the
    reference's create-column-on-demand per-row behavior
    (metadata.rb:2060-2062)."""
    if table.columns:
        return merge_embedded_titles(table, scan.header_titles)
    titles = scan.header_titles
    if not titles:
        width = max(scan.n_physical_columns - table.dialect.skipColumns, 0)
        titles = [""] * width
    from .csvw.metadata import columns_from_header

    # keeps the declared table's inherited properties (schema-level
    # aboutUrl etc.) on the header-derived columns
    return columns_from_header(table, titles)


def _scan_table(spark: SparkSession, table: CompiledTable,
                html_text: str | None, url_map: dict[str, str] | None,
                search_dir: str | None) -> TableScan:
    """Scan dispatch: fragment urls into an HTML document read its
    ``<table>`` rows through the in-memory path; everything else is the
    dialect-aware file scan."""
    if html_text is not None and "#" in table.url:
        from .sources.html_source import html_table_rows

        rows = html_table_rows(html_text, table.url.rsplit("#", 1)[1])
        if rows is not None:
            return inline_table(spark, rows, table, first_number=len(rows) + 1)
    path = _url_to_path(table.url, url_map, search_dir)
    return read_table(spark, table, path)


def _table_cells(spark: SparkSession, table: CompiledTable,
                 html_text: str | None, url_map: dict[str, str] | None,
                 search_dir: str | None, headers: dict | None,
                 ) -> tuple[TableScan, CompiledTable, DataFrame]:
    """The front end of every output: scan -> effective table -> header
    defaults -> cells."""
    scan = _scan_table(spark, table, html_text, url_map, search_dir)
    table = _effective_table(table, scan)
    if headers:
        from .csvw.http_headers import apply_headers_to_table

        # re-apply after title-merge: columns derived from the header
        # row must also pick up the Content-Language default
        table = apply_headers_to_table(table, headers)
    return scan, table, build_cells(scan.df, table)


def to_triples(
    spark: SparkSession,
    metadata: dict | str,
    *,
    base: str | None = None,
    url_map: dict[str, str] | None = None,
    search_dir: str | None = None,
    mode: str = "minimal",
    dedupe: bool = True,
    prov: dict | None = None,
    headers: dict | None = None,
) -> ReadResult:
    """Run the csv2rdf pipeline.

    - *metadata*: metadata dict, or path to a metadata JSON file.
    - *base*: base IRI the urls in the metadata resolve against.
    - *url_map*: table url -> local file path (the sandbox never fetches).
    - *mode*: 'minimal' (cell triples only) or 'standard' (envelope too).
    - *prov*: None (noProv) or {'started_at', 'ended_at'[, 'metadata_urls']}
      xsd:dateTime lexicals for the T5 provenance activity (standard mode;
      timestamps are injected so runs stay deterministic, reader.rb:221-248).
    - *headers*: HTTP response headers of the tabular input, if the caller
      fetched it out-of-band — applies the reference's Content-Type dialect
      overrides and Content-Language lang default (reader.rb:113-132).
    """
    group, html_text, search_dir = _load_group(
        metadata, base, search_dir, headers)

    parts: list[DataFrame] = []
    scans: dict[str, TableScan] = {}
    group_node = group.id or skolem_str("group", *(t.url for t in group.tables))

    for table in group.tables:
        scan, table, cells = _table_cells(
            spark, table, html_text, url_map, search_dir, headers)
        scans[table.url] = scan
        if table.suppress_output:
            continue
        table_node = table.id or skolem_str("table", table.url)
        parts.append(emit_table_triples(cells, table, mode=mode, table_node=table_node))

        if mode == "standard":
            env = [
                (table_node, RDF_TYPE, CSVW_NS + "Table", True, None, None),
                (table_node, CSVW_NS + "url", table.url, True, None, None),
                (group_node, CSVW_NS + "table", table_node, True, None, None),
            ]
            env += [
                (table_node, "http://www.w3.org/2000/01/rdf-schema#comment",
                 c, False, None, None)
                for c in scan.comments
            ]
            # T4: table-level common properties + notes (reader.rb:338-343)
            lang = None if group.context_lang == "und" else group.context_lang
            props = dict(table.common_properties)
            if table.notes is not None:
                props["notes"] = table.notes
            env += common_property_triples(table_node, props, table.url, lang)
            parts.append(spark.createDataFrame(env, TRIPLE_SCHEMA))

    if mode == "standard":
        head = [(group_node, RDF_TYPE, CSVW_NS + "TableGroup", True, None, None)]
        # T4: group-level common properties + notes (reader.rb:174-179)
        lang = None if group.context_lang == "und" else group.context_lang
        gprops = dict(group.common_properties)
        if group.notes is not None:
            gprops["notes"] = group.notes
        gbase = group.tables[0].url if group.tables else (base or "")
        head += common_property_triples(group_node, gprops, gbase, lang)
        if prov is not None:
            head += provenance_triples(
                group_node, [t.url for t in group.tables],
                metadata_urls=prov.get("metadata_urls", []),
                started_at=prov["started_at"], ended_at=prov["ended_at"])
        parts.append(spark.createDataFrame(head, TRIPLE_SCHEMA))

    if not parts:
        triples = spark.createDataFrame([], TRIPLE_SCHEMA)
    else:
        triples = parts[0]
        for p in parts[1:]:
            triples = triples.unionByName(p)
    if dedupe:
        triples = dedupe_triples(triples)
    return ReadResult(triples=triples.select(*TRIPLE_COLUMNS), group=group, scans=scans)


def to_json(
    spark: SparkSession,
    metadata: dict | str,
    *,
    base: str | None = None,
    url_map: dict[str, str] | None = None,
    search_dir: str | None = None,
    mode: str = "minimal",
    headers: dict | None = None,
):
    """EP3/S12: csv2json serialization (reader.rb:398-624).

    Returns the parsed JSON value: minimal -> list of per-subject objects;
    standard -> {"tables": [...]} envelope. The lines are the ones
    :func:`to_json_lines` writes (``operators/json_rows.json_lines``):
    the driver collects them, orders them by (_row, pos) and parses each;
    only the table- and group-level envelope is built here.

    DRIVER-SIZED TABLES ONLY: this is the in-memory-document API — the
    per-table ``collect()`` materializes every line on the driver, which
    is the point (the caller wants a Python value). For tables that don't
    fit a driver, use :func:`to_json_lines`.
    """
    from .operators.json_rows import (
        assemble_standard_table,
        json_lines,
        simplify_common_value,
    )

    group, html_text, search_dir = _load_group(
        metadata, base, search_dir, headers)

    out: list = []
    for table in group.tables:
        if table.suppress_output:
            continue
        scan, table, cells = _table_cells(
            spark, table, html_text, url_map, search_dir, headers)
        lines = sorted(json_lines(cells, table, mode).collect(),
                       key=lambda r: (r["_row"], r["pos"]))
        rows = [json.loads(r["line"]) for r in lines]
        if mode == "minimal":
            out.extend(rows)
        else:
            out.append(assemble_standard_table(table, rows, scan.comments))

    if mode == "minimal":
        return out
    envelope: dict = {"tables": out}
    if group.id:
        envelope["@id"] = group.id  # reader.rb:457
    for k, v in group.common_properties.items():
        envelope[k] = simplify_common_value(v, base=base)
    if group.notes is not None:
        envelope["notes"] = simplify_common_value(group.notes, base=base)
    return envelope


def to_json_lines(
    spark: SparkSession,
    metadata: dict | str,
    out_path: str,
    *,
    base: str | None = None,
    url_map: dict[str, str] | None = None,
    search_dir: str | None = None,
    mode: str = "minimal",
    headers: dict | None = None,
) -> list[str]:
    """Distributed csv2json sink: serialize every (non-suppressed) table to
    JSONL under *out_path* with NO driver materialization — the scale path
    next to :func:`to_json`'s in-memory document. One directory per table
    (``<out_path>/table_<i>`` for multi-table groups, *out_path* itself for
    a single table); returns the written directories in table order.
    Part files concatenate in name order to document row order."""
    from .operators.json_rows import write_json_lines

    group, html_text, search_dir = _load_group(
        metadata, base, search_dir, headers)
    tables = [t for t in group.tables if not t.suppress_output]
    out_dirs: list[str] = []
    for i, table in enumerate(tables):
        _scan, table, cells = _table_cells(
            spark, table, html_text, url_map, search_dir, headers)
        dest = out_path if len(tables) == 1 else os.path.join(
            out_path, f"table_{i}")
        write_json_lines(cells, table, dest, mode=mode)
        out_dirs.append(dest)
    return out_dirs


def validate(
    spark: SparkSession,
    metadata: dict | str,
    *,
    base: str | None = None,
    url_map: dict[str, str] | None = None,
    search_dir: str | None = None,
    headers: dict | None = None,
) -> DataFrame:
    """Validation mode (reference ``validate: true``): run the cell
    pipeline for every table (including suppressOutput tables) and return
    one DataFrame of problems — C11 cell errors, A1 primary-key
    duplicates, J1 foreign-key violations and duplicate FK targets.

    Schema: (kind, table, row, source_row, column, detail). Empty result
    means the table group is valid. All checks are set-level operators
    (aggregations / anti-joins), never driver-side state."""
    from .operators.validate import (
        cell_errors,
        fk_duplicate_targets,
        fk_violations,
        pk_violations,
    )

    out_schema = ("kind string, table string, row long, source_row long, "
                  "column string, detail string")

    try:
        group, html_text, search_dir = _load_group(
            metadata, base, search_dir, headers)
    except json.JSONDecodeError as e:
        # malformed metadata JSON is a VALIDATION FINDING, not a crash
        # (official suite test092 'invalid JSON'): the document is
        # unprocessable, so the single metadata_error row is the report
        return spark.createDataFrame(
            [("metadata_error", None, None, None, None,
              f"metadata is not valid JSON: {e}")], out_schema)

    parts: list[DataFrame] = []

    # metadata-document validation first (reference validate!, reader.rb:167)
    # — a metadata JSON handed in as a PATH gets its document loaded and
    # validated exactly like a dict (the runner/CLI pass paths)
    doc = metadata
    if isinstance(doc, str) and doc.endswith((".json", ".jsonld")) \
            and os.path.isfile(doc):
        import json as _json

        with open(doc, encoding="utf-8") as f:
            doc = _json.load(f)
    if isinstance(doc, dict):
        from .csvw import metadata as metadata_mod
        from .csvw.metadata import validate_document

        # document validation resolves schema-by-URL references exactly
        # like compilation does: with the effective search_dir on the
        # _JSON_REF_BASE stack, a resolvable reference loads (and its
        # contents validate) instead of surfacing a spurious
        # could-not-load warning
        if search_dir is not None:
            metadata_mod._JSON_REF_BASE.append(search_dir)
        try:
            md_errors, md_warnings = validate_document(doc, base=base)
        finally:
            if search_dir is not None:
                metadata_mod._JSON_REF_BASE.pop()
        md_rows = (
            [("metadata_error", None, None, None, None, e) for e in md_errors]
            + [("metadata_warning", None, None, None, None, w)
               for w in md_warnings])
        if md_errors:
            # an ERROR-invalid document never reaches the cell pipeline —
            # the reference's validate! raises before any row processing
            # (metadata.rb:611-770); e.g. duplicate column names would
            # make the per-column cell attachment ambiguous
            return spark.createDataFrame(md_rows, out_schema)
        if md_rows:
            parts.append(spark.createDataFrame(md_rows, out_schema))
    cells_by_url: dict[str, DataFrame] = {}
    tables_by_url: dict[str, CompiledTable] = {}
    for table in group.tables:
        scan = _scan_table(spark, table, html_text, url_map, search_dir)
        if scan.problems_df is not None:
            # scan-level problems (ragged rows wider than the schema) are
            # validation findings too: a lazy plan, materialized only here
            parts.append(scan.problems_df.select(
                F.lit("scan").alias("kind"),
                F.lit(table.url).alias("table"),
                F.lit(None).cast("long").alias("row"),
                F.col("source_row").cast("long"),
                F.lit(None).cast("string").alias("column"),
                F.col("detail")))
        # schema-vs-embedded-header compatibility (verify_compatible!,
        # metadata.rb:996-1079): in validation mode an incompatibility is a
        # reported problem; the declared schema then proceeds unmerged
        compat_err = None
        if table.columns and scan.header_titles:
            embedded = default_table_for(table.url, scan.header_titles)
            try:
                verify_compatible(table, embedded, validate=True)
            except CompatibilityError as e:
                compat_err = str(e)
                parts.append(spark.createDataFrame(
                    [("schema_incompatible", table.url, None, None, None,
                      compat_err)], out_schema))
        if not table.columns:
            table = _effective_table(table, scan)
        elif compat_err is None:
            table = merge_embedded_titles(table, scan.header_titles)
        cells = build_cells(scan.df, table)
        cells_by_url[table.url] = cells
        tables_by_url[table.url] = table

        errs = cell_errors(cells, table).select(
            F.lit("cell").alias("kind"), F.lit(table.url).alias("table"),
            F.col("row").cast("long"), F.col("source_row").cast("long"),
            F.col("column"), F.col("error").alias("detail"))
        parts.append(errs)

        pk = pk_violations(cells, table)
        if table.primary_key:
            parts.append(pk.select(
                F.lit("pk_duplicate").alias("kind"),
                F.lit(table.url).alias("table"),
                F.lit(None).cast("long").alias("row"),
                F.lit(None).cast("long").alias("source_row"),
                F.lit(",".join(table.primary_key)).alias("column"),
                F.concat_ws("|", *[F.col(c) for c in table.primary_key],
                            F.col("n")).alias("detail")))

    for url, table in tables_by_url.items():
        for fk in table.foreign_keys:
            if fk.resource not in cells_by_url:
                continue
            missing = fk_violations(
                cells_by_url[url], fk, cells_by_url[fk.resource])
            keys = [f"k{i}" for i in range(len(fk.column_reference))]
            parts.append(missing.select(
                F.lit("fk_missing").alias("kind"), F.lit(url).alias("table"),
                F.lit(None).cast("long").alias("row"),
                F.lit(None).cast("long").alias("source_row"),
                F.lit(",".join(fk.column_reference)).alias("column"),
                F.concat_ws("|", *keys).alias("detail")))
            dup = fk_duplicate_targets(cells_by_url[fk.resource], fk)
            dkeys = [f"k{i}" for i in range(len(fk.referenced_columns))]
            parts.append(dup.select(
                F.lit("fk_duplicate_target").alias("kind"),
                F.lit(fk.resource).alias("table"),
                F.lit(None).cast("long").alias("row"),
                F.lit(None).cast("long").alias("source_row"),
                F.lit(",".join(fk.referenced_columns)).alias("column"),
                F.concat_ws("|", *dkeys, F.col("n")).alias("detail")))

    if not parts:
        return spark.createDataFrame([], out_schema)
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result
