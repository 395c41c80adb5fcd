"""End-to-end golden tests: CSVW fixtures -> minimal-mode triples, compared
against the reference's emitted Turtle (set-wise, bnode-canonicalized,
P/R >= 0.95 gate per BASELINE.md; we assert exact match where we can)."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import FIXTURE_DIR, needs_reference
from tests.ttl import compare_graphs, parse_ttl, spark_triples

BASE = "http://example.org/"


def run_fixture(spark, metadata_file: str, golden_ttl: str, url_map=None,
                min_pr: float = 1.0):
    from rdf_tabular_spark.reader import to_triples

    with open(os.path.join(FIXTURE_DIR, metadata_file)) as f:
        doc = json.load(f)
    result = to_triples(
        spark, doc, base=BASE + metadata_file, search_dir=FIXTURE_DIR,
        url_map=url_map, mode="minimal")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, golden_ttl)) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] >= min_pr and report["recall"] >= min_pr, report
    return report


@needs_reference
def test_tree_ops_minimal(spark):
    run_fixture(spark, "tree-ops.csv-metadata.json", "tree-ops-minimal.ttl")


@needs_reference
def test_tree_ops_ext_minimal(spark):
    run_fixture(spark, "tree-ops-ext.json", "tree-ops-ext-minimal.ttl")


@needs_reference
def test_tree_ops_virtual_minimal(spark):
    run_fixture(spark, "tree-ops-virtual.json", "tree-ops-virtual-minimal.ttl")


@needs_reference
def test_countries_minimal(spark):
    run_fixture(spark, "countries.json", "countries-minimal.ttl", url_map={
        "http://example.org/countries.csv": os.path.join(FIXTURE_DIR, "countries.csv"),
        "http://example.org/country_slice.csv": os.path.join(FIXTURE_DIR, "country_slice.csv"),
    })


@needs_reference
def test_country_codes_and_names_minimal(spark):
    """No metadata: embedded header only (F6)."""
    from rdf_tabular_spark.reader import to_triples

    url = BASE + "country-codes-and-names.csv"
    result = to_triples(
        spark, {"url": url}, base=url,
        url_map={url: os.path.join(FIXTURE_DIR, "country-codes-and-names.csv")},
        mode="minimal")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, "country-codes-and-names-minimal.ttl")) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


def run_fixture_std(spark, metadata_file: str, golden_ttl: str, url_map=None):
    from rdf_tabular_spark.reader import to_triples

    with open(os.path.join(FIXTURE_DIR, metadata_file)) as f:
        doc = json.load(f)
    result = to_triples(
        spark, doc, base=BASE + metadata_file, search_dir=FIXTURE_DIR,
        url_map=url_map, mode="standard")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, golden_ttl)) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


@needs_reference
def test_tree_ops_standard(spark):
    """T2 envelope + T4 common properties (reader.rb:170-179, 258-298)."""
    run_fixture_std(spark, "tree-ops.csv-metadata.json", "tree-ops-standard.ttl")


@needs_reference
def test_tree_ops_ext_standard(spark):
    run_fixture_std(spark, "tree-ops-ext.json", "tree-ops-ext-standard.ttl")


@needs_reference
def test_country_codes_and_names_standard(spark):
    from rdf_tabular_spark.reader import to_triples

    url = BASE + "country-codes-and-names.csv"
    result = to_triples(
        spark, {"url": url}, base=url,
        url_map={url: os.path.join(FIXTURE_DIR, "country-codes-and-names.csv")},
        mode="standard")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR,
                           "country-codes-and-names-standard.ttl")) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


ROLES_URL_MAP = {
    BASE + "gov.uk/professions.csv": os.path.join(FIXTURE_DIR, "gov.uk", "professions.csv"),
    BASE + "senior-roles.csv": os.path.join(FIXTURE_DIR, "senior-roles.csv"),
    BASE + "junior-roles.csv": os.path.join(FIXTURE_DIR, "junior-roles.csv"),
}


@needs_reference
def test_roles_minimal(spark):
    """S10 multi-table fan-out + C15 suppressOutput table + schema-by-URL
    (roles.json: tableSchema: "senior-roles.json")."""
    run_fixture(spark, "roles.json", "roles-minimal.ttl", url_map=ROLES_URL_MAP)


@needs_reference
def test_roles_standard(spark):
    run_fixture_std(spark, "roles.json", "roles-standard.ttl", url_map=ROLES_URL_MAP)


@needs_reference
def test_countries_standard(spark):
    run_fixture_std(spark, "countries.json", "countries-standard.ttl", url_map={
        BASE + "countries.csv": os.path.join(FIXTURE_DIR, "countries.csv"),
        BASE + "country_slice.csv": os.path.join(FIXTURE_DIR, "country_slice.csv"),
    })


# ---- EP3/S12: csv2json golden tests -------------------------------------


def run_json_fixture(spark, metadata_file: str, golden_json: str,
                     mode: str = "minimal", url_map=None):
    from rdf_tabular_spark.reader import to_json

    with open(os.path.join(FIXTURE_DIR, metadata_file)) as f:
        doc = json.load(f)
    got = to_json(spark, doc, base=BASE + metadata_file,
                  search_dir=FIXTURE_DIR, url_map=url_map, mode=mode)
    with open(os.path.join(FIXTURE_DIR, golden_json)) as f:
        want = json.load(f)
    assert got == want


@needs_reference
def test_json_tree_ops_minimal(spark):
    run_json_fixture(spark, "tree-ops.csv-metadata.json", "tree-ops-minimal.json")


@needs_reference
def test_json_tree_ops_standard(spark):
    run_json_fixture(spark, "tree-ops.csv-metadata.json",
                     "tree-ops-standard.json", mode="standard")


@needs_reference
def test_json_tree_ops_ext_minimal(spark):
    run_json_fixture(spark, "tree-ops-ext.json", "tree-ops-ext-minimal.json")


@needs_reference
def test_json_tree_ops_virtual_minimal(spark):
    """J3 single-reference nesting resolved statically from templates."""
    run_json_fixture(spark, "tree-ops-virtual.json",
                     "tree-ops-virtual-minimal.json")


@needs_reference
def test_json_countries_minimal(spark):
    run_json_fixture(spark, "countries.json", "countries-minimal.json", url_map={
        BASE + "countries.csv": os.path.join(FIXTURE_DIR, "countries.csv"),
        BASE + "country_slice.csv": os.path.join(FIXTURE_DIR, "country_slice.csv"),
    })


# ---- validation mode: PK/FK integrity (A1/J1) ---------------------------


@needs_reference
def test_pk_violation_test232(spark):
    """Reference fixture test232: duplicate primary-key values are detected
    (reader.rb:652-660; reader_spec.rb:267-290)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells
    from rdf_tabular_spark.operators.validate import pk_violations
    from rdf_tabular_spark.reader import to_triples
    from rdf_tabular_spark.sources.csv_source import read_table

    with open(os.path.join(FIXTURE_DIR, "test232-metadata.json")) as f:
        doc = json.load(f)
    group = parse_metadata(doc, base=BASE + "test232-metadata.json")
    table = group.tables[0]
    scan = read_table(spark, table, os.path.join(FIXTURE_DIR, "test232.csv"))
    cells = build_cells(scan.df, table)
    v = pk_violations(cells, table).collect()
    assert len(v) == 1 and v[0]["PK"] == "1" and v[0]["n"] == 2


@needs_reference
def test_fk_integrity_roles(spark):
    """J1: junior-roles FKs into senior-roles + professions are consistent
    (reader_spec.rb:292-300); a poisoned key is caught by the anti-join."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells
    from rdf_tabular_spark.operators.validate import fk_violations
    from rdf_tabular_spark.reader import to_triples
    from rdf_tabular_spark.sources.csv_source import read_table
    from rdf_tabular_spark.csvw import metadata as metadata_mod

    with open(os.path.join(FIXTURE_DIR, "roles.json")) as f:
        doc = json.load(f)
    metadata_mod._JSON_REF_BASE.append(FIXTURE_DIR)
    try:
        group = parse_metadata(doc, base=BASE + "roles.json")
    finally:
        metadata_mod._JSON_REF_BASE.pop()
    tables = {t.url: t for t in group.tables}
    cells = {}
    for url, t in tables.items():
        cells[url] = build_cells(
            read_table(spark, t, ROLES_URL_MAP[url]).df, t)
    junior = tables[BASE + "junior-roles.csv"]
    assert junior.foreign_keys, "junior-roles.json should declare foreignKeys"
    for fk in junior.foreign_keys:
        missing = fk_violations(
            cells[junior.url], fk, cells[fk.resource]).collect()
        assert missing == [], f"unexpected FK violations: {missing}"
    # poison one referencing value -> exactly that violation surfaces
    from pyspark.sql import functions as F

    fk = junior.foreign_keys[0]
    poisoned = cells[junior.url].withColumn(
        f"cell_{fk.column_reference[0]}",
        F.array(F.named_struct(
            F.lit("lex"), F.lit("no-such-key"),
            F.lit("dt"), F.lit(None).cast("string"),
            F.lit("lang"), F.lit(None).cast("string"),
            F.lit("err"), F.lit(None).cast("string"))))
    bad = fk_violations(poisoned, fk, cells[fk.resource]).collect()
    assert len(bad) >= 1 and bad[0]["k0"] == "no-such-key"


@needs_reference
def test_validate_api_test232_and_roles(spark):
    """Top-level validation mode: test232 yields exactly one pk_duplicate
    problem; the consistent roles group yields none."""
    from rdf_tabular_spark.reader import validate

    with open(os.path.join(FIXTURE_DIR, "test232-metadata.json")) as f:
        doc = json.load(f)
    problems = validate(
        spark, doc, base=BASE + "test232-metadata.json",
        url_map={BASE + "test232.csv": os.path.join(FIXTURE_DIR, "test232.csv")},
    ).collect()
    assert [p["kind"] for p in problems] == ["pk_duplicate"]
    assert problems[0]["detail"] == "1|2"

    with open(os.path.join(FIXTURE_DIR, "roles.json")) as f:
        doc = json.load(f)
    problems = validate(spark, doc, base=BASE + "roles.json",
                        url_map=ROLES_URL_MAP,
                        search_dir=FIXTURE_DIR).collect()
    assert problems == [], problems


@needs_reference
def test_ntriples_roundtrip(spark):
    """S11 RDF text sink: serialize tree-ops minimal triples to N-Triples,
    re-parse with the Turtle parser, compare as graphs."""
    from rdf_tabular_spark.operators.ntriples import to_ntriples_lines
    from rdf_tabular_spark.reader import to_triples

    with open(os.path.join(FIXTURE_DIR, "tree-ops.csv-metadata.json")) as f:
        doc = json.load(f)
    result = to_triples(spark, doc, base=BASE + "tree-ops.csv-metadata.json",
                        search_dir=FIXTURE_DIR, mode="minimal")
    text = "\n".join(r["line"] for r in to_ntriples_lines(result.triples).collect())
    reparsed = parse_ttl(text)
    ours = spark_triples(result.triples)
    report = compare_graphs(reparsed, ours)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


@needs_reference
def test_countries_csv_direct_minimal(spark):
    """countries.csv opened directly, no found metadata: default TableGroup
    + embedded header (discovery step 4/5, metadata.rb:237-241) —
    reader_spec.rb "countries.csv" -> countries.csv-minimal.ttl."""
    from rdf_tabular_spark.reader import to_triples

    url = BASE + "countries.csv"
    result = to_triples(
        spark, {"url": url}, base=url,
        url_map={url: os.path.join(FIXTURE_DIR, "countries.csv")},
        mode="minimal")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, "countries.csv-minimal.ttl")) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


@needs_reference
def test_countries_csv_direct_standard(spark):
    from rdf_tabular_spark.reader import to_triples

    url = BASE + "countries.csv"
    result = to_triples(
        spark, {"url": url}, base=url,
        url_map={url: os.path.join(FIXTURE_DIR, "countries.csv")},
        mode="standard")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, "countries.csv-standard.ttl")) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


@needs_reference
def test_tree_ops_virtual_standard(spark):
    run_fixture_std(
        spark, "tree-ops-virtual.json", "tree-ops-virtual-standard.ttl")


@needs_reference
def test_json_roles_minimal(spark):
    run_json_fixture(spark, "roles.json", "roles-minimal.json",
                     url_map=ROLES_URL_MAP)


@needs_reference
def test_json_countries_csv_direct_minimal(spark):
    from rdf_tabular_spark.reader import to_json

    url = BASE + "countries.csv"
    got = to_json(spark, {"url": url}, base=url,
                  url_map={url: os.path.join(FIXTURE_DIR, "countries.csv")},
                  mode="minimal")
    with open(os.path.join(FIXTURE_DIR, "countries.csv-minimal.json")) as f:
        want = json.load(f)
    assert got == want


# ---- S7: HTML input (csvm+json script metadata + HTML tables) -----------


def run_html_fixture(spark, html_file: str, golden_ttl: str, mode: str):
    from rdf_tabular_spark.reader import to_triples

    result = to_triples(
        spark, os.path.join(FIXTURE_DIR, html_file), base=BASE + html_file,
        mode=mode)
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, golden_ttl)) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


@needs_reference
def test_countries_html_minimal(spark):
    """S7: csvm+json script block is the metadata; tables are external CSVs
    (reader.rb:94-107)."""
    run_html_fixture(spark, "countries.html",
                     "countries_html-minimal.ttl", "minimal")


@needs_reference
def test_countries_html_standard(spark):
    run_html_fixture(spark, "countries.html",
                     "countries_html-standard.ttl", "standard")


@needs_reference
def test_countries_embed_html_minimal(spark):
    """S7: fragment table urls (#countries) read the <th>/<td> rows of the
    HTML document itself (metadata.rb:851-873)."""
    run_html_fixture(spark, "countries_embed.html",
                     "countries_embed-minimal.ttl", "minimal")


@needs_reference
def test_countries_embed_html_standard(spark):
    run_html_fixture(spark, "countries_embed.html",
                     "countries_embed-standard.ttl", "standard")


@needs_reference
def test_json_countries_html_standard(spark):
    from rdf_tabular_spark.reader import to_json

    got = to_json(spark, os.path.join(FIXTURE_DIR, "countries.html"),
                  base=BASE + "countries.html", mode="standard")
    with open(os.path.join(FIXTURE_DIR, "countries_html-standard.json")) as f:
        want = json.load(f)
    assert got == want


@needs_reference
def test_json_countries_embed_html_minimal(spark):
    from rdf_tabular_spark.reader import to_json

    got = to_json(spark, os.path.join(FIXTURE_DIR, "countries_embed.html"),
                  base=BASE + "countries_embed.html", mode="minimal")
    with open(os.path.join(FIXTURE_DIR, "countries_embed-minimal.json")) as f:
        want = json.load(f)
    assert got == want


@needs_reference
def test_doap_self_description(spark):
    """The gem's own DOAP record (etc/doap.csv + metadata -> etc/doap.ttl):
    a real-world table exercising fixed aboutUrl (all rows one subject),
    {+var} valueUrl templates, pname propertyUrls (rdf:/dc:/foaf:),
    language tags, M/d/yyyy dates, and null='' row-sparseness."""
    from rdf_tabular_spark.reader import to_triples

    etc = "/root/reference/etc"
    url = BASE + "doap.csv"
    with open(os.path.join(etc, "doap.csv-metadata.json")) as f:
        doc = json.load(f)
    result = to_triples(
        spark, doc, base=BASE + "doap.csv-metadata.json",
        url_map={url: os.path.join(etc, "doap.csv")}, mode="minimal")
    ours = spark_triples(result.triples)
    with open(os.path.join(etc, "doap.ttl")) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] >= 0.95 and report["recall"] >= 0.95, report


def test_row_titles_standard_mode(spark):
    """T2 csvw:title from schema rowTitles (reader.rb:296-298): each row's
    title cell value hangs off the Row node in standard mode."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells
    from rdf_tabular_spark.operators.emit import emit_table_triples

    doc = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": BASE + "t.csv",
        "tableSchema": {
            "rowTitles": "name",
            "columns": [{"name": "name"}, {"name": "v", "datatype": "integer"}],
        },
    }
    table = parse_metadata(doc, base=BASE + "t.csv").tables[0]
    staged = spark.createDataFrame(
        [("alpha", "1", 1, 2), ("beta", "2", 2, 3)],
        "_c0 string, _c1 string, _row long, _sourceRow long")
    cells = build_cells(staged, table)
    triples = emit_table_triples(cells, table, mode="standard").collect()
    titles = sorted(
        t["obj"] for t in triples
        if t["pred"] == "http://www.w3.org/ns/csvw#title")
    assert titles == ["alpha", "beta"]
    # the title triples hang off the Row nodes
    row_nodes = {t["subj"] for t in triples
                 if t["pred"] == "http://www.w3.org/ns/csvw#title"}
    rownum_nodes = {t["subj"] for t in triples
                    if t["pred"] == "http://www.w3.org/ns/csvw#rownum"}
    assert row_nodes == rownum_nodes


@needs_reference
def test_tree_ops_html_csvm_block_minimal(spark):
    """tree-ops.html: S7 HTML input whose application/csvm+json block
    points at the EXTERNAL tree-ops.csv (unlike countries_embed.html's
    in-document tables). Minimal mode ignores the block's common
    properties, so the output equals tree-ops-minimal.ttl."""
    from rdf_tabular_spark.reader import to_triples

    result = to_triples(
        spark, os.path.join(FIXTURE_DIR, "tree-ops.html"),
        base=BASE + "tree-ops.html", mode="minimal")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, "tree-ops-minimal.ttl")) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report
