"""Dialect-aware scan (S1-S6) unit tests, mirroring the reference's
row/cell-iteration cases (metadata_spec.rb:1030-1091): skipRows,
headerRowCount, commentPrefix, skipBlankRows, skipColumns, delimiter,
trim, and row/sourceRow numbering."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import FIXTURE_DIR


def _scan(spark, tmp_path, content: str, dialect: dict, columns=None):
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "t.csv"
    p.write_text(content)
    meta = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": "http://example.org/t.csv",
        "dialect": dialect,
    }
    if columns is not None:
        meta["tableSchema"] = {"columns": columns}
    group = parse_metadata(meta, base="http://example.org/meta.json")
    table = group.tables[0]
    return read_table(spark, table, str(p)), table


def test_skip_rows_and_header(spark, tmp_path):
    """skipRows=1 then header; skipped region + header feed embedded
    metadata; data rows numbered from 1, sourceRow = physical line."""
    content = "# a comment line\ncol_a,col_b\n1,x\n2,y\n"
    scan, _ = _scan(spark, tmp_path, content,
                    {"skipRows": 1, "commentPrefix": "#"})
    rows = sorted(scan.df.collect(), key=lambda r: r["_row"])
    assert scan.header_titles == ["col_a", "col_b"]
    # prefix removed, then stripped (reference metadata.rb:1851 / 884)
    assert scan.comments == ["a comment line"]
    assert [(r["_row"], r["_sourceRow"], r["_c0"], r["_c1"]) for r in rows] == [
        (1, 3, "1", "x"), (2, 4, "2", "y")]


def test_comment_rows_removed_from_data(spark, tmp_path):
    content = "a,b\n1,x\n#mid comment\n2,y\n"
    scan, _ = _scan(spark, tmp_path, content, {"commentPrefix": "#"})
    rows = sorted(scan.df.collect(), key=lambda r: r["_row"])
    assert [(r["_row"], r["_sourceRow"]) for r in rows] == [(1, 2), (2, 4)]
    assert scan.comments == ["mid comment"]


def test_skip_blank_rows(spark, tmp_path):
    content = "a,b\n1,x\n,\n2,y\n"
    scan, _ = _scan(spark, tmp_path, content, {"skipBlankRows": True})
    rows = sorted(scan.df.collect(), key=lambda r: r["_row"])
    assert [(r["_row"], r["_c0"]) for r in rows] == [(1, "1"), (2, "2")]


def test_skip_columns_and_tsv(spark, tmp_path):
    content = "skipme\tA\tB\n0\t1\tx\n0\t2\ty\n"
    scan, _ = _scan(spark, tmp_path, content,
                    {"delimiter": "\t", "skipColumns": 1})
    rows = sorted(scan.df.collect(), key=lambda r: r["_row"])
    assert scan.header_titles == ["A", "B"]
    assert [(r["_c0"], r["_c1"]) for r in rows] == [("1", "x"), ("2", "y")]


def test_no_header(spark, tmp_path):
    content = "1,x\n2,y\n"
    scan, _ = _scan(spark, tmp_path, content, {"header": False})
    rows = sorted(scan.df.collect(), key=lambda r: r["_row"])
    assert scan.header_titles == []
    assert [(r["_row"], r["_sourceRow"]) for r in rows] == [(1, 1), (2, 2)]


def test_quoted_fields_with_delimiter(spark, tmp_path):
    content = 'a,b\n"x,y",2\n"he said ""hi""",3\n'
    scan, _ = _scan(spark, tmp_path, content, {})
    rows = sorted(scan.df.collect(), key=lambda r: r["_row"])
    assert rows[0]["_c0"] == "x,y"
    assert rows[1]["_c0"] == 'he said "hi"'


def test_trim_dialect(spark, tmp_path):
    from rdf_tabular_spark.operators.cells import build_cells
    from pyspark.sql import functions as F

    content = "a\n  padded  \n"
    scan, table = _scan(spark, tmp_path, content, {"trim": True},
                        columns=[{"name": "a"}])
    cells = build_cells(scan.df, table)
    v = cells.select(
        F.try_element_at(F.col("cell_a"), F.lit(1))["lex"].alias("v")).collect()
    assert v[0]["v"] == "padded"


def test_multiline_cells(spark, tmp_path):
    """Cells with embedded line terminators route to record framing; row numbers are record indices (reference: Ruby
    CSV iterates records, so sourceNumbers are record-based there too)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "ml.csv"
    p.write_text('a,b\n1,"line1\nline2"\n2,plain\n3,"x\ny\nz"\n')
    table = parse_metadata(
        {"url": "http://example.org/ml.csv"},
        base="http://example.org/ml.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["a", "b"]
    rows = {r["_c0"]: r for r in scan.df.collect()}
    assert rows["1"]["_c1"] == "line1\nline2"
    assert rows["2"]["_c1"] == "plain"
    assert rows["3"]["_c1"] == "x\ny\nz"
    # record-based numbering: data records 1..3
    assert sorted(r["_row"] for r in rows.values()) == [1, 2, 3]
    assert sorted(r["_sourceRow"] for r in rows.values()) == [2, 3, 4]


@pytest.mark.parametrize("at_read,at_collect", [
    ("512", "512"), (None, "512"), ("512", None)])
def test_line_numbers_across_partitions(spark, tmp_path, at_read,
                                        at_collect):
    """The line framer numbers lines exactly when the file splits into
    many partitions: each partition starts after the lines of those
    before it, and the header comes from the first one. The numbers hold
    when the split settings change between read_table and a later
    action: the scan keeps reading the partitions it counted."""
    content = "n,sq\n" + "".join(f"{i},{i * i}\n" for i in range(1, 301))
    key = "spark.sql.files.maxPartitionBytes"

    def split(value):
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)

    try:
        split(at_read)
        scan, _ = _scan(spark, tmp_path, content, {})
        split(at_collect)
        rows = scan.df.collect()
        split("512")
        n_parts = spark.read.text(str(tmp_path / "t.csv")) \
            .rdd.getNumPartitions()
    finally:
        spark.conf.unset(key)
    assert n_parts > 2
    assert scan.header_titles == ["n", "sq"]
    assert sorted((r["_row"], r["_sourceRow"], r["_c0"]) for r in rows) == [
        (i, i + 1, str(i)) for i in range(1, 301)]


def test_multiline_not_triggered_by_balanced_quotes(spark, tmp_path):
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "q.csv"
    p.write_text('a,b\n1,"quoted, with comma"\n')
    table = parse_metadata(
        {"url": "http://example.org/q.csv"},
        base="http://example.org/q.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert [r["_c1"] for r in scan.df.collect()] == ["quoted, with comma"]


def test_non_utf8_encoding(spark, tmp_path):
    """S1 dialect `encoding`: ISO-8859-1 input is framed on raw bytes and
    decoded with the declared charset."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "latin.csv"
    p.write_bytes("name,city\nJosé,Málaga\nZoë,Zürich\n".encode("iso-8859-1"))
    table = parse_metadata(
        {"url": "http://example.org/latin.csv",
         "dialect": {"encoding": "iso-8859-1"}},
        base="http://example.org/latin.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["name", "city"]
    rows = sorted((r["_c0"], r["_c1"]) for r in scan.df.collect())
    assert rows == [("José", "Málaga"), ("Zoë", "Zürich")]


def test_custom_line_terminator(spark, tmp_path):
    """S1 dialect `lineTerminators`: a non-standard record separator routes
    through record framing."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "semi.csv"
    p.write_text("a,b;1,x;2,y;")
    table = parse_metadata(
        {"url": "http://example.org/semi.csv",
         "dialect": {"lineTerminators": ";"}},
        base="http://example.org/semi.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["a", "b"]
    rows = sorted((r["_c0"], r["_c1"]) for r in scan.df.collect()
                  if r["_c0"] is not None)
    assert rows == [("1", "x"), ("2", "y")]


def test_line_terminators_array_default_is_standard_path(spark, tmp_path,
                                                        monkeypatch):
    """`lineTerminators` is string-or-array; an array equal to the spec
    default must NOT reroute to the record-framing scan (round-1 advice:
    the scalar assumption crashed on any array value)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources import framing
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "arr.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    table = parse_metadata(
        {"url": "http://example.org/arr.csv",
         "dialect": {"lineTerminators": ["\r\n", "\n"]}},
        base="http://example.org/arr.csv").tables[0]
    monkeypatch.setattr(framing, "frame_records", None)  # line framer only
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["a", "b"]
    assert sorted((r["_c0"], r["_c1"]) for r in scan.df.collect()) == [
        ("1", "x"), ("2", "y")]


def test_multichar_line_terminator(spark, tmp_path):
    """A multi-char custom record separator ('||') overlaps itself, so the
    sequential splitter frames it; quoted embedded separators are preserved."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "pipe.csv"
    p.write_text('a,b||1,"x||y"||2,z||')
    table = parse_metadata(
        {"url": "http://example.org/pipe.csv",
         "dialect": {"lineTerminators": "||"}},
        base="http://example.org/pipe.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["a", "b"]
    rows = sorted((r["_c0"], r["_c1"]) for r in scan.df.collect())
    assert rows == [("1", "x||y"), ("2", "z")]


def test_unquoted_midfield_quote_stays_on_line_scan(spark, tmp_path):
    """An unquoted quoteChar inside a field (`5" x 4`) must not reroute the
    file to record framing (round-1 advice: the odd-quote
    heuristic counted every quote; now only field-boundary quotes count)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "inch.csv"
    p.write_text('name,size\nboard,5" x 4\nplank,7\n')
    table = parse_metadata(
        {"url": "http://example.org/inch.csv"},
        base="http://example.org/inch.csv").tables[0]
    scan = read_table(spark, table, str(p))
    rows = sorted((r["_c0"], r["_c1"], r["_row"]) for r in scan.df.collect())
    assert rows == [("board", '5" x 4', 1), ("plank", "7", 2)]


def test_ragged_rows_surface_as_scan_problems(spark, tmp_path):
    """Record-framing scan: a row wider than the declared schema is a scan
    problem, not a silent truncation."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "ragged.csv"
    p.write_text('a,b\n1,"x\ny",extra,wider\n2,z\n')
    table = parse_metadata(
        {"url": "http://example.org/ragged.csv",
         "tableSchema": {"columns": [{"name": "a"}, {"name": "b"}]}},
        base="http://example.org/ragged.csv").tables[0]
    scan = read_table(spark, table, str(p))
    problems = scan.problems_df.collect()
    assert [r["source_row"] for r in problems] == [2], problems
    assert all("ragged" in r["detail"] for r in problems), problems


def test_scan_lines_df_matches_single_file_scan(spark, tmp_path):
    """Cross-validation: the distributed MANY-file dialect scan
    (scan_lines_df) and the single-file scan (read_table) implement the
    same S2-S5 semantics — same surviving rows, numbering, and semantic
    cell values — across randomized dialects and quote-free content.
    Normalization for the compare: read_table emits raw cells (trimming
    and ''->null happen later in the cell pipeline, operators/cells.py),
    scan_lines_df applies trim at the scan; both converge to
    trim(cell) or NULL."""
    import random

    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table, scan_lines_df

    def norm(v):
        if v is None:
            return None
        return v.strip() or None

    for seed in range(10):
        rng = random.Random(seed)
        delim = rng.choice([",", ";"])
        skip_rows = rng.randint(0, 2)
        skip_cols = rng.randint(0, 1)
        blank = rng.choice([True, False])
        n_phys = 3 + skip_cols

        def cell(r):
            return r.choice(["", "x", "ab c", " pad ", "1.5", "zz"])

        lines = [f"junk skipped {i}" for i in range(skip_rows)]
        lines.append(delim.join(f"h{i}" for i in range(n_phys)))
        for _ in range(12):
            kind = rng.random()
            if kind < 0.15:
                lines.append("# a comment " + str(rng.randint(0, 9)))
            elif kind < 0.3:
                lines.append(rng.choice(["", "   ", delim * (n_phys - 1)]))
            else:
                lines.append(delim.join(cell(rng) for _ in range(n_phys)))

        p = tmp_path / f"rand{seed}.csv"
        p.write_text("\n".join(lines) + "\n")
        meta = {
            "url": f"http://example.org/rand{seed}.csv",
            "dialect": {"delimiter": delim, "skipRows": skip_rows,
                        "skipColumns": skip_cols, "commentPrefix": "#",
                        "skipBlankRows": blank},
            "tableSchema": {"columns": [
                {"name": f"c{i}"} for i in range(n_phys - skip_cols)]},
        }
        table = parse_metadata(meta, base=meta["url"]).tables[0]
        single = read_table(spark, table, str(p))
        want = sorted(
            (r["_row"],) + tuple(norm(r[f"_c{i}"])
                                 for i in range(n_phys - skip_cols))
            for r in single.df.collect())

        staged = spark.createDataFrame(
            [(0, i + 1, ln) for i, ln in enumerate(lines)],
            "file_id long, line_no long, text string")
        multi = scan_lines_df(staged, table.dialect, n_phys)
        got = sorted(
            (r["_row"],) + tuple(norm(r[f"_c{i}"])
                                 for i in range(n_phys - skip_cols))
            for r in multi.collect())
        assert got == want, (seed, got, want)


def test_fully_quoted_adjacent_fields_route_to_multiline(spark, tmp_path):
    """'"a","b<NL>c","d"' — non-overlapping boundary matches consume the
    shared comma and count even, which misrouted this file to the line
    scan (round-2 review finding); the combined parity+boundary probe
    routes it to record framing and parses the embedded newline."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "adj.csv"
    p.write_text('"h1","h2","h3"\n"a","b\nc","d"\n"e","f","g"\n')
    table = parse_metadata(
        {"url": "http://example.org/adj.csv"},
        base="http://example.org/adj.csv").tables[0]
    scan = read_table(spark, table, str(p))
    rows = sorted((r["_c0"], r["_c1"], r["_c2"]) for r in scan.df.collect())
    assert rows == [("a", "b\nc", "d"), ("e", "f", "g")]


def test_fully_quoted_simple_file_stays_on_line_scan(spark, tmp_path,
                                                     monkeypatch):
    """A fully-quoted file WITHOUT embedded newlines has even per-line
    quote counts and must stay on the line framer (the boundary-only
    probe misrouted every such file to record framing)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources import csv_source, framing

    def no_record_framing(*args, **kwargs):
        raise AssertionError("routed to record framing")

    monkeypatch.setattr(framing, "frame_records", no_record_framing)
    p = tmp_path / "fq.csv"
    p.write_text('"h1","h2"\n"x","y"\n"z","w"\n')
    table = parse_metadata(
        {"url": "http://example.org/fq.csv"},
        base="http://example.org/fq.csv").tables[0]
    scan = csv_source.read_table(spark, table, str(p))
    rows = sorted((r["_c0"], r["_c1"]) for r in scan.df.collect())
    assert rows == [("x", "y"), ("z", "w")]


def test_multiple_line_terminators_all_split(spark, tmp_path):
    """CSVW lineTerminators is a LIST: every listed terminator ends a row.
    ['\\n', ';'] must split on both (the first-custom-only handling
    merged newline-terminated records)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "mix.csv"
    p.write_text("a,b\n1,x;2,y\n3,z;")
    table = parse_metadata(
        {"url": "http://example.org/mix.csv",
         "dialect": {"lineTerminators": ["\n", ";"]}},
        base="http://example.org/mix.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["a", "b"]
    rows = sorted((r["_c0"], r["_c1"]) for r in scan.df.collect()
                  if r["_c0"] is not None)
    assert rows == [("1", "x"), ("2", "y"), ("3", "z")]


def test_ragged_detection_ignores_comment_and_header_rows(spark, tmp_path):
    """Raggedness is a data-row problem: a wide comment line or skipped
    title row must not be reported (round-2 review finding)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "cw.csv"
    p.write_text('# note, with, many, commas, here\na,b\n1,"x\ny"\n2,z\n')
    table = parse_metadata(
        {"url": "http://example.org/cw.csv",
         "dialect": {"skipRows": 1, "commentPrefix": "#"},
         "tableSchema": {"columns": [{"name": "a"}, {"name": "b"}]}},
        base="http://example.org/cw.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.problems_df.collect() == []


def test_utf8_bom_stripped_from_header(spark, tmp_path):
    """A UTF-8 BOM before the header must not leak into the first column
    title (Ruby's CSV reads bom|utf-8; our text scan strips it too)."""
    p = tmp_path / "bom.csv"
    p.write_bytes(b"\xef\xbb\xbfname,age\nann,3\n")
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    table = parse_metadata({"url": "http://example.org/bom.csv"},
                           base="http://example.org/bom.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["name", "age"]
    assert [(r["_c0"], r["_c1"]) for r in scan.df.collect()] == [("ann", "3")]


def test_comment_collect_is_bounded(spark, tmp_path, monkeypatch):
    """VERDICT r4 #4: a file that is mostly commentPrefix lines must not
    materialize an unbounded comment list on the driver. The collect is
    an ordered limit (TakeOrderedAndProject — each task keeps at most
    cap rows), comments truncate to the cap IN SOURCE ORDER with a
    warning, and the data rows are untouched."""
    import warnings

    from rdf_tabular_spark.sources import csv_source

    monkeypatch.setattr(csv_source, "_COMMENT_CAP", 5)
    body = "".join(f"#c{i}\n1,x\n" for i in range(20))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        scan, _ = _scan(spark, tmp_path, "a,b\n" + body,
                        {"commentPrefix": "#"})
    assert scan.comments == [f"c{i}" for i in range(5)]  # first 5, ordered
    assert any("truncated" in str(x.message) for x in w)
    assert scan.df.count() == 20  # every data row survives


def test_comment_collect_plan_is_top_k(spark, tmp_path):
    """The ordered-limit shape actually compiles to
    TakeOrderedAndProject in the physical plan (not a global Sort +
    Collect): assert on the plan of the same expression the scan
    builds."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    # cap (5) below the row count so the top-K survives optimization —
    # with cap >= |rows| Catalyst rightly folds the limit away, which is
    # also bounded; the interesting case is cap << rows
    df = spark.range(100).select(
        F.col("id").alias("_sourceRow"),
        F.concat(F.lit("#c"), F.col("id")).alias("value"))
    limited = df.orderBy("_sourceRow").limit(5 + 1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        limited.explain()
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # no shuffle: per-task heaps + driver merge


#: content + dialect whose scan once depended on whether ANOTHER row
#: embedded a line terminator; comments keep the record's own text
PARITY_CASES = {
    "quoted_first_cell_is_data": (
        'a,b\n"#quoted",1\n2,x\n', {"commentPrefix": "#"},
        [], [(1, 2, "#quoted", "1"), (2, 3, "2", "x")]),
    "skipped_row_keeps_its_text": (
        'skip,"a,b"\na,b\n1,2\n', {"skipRows": 1},
        ['skip,"a,b"'], [(1, 3, "1", "2")]),
    "header_region_comment": (
        "a,b\n#c,d\n1,2\n", {"headerRowCount": 2, "commentPrefix": "#"},
        ["c,d"], [(1, 3, "1", "2")]),
    "bare_cr_stays_in_cell": (
        "a,b\nx\ry,1\n", {}, [], [(1, 2, "x\ry", "1")]),
    "utf8_bom_dropped": ("\ufeffa,b\n1,2\n", {}, [], [(1, 2, "1", "2")]),
}


@pytest.mark.parametrize("name", sorted(PARITY_CASES))
def test_line_and_record_framing_scan_alike(spark, tmp_path, monkeypatch,
                                            name):
    """The same rows scan the same whether the line framer or record
    framing reads the file: appending a row whose quoted cell embeds LF
    sends the file to record framing, and the header titles, comments
    and the other data rows stay as they were."""
    from rdf_tabular_spark.sources import framing

    content, dialect, comments, rows = PARITY_CASES[name]
    framed = []
    real = framing.frame_records

    def recording(*args, **kwargs):
        framed.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(framing, "frame_records", recording)
    scans = []
    for sub, text in (("line", content), ("record", content + '3,"p\nq"\n')):
        (tmp_path / sub).mkdir()
        scan, _ = _scan(spark, tmp_path / sub, text, dialect)
        got = sorted((r["_row"], r["_sourceRow"], r["_c0"], r["_c1"])
                     for r in scan.df.collect())
        scans.append((scan.header_titles, scan.comments, got))
    assert framed == [str(tmp_path / "record" / "t.csv")]
    line, record = scans
    assert record[2][-1][2:] == ("3", "p\nq")
    assert (record[0], record[1], record[2][:-1]) == line
    assert line[0] == ["a", "b"]
    assert (line[1], line[2]) == (comments, rows)


@pytest.mark.parametrize("tail,more_rows", [
    ("", []),
    # outside quotes a `\` is literal: the LF after `C:\tmp\` ends its
    # record (univocity, too, escapes only inside quoted values)
    ("C:\\tmp\\\nnext,row\n",
     [(2, "C:\\tmp\\", None), (3, "next", "row")]),
])
def test_backslash_escape_with_embedded_newline(spark, tmp_path, tail,
                                                more_rows):
    """doubleQuote false: a backslash-escaped quote does not close the
    quoted cell, so the LF after it stays inside the cell."""
    scan, _ = _scan(spark, tmp_path, 'a,b\n"x\\"y\nq",1\n' + tail,
                    {"doubleQuote": False})
    assert scan.header_titles == ["a", "b"]
    assert [(r["_row"], r["_c0"], r["_c1"]) for r in scan.df.collect()] \
        == [(1, 'x"y\nq', "1")] + more_rows


def test_escaped_quote_stays_on_line_framer(spark, tmp_path, monkeypatch):
    """doubleQuote false without an embedded terminator: an escaped quote
    leaves the line's quote count even, so the line framer reads it."""
    from rdf_tabular_spark.sources import csv_source, framing

    def no_record_framing(*args, **kwargs):
        raise AssertionError("routed to record framing")

    monkeypatch.setattr(framing, "frame_records", no_record_framing)
    monkeypatch.setattr(csv_source, "_split_records", no_record_framing)
    scan, _ = _scan(spark, tmp_path, 'a,b\n"x\\"y",1\n',
                    {"doubleQuote": False})
    assert [(r["_c0"], r["_c1"]) for r in scan.df.collect()] == [
        ('x"y', "1")]


@pytest.mark.parametrize("terms,double_quote,text", [
    (["\r\n", "\n"], True, 'a,b\r\n"x\r\ny",1\r\n\n2,"""q"""\n'),
    (["||"], True, 'a||"b||c"||d|||e||'),
    (["\n"], False, 'a\n"x\\"\ny\\\\",1\nC:\\\nz\\'),
])
def test_split_file_reads_in_chunks_alike(tmp_path, terms, double_quote,
                                          text):
    """The splitter gives the same records whatever its read size, also
    when a terminator or an escape straddles two reads."""
    from rdf_tabular_spark.sources.csv_source import _split_file

    p = tmp_path / "s.csv"
    p.write_bytes(text.encode())
    whole = list(_split_file(str(p), "utf-8", '"', terms, double_quote))
    assert len(whole) > 2
    for chunk in (1, 2, 3, 5):
        assert list(_split_file(str(p), "utf-8", '"', terms, double_quote,
                                chunk)) == whole


def test_utf16_cell_with_embedded_newline(spark, tmp_path):
    """A UTF-16 file (not byte-transparent) decodes with the dialect's
    encoding before framing; a quoted LF stays inside its cell."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "u16.csv"
    p.write_bytes('v,w\n"Zoë\nZürich",2\n'.encode("utf-16"))
    table = parse_metadata(
        {"url": "http://example.org/u16.csv",
         "dialect": {"encoding": "utf-16"}},
        base="http://example.org/u16.csv").tables[0]
    scan = read_table(spark, table, str(p))
    assert scan.header_titles == ["v", "w"]
    assert [(r["_row"], r["_c0"], r["_c1"]) for r in scan.df.collect()] \
        == [(1, "Zoë\nZürich", "2")]


def _stages_running(spark, group: str, rdd_name: str) -> int:
    """Completed stages of *group*'s jobs whose RDD graph holds an RDD
    named *rdd_name* (read from Spark's status store)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = lambda s: [s.apply(i) for i in range(s.size())]  # noqa: E731

    def names(cluster):
        out = [n.name() for n in seq(cluster.childNodes())]
        for c in seq(cluster.childClusters()):
            out += names(c)
        return out

    stage_ids = {sid for j in seq(store.jobsList(None))
                 if j.jobGroup().isDefined() and j.jobGroup().get() == group
                 for sid in seq(j.stageIds())}
    return sum(
        store.lastStageAttempt(sid).status().toString() == "COMPLETE"
        and rdd_name in names(store.operationGraphForStage(sid).rootCluster())
        for sid in stage_ids)


def test_splitter_reads_the_file_once(spark, tmp_path):
    """A splitter-framed file (cp1252 here) is decoded once per scan: the
    header collect, the data-region comment collect and the count all
    read the checkpointed records."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.sources.csv_source import read_table

    p = tmp_path / "cp.csv"
    p.write_bytes("name,city\nJosé,Málaga\n#mid\nZoë,Zürich\n"
                  .encode("cp1252"))
    table = parse_metadata(
        {"url": "http://example.org/cp.csv",
         "dialect": {"encoding": "windows-1252", "commentPrefix": "#"}},
        base="http://example.org/cp.csv").tables[0]
    sc = spark.sparkContext
    sc.setJobGroup("splitter-once", "splitter-once")
    try:
        scan = read_table(spark, table, str(p))
        assert scan.df.count() == 2
    finally:
        sc.setJobGroup("", "")
    assert scan.header_titles == ["name", "city"]
    assert scan.comments == ["mid"]
    assert _stages_running(spark, "splitter-once", "PythonRDD") == 1


_OUTSIDE_SCRIPT = r'''
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from rdf_tabular_spark.csvw.metadata import parse_metadata
from rdf_tabular_spark.sources.csv_source import read_table

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
out = {}
for name, data, encoding in [
        ("bom.csv", '﻿v,w\n"a\nb",1\n'.encode("utf-8"), "utf-8"),
        ("u16.csv", 'v,w\n"Zoë\nZürich",2\n'.encode("utf-16"), "utf-16")]:
    with open(name, "wb") as f:
        f.write(data)
    table = parse_metadata(
        {"url": "http://example.org/" + name,
         "dialect": {"encoding": encoding}},
        base="http://example.org/" + name).tables[0]
    out[name] = [[r["_c0"], r["_c1"]]
                 for r in read_table(spark, table, name).df.collect()]
spark.stop()
print(json.dumps(out))
'''


def test_python_framers_run_from_outside_the_checkout(tmp_path):
    """The record framer and the splitter run Python on executors; a
    driver started from another directory, with the package only on its
    own sys.path, ships the package to its workers."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo)
    script = tmp_path / "scan.py"
    script.write_text(_OUTSIDE_SCRIPT)
    proc = subprocess.run([sys.executable, str(script), repo], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {
        "bom.csv": [["a\nb", "1"]], "u16.csv": [["Zoë\nZürich", "2"]]}
