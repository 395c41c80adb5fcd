"""CLI smoke tests (python -m rdf_tabular_spark), the analog of the
reference's CLI registration tests (format.rb:40-71). Run in-process
against the shared session-scoped Spark fixture via main()'s internals."""

from __future__ import annotations

import json

import pytest

from rdf_tabular_spark.__main__ import _infer_metadata, _run
from tests.conftest import FIXTURE_DIR, needs_reference


class _Args:
    def __init__(self, **kw):
        self.metadata = None
        self.base = None
        self.mode = "minimal"
        self.json = False
        self.format = "ntriples"
        self.output = None
        self.validate = False
        self.sparql = None
        self.canonical = False
        for k, v in kw.items():
            setattr(self, k, v)


@needs_reference
def test_cli_ntriples(spark, capsys):
    args = _Args(input=f"{FIXTURE_DIR}/tree-ops.csv",
                 metadata=f"{FIXTURE_DIR}/tree-ops.csv-metadata.json",
                 base="http://example.org/tree-ops.csv")
    assert _run(spark, args) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 10  # 2 rows x 5 columns, minimal mode
    assert all(line.endswith(" .") for line in out)


@needs_reference
def test_cli_json(spark, capsys, tmp_path):
    out_file = tmp_path / "out.json"
    args = _Args(input=f"{FIXTURE_DIR}/tree-ops.csv",
                 metadata=f"{FIXTURE_DIR}/tree-ops.csv-metadata.json",
                 base="http://example.org/tree-ops.csv",
                 json=True, output=str(out_file))
    assert _run(spark, args) == 0
    got = json.loads(out_file.read_text())
    assert isinstance(got, list) and len(got) == 2
    assert got[0]["GID"] == "1"


@needs_reference
def test_cli_validate_detects_pk_violation(spark, capsys):
    args = _Args(input=f"{FIXTURE_DIR}/test232-metadata.json",
                 base="http://example.org/test232-metadata.json",
                 validate=True)
    assert _run(spark, args) == 1  # duplicate PK in test232.csv


def test_cli_tsv_inference():
    args = _Args(input="/tmp/x.tsv")
    meta, base = _infer_metadata(args)
    assert meta["dialect"]["delimiter"] == "\t"
    assert base.startswith("file:///")


@needs_reference
def test_cli_turtle(spark, capsys):
    args = _Args(input=f"{FIXTURE_DIR}/tree-ops.csv",
                 metadata=f"{FIXTURE_DIR}/tree-ops.csv-metadata.json",
                 base="http://example.org/tree-ops.csv",
                 format="turtle")
    assert _run(spark, args) == 0
    out = capsys.readouterr().out
    assert out.startswith("@prefix csvw:")
    # one block per subject (2 rows), each terminated with ' .'
    blocks = [ln for ln in out.splitlines() if ln.endswith(" .")
              and not ln.startswith("@prefix")]
    assert len(blocks) == 2
    # parse the document back through the repo's own TTL parser
    from tests.ttl import parse_ttl

    parsed = parse_ttl(out)
    assert len(parsed) == 10


@needs_reference
def test_cli_sparql_select(spark, capsys):
    args = _Args(input=f"{FIXTURE_DIR}/tree-ops.csv",
                 metadata=f"{FIXTURE_DIR}/tree-ops.csv-metadata.json",
                 base="http://example.org/tree-ops.csv",
                 sparql="SELECT ?s ?o WHERE { ?s "
                        "<http://example.org/tree-ops.csv#on_street> ?o } "
                        "ORDER BY ?o")
    assert _run(spark, args) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "s\to"
    assert [ln.split("\t")[1] for ln in out[1:]] == ["ADDISON AV",
                                                     "EMERSON ST"]


@needs_reference
def test_cli_sparql_construct_prints_ntriples(spark, capsys):
    args = _Args(input=f"{FIXTURE_DIR}/tree-ops.csv",
                 metadata=f"{FIXTURE_DIR}/tree-ops.csv-metadata.json",
                 base="http://example.org/tree-ops.csv",
                 sparql="CONSTRUCT { ?s <http://e/street> ?o } WHERE "
                        "{ ?s <http://example.org/tree-ops.csv#on_street>"
                        " ?o }")
    assert _run(spark, args) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 2 and all(" <http://e/street> " in ln for ln in out)

@needs_reference
def test_cli_canonical_ntriples(spark, capsys):
    """--canonical: two runs over the same input produce byte-identical
    sorted output with _:c-prefixed canonical labels.

    Uses _run with the shared session (NOT __main__.main, which owns
    its session lifecycle and would stop the suite-wide SparkContext)."""
    outs = []
    for _ in range(2):
        # test232 emits blank-node row subjects (no aboutUrl)
        args = _Args(input=f"{FIXTURE_DIR}/test232-metadata.json",
                     base="http://example.org/test232-metadata.json",
                     canonical=True)
        assert _run(spark, args) == 0
        outs.append(capsys.readouterr().out)
    assert outs[0] == outs[1]
    lines = outs[0].strip().split("\n")
    assert lines == sorted(lines)
    assert any(ln.startswith("_:c") for ln in lines)
