"""Bridge-call budget of csv2rdf plan construction.

``reader.to_triples`` compiles CSVW metadata into one cell pipeline and one
set of triple templates per column. Each ``pyspark.sql.functions`` call is
several py4j round trips, so building those expressions node by node costs
tens of thousands of round trips per call, growing with the square of the
column count when every column rebuilds every template binding. The
expressions are rendered as Spark SQL text instead, one bridge call per
projection; these tests count the round trips ``to_triples`` makes and
check the wide table's output against a set computed in plain Python.
"""

from __future__ import annotations

import contextlib
import csv

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection

from rdf_tabular_spark import reader

NS = "http://example.org/ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

LINEITEM_METADATA = {
    "@context": "http://www.w3.org/ns/csvw",
    "url": "lineitem.csv",
    "tableSchema": {
        "columns": [
            {"name": "l_orderkey", "titles": "l_orderkey",
             "datatype": "integer", "propertyUrl": NS + "order"},
            {"name": "l_linenumber", "titles": "l_linenumber",
             "datatype": "integer"},
            {"name": "l_partkey", "titles": "l_partkey",
             "datatype": "integer", "propertyUrl": NS + "part",
             "valueUrl": "http://example.org/part/{l_partkey}"},
            {"name": "l_quantity", "titles": "l_quantity",
             "datatype": "integer"},
            {"name": "l_extendedprice", "titles": "l_extendedprice",
             "datatype": {"base": "decimal",
                          "format": {"pattern": "#,##0.00"}}},
            {"name": "l_discount", "titles": "l_discount",
             "datatype": {"base": "decimal", "format": {"pattern": "#0%"}}},
            {"name": "l_shipdate", "titles": "l_shipdate",
             "datatype": {"base": "date", "format": "dd.MM.yyyy"}},
            {"name": "l_shipmode", "titles": "l_shipmode",
             "datatype": "string"},
            {"name": "l_tags", "titles": "l_tags", "separator": ";",
             "datatype": "string"},
            {"name": "l_comment", "titles": "l_comment",
             "datatype": "string"},
            {"name": "type", "virtual": True, "propertyUrl": "rdf:type",
             "valueUrl": NS + "LineItem"},
        ],
        "primaryKey": ["l_orderkey", "l_linenumber"],
        "aboutUrl": "http://example.org/lineitem/{l_orderkey}-{l_linenumber}",
    },
}

LINEITEM_ROWS = [
    ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
     "l_extendedprice", "l_discount", "l_shipdate", "l_shipmode", "l_tags",
     "l_comment"],
    ["1", "1", "155190", "17", "21,168.23", "4%", "02.03.1996", "TRUCK",
     "fragile;bulk", "carefully final"],
    ["1", "2", "67310", "36", "45,983.16", "9%", "12.04.1996", "MAIL",
     "", "quickly ironic"],
    ["3", "1", "4297", "45", "54,058.05", "6%", "02.02.1994", "AIR",
     "express", "slyly bold"],
]


@contextlib.contextmanager
def count_round_trips():
    """Count py4j commands sent to the JVM (each one is a round trip)."""
    counter = {"n": 0}
    saved = []
    for cls in (ClientServerConnection, GatewayConnection):
        orig = cls.send_command

        def counted(self, command, *args, _orig=orig, **kwargs):
            counter["n"] += 1
            return _orig(self, command, *args, **kwargs)

        saved.append((cls, orig))
        cls.send_command = counted
    try:
        yield counter
    finally:
        for cls, orig in saved:
            cls.send_command = orig


def _write_csv(path, rows) -> str:
    with open(path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f, lineterminator="\n").writerows(rows)
    return str(path)


def _wide(n_cols: int, n_rows: int = 50):
    names = [f"c{i}" for i in range(n_cols)]
    metadata = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": "wide.csv",
        "tableSchema": {
            "columns": [{"name": n, "titles": n, "datatype": "string"}
                        for n in names],
            "aboutUrl": "http://example.org/row/{c0}",
        },
    }
    rows = [names] + [[f"r{r} v{i}" for i in range(n_cols)]
                      for r in range(n_rows)]
    return metadata, rows


def _to_triples(spark, tmp_path, name, metadata, rows):
    base = "http://example.org/data/"
    path = _write_csv(tmp_path / name, rows)
    with count_round_trips() as counter:
        res = reader.to_triples(spark, metadata, base=base,
                                url_map={base + name: path})
    return res, counter["n"]


def test_lineitem_plan_budget(spark, tmp_path):
    res, trips = _to_triples(spark, tmp_path, "lineitem.csv",
                             LINEITEM_METADATA, LINEITEM_ROWS)
    assert trips <= 2000, f"{trips} py4j round trips building the plan"
    got = {tuple(r) for r in res.triples.select("subj", "pred", "obj")
           .collect()}
    subj = "http://example.org/lineitem/1-1"
    assert (subj, NS + "order", "1") in got
    assert (subj, NS + "part", "http://example.org/part/155190") in got
    assert (subj, "http://example.org/data/lineitem.csv#l_extendedprice",
            "21168.23") in got
    assert (subj, "http://example.org/data/lineitem.csv#l_discount",
            "0.04") in got
    assert (subj, "http://example.org/data/lineitem.csv#l_shipdate",
            "1996-03-02") in got
    assert (subj, RDF_TYPE, NS + "LineItem") in got
    tags = {o for s, p, o in got
            if s == subj and p.endswith("#l_tags")}
    assert tags == {"fragile", "bulk"}


@pytest.mark.parametrize("n_cols,budget", [(10, 1500), (40, 1500),
                                           (80, 1500)])
def test_wide_plan_budget(spark, tmp_path, n_cols, budget):
    metadata, rows = _wide(n_cols)
    res, trips = _to_triples(spark, tmp_path, "wide.csv", metadata, rows)
    assert trips <= budget, (
        f"{n_cols} columns: {trips} py4j round trips building the plan")
    if n_cols != 80:
        return
    base = "http://example.org/data/wide.csv#"
    expected = {
        ("http://example.org/row/" + r[0].replace(" ", "%20"), base + name,
         value, False, None, None)
        for r in rows[1:] for name, value in zip(rows[0], r)
    }
    got = {tuple(r) for r in res.triples.collect()}
    assert got == expected
