"""Bridge-call budget of plan construction, for both products.

``reader.to_triples`` compiles CSVW metadata into one cell pipeline and one
set of triple templates per column; the KG job's ``assemble.build_graph``
and ``link.candidate_pairs`` build IRIs, triples, shingles and minhash
bands. Each ``pyspark.sql.functions`` call is several py4j round trips, so
building those expressions node by node costs thousands of round trips
per call (for csv2rdf, growing with the square of the column count when
every column rebuilds every template binding). The expressions are
rendered as Spark SQL text instead, one bridge call per projection; these
tests count the round trips each plan builder makes, check the wide
table's output against a set computed in plain Python, and pin the LSH
band keys, which the SQL text must compute as the column calls did.
"""

from __future__ import annotations

import contextlib
import csv
import hashlib
import json

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
    """Count py4j commands sent to the JVM (each one is a round trip);
    ``detach`` counts those that release a Python-side reference."""
    counter = {"n": 0, "detach": 0}
    saved = []
    for cls in (ClientServerConnection, GatewayConnection):
        orig = cls.send_command

        def counted(self, command, *args, _orig=orig, **kwargs):
            counter["n"] += 1
            counter["detach"] += command.startswith("m\nd\n")
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


@pytest.fixture(scope="module")
def kg_inputs(spark):
    """(files, structure rows, labels, mentions) of a small synth table;
    every frame is lazy, and the labels map each mention to itself."""
    from rdf_tabular_spark.kg import extract, synth

    ext = extract.extract_structures(synth.synth_source_table(spark, 20))
    structures = ext.filter(f"kind != '{extract.FILE_ROW_KIND}'")
    mentions = structures.filter("kind IN ('import', 'dep')") \
        .selectExpr("name AS mention")
    labels = mentions.selectExpr("mention", "mention AS canonical")
    return extract.unpack_files(ext), structures, labels, mentions


# building these plans with column calls took 5,263-5,855 (build_graph)
# and 1,537-2,560 (the candidate_pairs query) round trips on a 300-file
# table; the budgets are one fifth of the lower counts
@pytest.mark.parametrize("plan,budget", [("build_graph", 1050),
                                         ("candidate_pairs", 300)])
def test_kg_plan_budget(kg_inputs, plan, budget):
    from rdf_tabular_spark import caching
    from rdf_tabular_spark.kg import assemble, link

    files, structures, labels, mentions = kg_inputs
    with count_round_trips() as counter:
        if plan == "build_graph":
            assemble.build_graph(files, structures, labels)
        else:
            sig, _ = link._lsh_pairs(mentions, 0.55)
    if plan == "candidate_pairs":
        caching.release(sig)
    # detach commands are left out: how many objects the garbage collector
    # releases inside the count depends on what earlier tests left behind
    trips = counter["n"] - counter["detach"]
    assert trips <= budget, (
        f"{plan}: {trips} py4j round trips building the plan")


#: sha256 of the sorted (mention, band keys) of ``_seeded_vocabulary()``,
#: as the column-call ``minhash_bands`` computed them
SEEDED_BAND_KEYS = (
    "e0a1da5f2420629729df4bdd88a2ad29bbc5b407838ab815fb05d83178003e39")


def test_minhash_band_keys_unchanged(spark):
    from test_kg import _seeded_vocabulary

    from rdf_tabular_spark import expr as S
    from rdf_tabular_spark.kg import link

    mentions = spark.createDataFrame(
        [(n,) for n in _seeded_vocabulary()], "mention string")
    sh = link.shingles(link.normalize_mention(S.col("mention")))
    rows = mentions.selectExpr("*", sh.alias("sh").sql).selectExpr(
        "mention", link.minhash_bands(S.col("sh")).alias("bands").sql)
    keys = sorted((r["mention"], list(r["bands"])) for r in rows.collect())
    assert hashlib.sha256(json.dumps(keys).encode()).hexdigest() \
        == SEEDED_BAND_KEYS
