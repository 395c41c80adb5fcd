"""kg/termdict.py — dictionary encoding of the triple hot path
(VERDICT r4 Next-round #2; RDF-3X §3.1 dictionary design)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("kg:file/r/a.py", "kg:imports", "kg:mod/json", True, None, None),
        ("kg:file/r/a.py", "kg:path", "a.py", False, None, None),
        ("kg:file/r/b.py", "kg:imports", "kg:mod/json", True, None, None),
        ("kg:file/r/b.py", "kg:imports", "kg:mod/os", True, None, None),
        ("kg:mod/json", "kg:name", "json", False, "xsd:string", None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean,"
        " obj_datatype string, obj_lang string")


def test_hash_roundtrip_identity(spark, triples):
    from rdf_tabular_spark.kg import termdict

    enc = termdict.encode_triples(triples)
    vocab = termdict.vocabulary(triples)
    dec = termdict.decode_triples(enc, vocab)
    assert dec.exceptAll(triples).count() == 0
    assert triples.exceptAll(dec).count() == 0
    # ids really are fixed-width longs
    assert dict(enc.dtypes)["s"] == "bigint"


def test_dense_ids_are_dense_and_layout_invariant(spark, triples):
    """dense_id is a pure function of the term SET: 0..V-1, unique, and
    identical whatever the partitioning of the vocabulary input."""
    from rdf_tabular_spark.kg import termdict

    vocab = termdict.vocabulary(triples)
    v = vocab.count()
    d1 = termdict.dense_ids(vocab)
    got = {r["term"]: r["dense_id"] for r in d1.collect()}
    assert sorted(got.values()) == list(range(v))
    # different physical layout, same assignment
    d2 = termdict.dense_ids(vocab.repartition(7).sortWithinPartitions("id"))
    got2 = {r["term"]: r["dense_id"] for r in d2.collect()}
    assert got == got2


def test_dense_remap_roundtrip(spark, triples):
    from rdf_tabular_spark.kg import termdict

    enc = termdict.encode_triples(triples)
    vocab = termdict.vocabulary(triples)
    dense = termdict.dense_ids(vocab)
    remapped = termdict.remap_dense(enc, dense)
    # o of a literal triple maps too (literals live in the dictionary)
    dec = termdict.decode_triples(
        remapped, dense.select("term", F.col("dense_id").alias("id")))
    assert dec.exceptAll(triples).count() == 0
    assert triples.exceptAll(dec).count() == 0


def test_check_injective_raises_on_collision(spark):
    from rdf_tabular_spark.kg import termdict

    fake = spark.createDataFrame(
        [("a", 1), ("b", 1)], "term string, id long")
    with pytest.raises(RuntimeError, match="collision"):
        termdict.check_injective(fake)
    ok = spark.createDataFrame(
        [("a", 1), ("b", 2)], "term string, id long")
    termdict.check_injective(ok)  # no raise


def test_edge_list_encoded_matches_string_path(spark):
    """Encoded edge extraction == string edge_list modulo the encoding:
    decode(encoded edges) must equal edge_list(triples) as sets."""
    from rdf_tabular_spark.kg import graph, termdict
    from rdf_tabular_spark.kg.annotate import KG

    rows = [
        ("kg:f/a", KG + "imports", "kg:m/x", True, None, None),
        ("kg:f/a", KG + "path", "a", False, None, None),     # literal, out
        ("kg:f/b", KG + "defines", "kg:s/y", True, None, None),
        ("kg:f/b", KG + "other", "kg:m/x", True, None, None),  # pred out
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean,"
        " obj_datatype string, obj_lang string")
    enc_edges = termdict.edge_list_encoded(termdict.encode_triples(t))
    vocab = termdict.vocabulary(t)
    dec = (
        enc_edges.join(vocab.select(F.col("id").alias("src"),
                                    F.col("term").alias("s_term")), "src")
        .join(vocab.select(F.col("id").alias("dst"),
                           F.col("term").alias("d_term")), "dst")
        .select(F.col("s_term").alias("src"), F.col("d_term").alias("dst"))
    )
    expect = {(r["src"], r["dst"]) for r in graph.edge_list(t).collect()}
    assert {(r["src"], r["dst"]) for r in dec.collect()} == expect
    assert expect == {("kg:f/a", "kg:m/x"), ("kg:f/b", "kg:s/y")}


def test_encode_adds_no_exchange(spark, triples):
    """The encode is a pure projection: its plan contains exactly the
    Exchanges of the input plan (none here) — zero added shuffles."""
    from rdf_tabular_spark.kg import termdict

    explained = termdict.encode_triples(
        triples)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in explained


def test_pagerank_edges_invariant_under_encoding(spark):
    """Rank values are invariant under the node renaming the dictionary
    performs (the registry row kg_dict_pagerank proves this cross-
    engine at oracle scale; this is the unit-scale version)."""
    from rdf_tabular_spark.kg.graph import pagerank_edges

    e_str = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    e_id = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 10)], "src long, dst long")
    r_str = sorted(round(r["rank"], 9)
                   for r in pagerank_edges(e_str, iterations=4).collect())
    r_id = sorted(round(r["rank"], 9)
                  for r in pagerank_edges(e_id, iterations=4).collect())
    assert r_str == r_id


def test_bucket_of_int_min_hash(spark):
    """A hash of Int.MinValue gets a bucket in 0..buckets-1 with ANSI on
    (abs overflowed there) and off (abs stayed negative there)."""
    from rdf_tabular_spark.kg import termdict

    h = F.lit(-2 ** 31).cast("int")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            row = spark.range(1).select(
                termdict.bucket_of(h, 4096).alias("b4096"),
                termdict.bucket_of(h, 1000).alias("b1000"),
                termdict.bucket_of(F.lit(-5), 4096).alias("neg")).first()
            assert tuple(row) == (0, 352, 4091), mode
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_dict_pagerank_checks_injectivity(spark, triples, monkeypatch):
    """The id-path PageRank decodes through the vocabulary, so it must
    refuse to run on a vocabulary whose ids collide."""
    import __spark_entry__ as entry
    from rdf_tabular_spark.kg import termdict

    class Collision(RuntimeError):
        pass

    def clash(vocab):
        raise Collision("term-id collision")

    monkeypatch.setattr(entry, "_kg_oracle_run",
                        lambda spark: (None, None, triples))
    monkeypatch.setattr(termdict, "check_injective", clash)
    with pytest.raises(Collision):
        entry.q_kg_dict_pagerank(spark, "")
