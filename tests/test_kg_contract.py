"""The batch KG job has one definition (kg/pipeline.py) and extraction one
contract: every entry point gives the same graph, and the file rows of an
extraction are the source's file table."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

FILE_COLS = ["repo", "path", "commit", "lang", "content_sha256"]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _entities(df) -> list[tuple]:
    return sorted((r["iri"], r["kind"], r["canonical_key"],
                   tuple(r["aliases"])) for r in df.collect())


def test_build_kg_equals_pipeline_run(spark, tmp_path):
    from __spark_entry__ import _kg_oracle_source_path
    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline, build_kg

    path = _kg_oracle_source_path()
    plain = build_kg(spark.read.parquet(path))
    pipe = KGPipeline(spark, KGConfig(checkpoint_dir=str(tmp_path / "ck"),
                                      source_path=path))
    ckpt = pipe.run()
    assert _rows(plain["triples"]) == _rows(ckpt["triples"])
    assert _entities(plain["entities"]) == _entities(ckpt["entities"])
    # "extracted" is the structure rows only, in both modes
    for res in (plain, ckpt):
        assert res["extracted"].filter(F.col("row_idx") < 0).isEmpty()


@pytest.mark.parametrize("range_partitions", [None, 3])
def test_unpack_files_is_the_source_file_table(spark, range_partitions):
    from rdf_tabular_spark.kg import extract, synth

    schema = ("repo string, path string, commit string, lang string, "
              "content string")
    src = synth.synth_source_table(spark, 24).unionByName(
        spark.createDataFrame(
            [("r-empty", "a.py", "c" * 40, "python", "x = 1\n"),
             ("r-empty", "b.toml", "c" * 40, "toml", "")], schema))
    ext = extract.extract_structures(src, range_partitions)
    want = src.select("repo", "path", "commit", "lang",
                      F.sha2(F.col("content"), 256).alias("content_sha256"))
    got = extract.unpack_files(ext)
    assert got.columns == FILE_COLS
    assert _rows(got) == _rows(want)
    # the files without structures still have their file row, and only it
    assert _rows(ext.filter(F.col("repo") == "r-empty").select(
        "kind", "row_idx")) == [("file", -1), ("file", -1)]

    empty = extract.extract_structures(spark.createDataFrame([], schema),
                                       range_partitions)
    assert empty.isEmpty() and extract.unpack_files(empty).isEmpty()


def test_carried_sha_is_used_not_recomputed(spark):
    """A source that already has content_sha256 is not hashed again: the
    file rows carry its value."""
    from rdf_tabular_spark.kg import extract, synth

    src = synth.synth_source_table(spark, 6).withColumn(
        "content_sha256", F.lit("f" * 64))
    shas = {r[0] for r in extract.unpack_files(
        extract.extract_structures(src)).select("content_sha256").collect()}
    assert shas == {"f" * 64}


def test_checkpoint_of_another_format_is_not_resumed(spark, tmp_path,
                                                     monkeypatch):
    from rdf_tabular_spark.kg import pipeline
    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

    cfg = KGConfig(checkpoint_dir=str(tmp_path / "ck"), n_files=40,
                   n_repos=4)
    with monkeypatch.context() as m:
        m.setattr(pipeline, "CHECKPOINT_FORMAT", -1)
        old = KGPipeline(spark, cfg)
        old.run()
        old_hash = cfg.config_hash
    assert cfg.config_hash != old_hash
    pipe = KGPipeline(spark, cfg)
    pipe.run()
    assert not any(d["resumed"] for d in pipe.lineage)


def test_submit_kg_job_same_graph_with_and_without_checkpoints(
        spark, tmp_path, monkeypatch):
    from tools import submit_kg_job

    outs = {}
    for name, extra in (("plain", []),
                        ("ckpt", ["--checkpoint-dir", str(tmp_path / "ck")])):
        out = str(tmp_path / name)
        monkeypatch.setattr("sys.argv", [
            "submit_kg_job.py", "--n-files", "200", "--output", out, *extra])
        submit_kg_job.main()
        outs[name] = out

    def triples(out):
        return spark.read.parquet(os.path.join(out, "triples")).select(
            "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "obj_lang")

    plain, ckpt = triples(outs["plain"]), triples(outs["ckpt"])
    assert _rows(plain) == _rows(ckpt)
    assert not plain.filter(F.col("obj").endswith("#Repository")).isEmpty()
    assert _entities(spark.read.parquet(
        os.path.join(outs["plain"], "entities"))) == _entities(
        spark.read.parquet(os.path.join(outs["ckpt"], "entities")))
