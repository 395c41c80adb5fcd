"""Incremental KG maintenance (kg/delta.py): the incremental path from a
previous snapshot must be SET-IDENTICAL to a full recompute on the new
snapshot, while only touching changed content."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_tabular_spark.kg import delta, extract, link, synth
from rdf_tabular_spark.kg.assemble import build_graph

N_FILES = 120


def _v1(spark):
    return synth.synth_source_table(spark, N_FILES)


def _v2(spark):
    """v1 with: 10 files' content changed (extra import appended), file
    indices 100..119 removed, 6 new files added. The synth table has no
    id column, so the file index comes back out of the path."""
    # try_cast: the expression must stay total — the optimizer can push a
    # projection containing it through the union into the added-files
    # branch, whose paths don't match (ANSI cast of '' then throws)
    idx = F.expr(
        r"try_cast(regexp_extract(path, 'file_(\\d+)\\.', 1) as bigint)")
    base = synth.synth_source_table(spark, N_FILES).filter(idx < 100)
    changed = base.withColumn(
        "content",
        F.when(
            idx % 10 == 0,
            F.concat(F.col("content"), F.lit("\nimport extradep_v2\n")),
        ).otherwise(F.col("content")))
    added_rows = [
        ("repo-added", f"src/new_{j}.py", "c0ffee", "python",
         f"import added_mod_{j % 2}\n\ndef fresh_{j}(x):\n    return x\n")
        for j in range(6)
    ]
    added = changed.sparkSession.createDataFrame(
        added_rows,
        "repo string, path string, commit string, lang string, "
        "content string")
    return changed.unionByName(added)


def _full_graph(src):
    structs = extract.extract_structures(src)
    mentions = structs.filter(F.col("kind").isin("import", "dep")).select(
        F.col("name").alias("mention"))
    labels = link.link_mentions(mentions)
    return build_graph(extract.unpack_files(structs), structs, labels)


def test_source_diff(spark):
    d = {(r["repo"], r["path"]): r["status"]
         for r in delta.source_diff(_v1(spark), _v2(spark)).collect()}
    statuses = {}
    for s in d.values():
        statuses[s] = statuses.get(s, 0) + 1
    assert statuses == {"changed": 10, "removed": 20, "added": 6}


def test_incremental_equals_full_recompute(spark):
    v1, v2 = _v1(spark), _v2(spark)
    prev_structs = extract.extract_structures(v1)
    _, _, inc_triples = delta.incremental_graph(prev_structs, v2)
    full_triples = _full_graph(v2)
    assert inc_triples.exceptAll(full_triples).isEmpty()
    assert full_triples.exceptAll(inc_triples).isEmpty()


def test_pipeline_run_incremental(spark, tmp_path):
    """Checkpointed incremental run == checkpointed full run on v2, and
    the incremental extract checkpoint resumes like any other stage."""
    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

    v1_path, v2_path = str(tmp_path / "v1"), str(tmp_path / "v2")
    _v1(spark).write.parquet(v1_path)
    _v2(spark).write.parquet(v2_path)

    prev = KGPipeline(spark, KGConfig(
        checkpoint_dir=str(tmp_path / "ck_v1"), source_path=v1_path))
    prev.run()

    inc = KGPipeline(spark, KGConfig(
        checkpoint_dir=str(tmp_path / "ck_v2i"), source_path=v2_path))
    inc_triples = inc.run_incremental(prev)["triples"]

    full = KGPipeline(spark, KGConfig(
        checkpoint_dir=str(tmp_path / "ck_v2f"), source_path=v2_path))
    full_triples = full.run()["triples"]

    assert inc_triples.exceptAll(full_triples).isEmpty()
    assert full_triples.exceptAll(inc_triples).isEmpty()

    # the sha invariant holds through the incremental path too
    assert inc.verify_invariant(
        {"source": spark.read.parquet(v2_path).withColumn(
            "content_sha256", F.sha2(F.col("content"), 256)),
         "triples": inc_triples})

    # resume: a second incremental run reuses every checkpoint
    inc2 = KGPipeline(spark, KGConfig(
        checkpoint_dir=str(tmp_path / "ck_v2i"), source_path=v2_path))
    inc2.run_incremental(prev)
    assert all(d["resumed"] for d in inc2.lineage)


def test_noop_delta_is_empty_and_stable(spark):
    v1 = _v1(spark)
    assert delta.source_diff(v1, _v1(spark)).isEmpty()
    prev_structs = extract.extract_structures(v1)
    _, _, inc_triples = delta.incremental_graph(prev_structs, _v1(spark))
    assert inc_triples.exceptAll(_full_graph(v1)).isEmpty()
