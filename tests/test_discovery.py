"""S9 metadata-discovery cascade tests (metadata.rb:176-245 local analog):
sidecar `{+url}-metadata.json`, sibling `csv-metadata.json`, the
`.well-known/csvm` template config, `describes_file?` gating, and the
embedded-metadata fallback."""

from __future__ import annotations

import json
import os
import shutil

from tests.conftest import FIXTURE_DIR, needs_reference
from tests.ttl import compare_graphs, parse_ttl, spark_triples

BASE = "http://example.org/"


@needs_reference
def test_sidecar_discovery_reproduces_tree_ops(spark):
    """Pointing at the bare tree-ops.csv (no metadata argument) finds the
    sidecar tree-ops.csv-metadata.json and reproduces the reference's
    minimal-mode triples — the first thing a user hits when aiming the
    tool at a raw CSV."""
    from rdf_tabular_spark.reader import to_triples

    result = to_triples(
        spark, os.path.join(FIXTURE_DIR, "tree-ops.csv"),
        base=BASE + "tree-ops.csv", mode="minimal")
    ours = spark_triples(result.triples)
    with open(os.path.join(FIXTURE_DIR, "tree-ops-minimal.ttl")) as f:
        golden = parse_ttl(f.read())
    report = compare_graphs(ours, golden)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report


def _write_meta(path: str, table_url: str, about: str | None = None) -> None:
    doc = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": table_url,
        "tableSchema": {
            "columns": [{"name": "a", "titles": "a"},
                        {"name": "b", "titles": "b"}],
        },
    }
    if about:
        doc["tableSchema"]["aboutUrl"] = about
    with open(path, "w") as f:
        json.dump(doc, f)


def test_sidecar_wins_over_sibling_default(spark, tmp_path):
    """Default template order: {+url}-metadata.json before
    csv-metadata.json."""
    from rdf_tabular_spark.reader import to_triples

    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n")
    _write_meta(str(tmp_path / "t.csv-metadata.json"), "t.csv",
                about=BASE + "side/{a}")
    _write_meta(str(tmp_path / "csv-metadata.json"), "t.csv",
                about=BASE + "sib/{a}")
    result = to_triples(spark, str(csv), base=BASE + "t.csv", mode="minimal")
    subjects = {r["subj"] for r in result.triples.collect()}
    assert BASE + "side/1" in subjects
    assert not any(s.startswith(BASE + "sib/") for s in subjects)


def test_describes_file_gates_the_cascade(spark, tmp_path):
    """A found location that does not describe the input is ignored with a
    warning and the cascade continues (metadata.rb:984-991)."""
    from rdf_tabular_spark.reader import to_triples

    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n")
    _write_meta(str(tmp_path / "t.csv-metadata.json"), "other.csv",
                about=BASE + "side/{a}")
    _write_meta(str(tmp_path / "csv-metadata.json"), "t.csv",
                about=BASE + "sib/{a}")
    result = to_triples(spark, str(csv), base=BASE + "t.csv", mode="minimal")
    subjects = {r["subj"] for r in result.triples.collect()}
    assert BASE + "sib/1" in subjects


def test_wellknown_config_replaces_default_templates(spark, tmp_path):
    """A .well-known/csvm file at the site-root analog REPLACES the default
    templates (tabular.rb:31-35): its listed location wins even though a
    sidecar exists."""
    from rdf_tabular_spark.reader import to_triples

    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n")
    wk = tmp_path / ".well-known"
    wk.mkdir()
    (wk / "csvm").write_text("{+url}.the-meta.json\n")
    _write_meta(str(tmp_path / "t.csv.the-meta.json"), "t.csv",
                about=BASE + "wk/{a}")
    _write_meta(str(tmp_path / "t.csv-metadata.json"), "t.csv",
                about=BASE + "side/{a}")
    result = to_triples(spark, str(csv), base=BASE + "t.csv", mode="minimal")
    subjects = {r["subj"] for r in result.triples.collect()}
    assert BASE + "wk/1" in subjects
    assert not any(s.startswith(BASE + "side/") for s in subjects)


def test_wellknown_found_in_ancestor_directory(spark, tmp_path):
    """The nearest .well-known/csvm above the input plays the site-root
    config."""
    from rdf_tabular_spark.csvw.discovery import site_wide_templates

    (tmp_path / ".well-known").mkdir()
    (tmp_path / ".well-known" / "csvm").write_text("custom.json\n")
    nested = tmp_path / "a" / "b"
    nested.mkdir(parents=True)
    templates, root = site_wide_templates(str(nested))
    assert templates == ["custom.json"]
    assert root == str(tmp_path)


def test_fallback_embedded_metadata(spark, tmp_path):
    """No discoverable metadata: default table group + embedded header
    (discovery step 4, metadata.rb:237-241)."""
    from rdf_tabular_spark.reader import to_triples

    csv = tmp_path / "plain.csv"
    csv.write_text("name,age\nann,3\nbob,5\n")
    result = to_triples(spark, str(csv), base=BASE + "plain.csv",
                        mode="minimal")
    preds = {r["pred"] for r in result.triples.collect()}
    assert BASE + "plain.csv#name" in preds
    assert BASE + "plain.csv#age" in preds
    assert result.triples.count() == 4


def test_direct_csv_no_base_uses_file_url(spark, tmp_path):
    """Without a base the input's file:// URL anchors resolution (as when
    the reference opens a local file)."""
    from rdf_tabular_spark.reader import to_triples

    csv = tmp_path / "nb.csv"
    csv.write_text("a\n1\n")
    result = to_triples(spark, str(csv), mode="minimal")
    rows = result.triples.collect()
    assert rows
    assert all(r["pred"].startswith("file://") for r in rows)


@needs_reference
def test_sidecar_discovery_matches_explicit_metadata(spark, tmp_path):
    """Discovery result == passing the sidecar explicitly (same group, same
    triples)."""
    from rdf_tabular_spark.reader import to_triples

    for name in ("tree-ops.csv", "tree-ops.csv-metadata.json"):
        shutil.copy(os.path.join(FIXTURE_DIR, name), tmp_path / name)
    base = BASE + "tree-ops.csv"
    via_discovery = spark_triples(to_triples(
        spark, str(tmp_path / "tree-ops.csv"), base=base,
        mode="minimal").triples)
    with open(tmp_path / "tree-ops.csv-metadata.json") as f:
        doc = json.load(f)
    explicit = spark_triples(to_triples(
        spark, doc, base=base + "-metadata.json",
        search_dir=str(tmp_path), mode="minimal").triples)
    report = compare_graphs(via_discovery, explicit)
    assert report["precision"] == 1.0 and report["recall"] == 1.0, report
