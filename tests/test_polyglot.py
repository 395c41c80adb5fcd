"""Polyglot extraction rules (go / rust / java / toml) and their
end-to-end compatibility with the annotation/linking/assembly stages."""

from __future__ import annotations

import pytest


def _src(spark, rows):
    return spark.createDataFrame(
        [(r.get("repo", "r0"), r["path"], "c" * 40, r["lang"], r["content"])
         for r in rows],
        "repo string, path string, commit string, lang string, content string")


def _extract(spark, rows):
    from pyspark.sql import functions as F

    from rdf_tabular_spark.kg import extract

    out = extract.extract_structures(_src(spark, rows)).filter(
        F.col("kind") != extract.FILE_ROW_KIND)
    return sorted(
        (r["kind"], r["name"], r["detail"], r["row_idx"])
        for r in out.collect())


def test_go_rules(spark):
    got = _extract(spark, [{
        "path": "a.go", "lang": "go", "content": (
            'package main\n\n'
            'import "github.com/org/numpy"\n'
            'import nu0 "github.com/org/pandas"\n\n'
            'func load_0(x int) int {\n\treturn x\n}\n'
            'type LoadHandler struct {\n}\n'
            'func (h *LoadHandler) run(x int) int {\n\treturn x\n}\n')}])
    by_name = {(k, n): (d, i) for k, n, d, i in got}
    assert by_name[("import", "github.com/org/numpy")] == (None, 0)
    assert by_name[("import", "github.com/org/pandas")] == ("nu0", 1)
    assert by_name[("def", "load_0")][0] is None
    assert by_name[("class", "LoadHandler")][0] == "struct"
    assert ("def", "run") in by_name  # receiver method matched


def test_rust_rules(spark):
    got = _extract(spark, [{
        "path": "a.rs", "lang": "rust", "content": (
            'use std::collections;\n'
            'use numpy::prelude;\n\n'
            'pub fn parse_0(x: i32) -> i32 {\n    x\n}\n'
            'fn helper(x: i32) -> i32 {\n    x\n}\n'
            'pub struct ParseHandler {\n}\n'
            'enum Mode {\n}\n')}])
    by = {(k, n): d for k, n, d, _ in got}
    assert ("import", "std::collections") in by
    assert ("import", "numpy::prelude") in by
    assert ("def", "parse_0") in by and ("def", "helper") in by
    assert by[("class", "ParseHandler")] == "struct"
    assert by[("class", "Mode")] == "enum"


def test_java_rules(spark):
    got = _extract(spark, [{
        "path": "A.java", "lang": "java", "content": (
            'import org.example.numpy;\n'
            'import static org.example.pandas.Util;\n\n'
            'public class AHandler {\n'
            '    public static int load_0(int x) { return x; }\n'
            '    private String render(int x) { return ""; }\n'
            '}\n')}])
    by = {(k, n): d for k, n, d, _ in got}
    assert ("import", "org.example.numpy") in by
    assert ("import", "org.example.pandas.Util") in by
    assert by[("class", "AHandler")] == "class"
    assert ("def", "load_0") in by and ("def", "render") in by


def test_toml_rules(spark):
    got = _extract(spark, [{
        "path": "Cargo.toml", "lang": "toml", "content": (
            '[dependencies]\n'
            'numpy = "^1.2.0"\n'
            'serde-json = "0.9.1"\n')}])
    assert got == [
        ("dep", "numpy", "^1.2.0", 0),
        ("dep", "serde-json", "0.9.1", 1),
    ]


def test_c_rules(spark):
    got = _extract(spark, [{
        "path": "a.c", "lang": "c", "content": (
            '#include <stdio.h>\n'
            '#include "util/local.h"\n'
            '  # include <spaced.h>\n\n'
            'typedef struct ctx_s ctx_t;\n'
            'struct parse_ctx {\n    int x;\n};\n'
            'enum mode { A, B };\n'
            'static int push_1(int x) {\n    return x;\n}\n'
            'unsigned long count_items(const char *s) {\n    return 0;\n}\n'
            'int proto_only(int x);\n')}])
    by_name = {(k, n): (d, i) for k, n, d, i in got}
    assert ("import", "stdio.h") in by_name
    assert ("import", "util/local.h") in by_name
    assert ("import", "spaced.h") in by_name
    assert by_name[("class", "ctx_s")][0] == "struct"
    assert by_name[("class", "parse_ctx")][0] == "struct"
    assert by_name[("class", "mode")][0] == "enum"
    assert ("def", "push_1") in by_name
    assert ("def", "count_items") in by_name
    # prototypes (no body) are not definitions
    assert ("def", "proto_only") not in by_name


def test_polyglot_row_idx_rule_then_match_order(spark):
    """row_idx counts (rule order, match order) within a file — imports
    (rule 0) number before defs even when a def precedes them in the
    text."""
    got = _extract(spark, [{
        "path": "b.go", "lang": "go", "content": (
            'package main\n'
            'func early(x int) int { return x }\n'
            'import "github.com/org/flask"\n')}])
    by = {(k, n): i for k, n, _, i in got}
    assert by[("import", "github.com/org/flask")] == 0
    assert by[("def", "early")] == 1


def test_polyglot_through_full_pipeline(spark):
    """The new langs flow through annotate → link → assemble with the
    existing kind vocabulary (no special-casing downstream)."""
    from rdf_tabular_spark.kg import synth
    from rdf_tabular_spark.kg.pipeline import build_kg
    from pyspark.sql import functions as F

    rows = []
    for i in range(8):
        lang = synth.POLY_LANGS[i % len(synth.POLY_LANGS)]
        rows.append({"repo": f"r{i % 2}", "path": f"f{i}.{lang}",
                     "lang": lang, "content": synth.make_content(i, lang)})
    res = build_kg(_src(spark, rows))
    entities, triples = res["entities"], res["triples"]
    n = triples.count()
    assert n > 8  # per-file bundles + edges
    # every file node got its sha triple
    from rdf_tabular_spark.kg import annotate

    assert triples.filter(
        F.col("pred") == annotate.KG + "sha256").count() == 8
    assert entities.count() > 0
