"""URI-template tests.

Ports the reference's URL-expansion matrix (metadata_spec.rb:962-1027:
``{#_name}`` / ``{?_name}`` / ``{_name}`` / ``http://schema.org/{_name}``
over column names) and pins :func:`compile_template`, the SQL renderer of
every template, to the pure-Python oracle :func:`expand` on every case.

The SQL percent-encoding is `url_encode` with deltas patched back to
RFC 3986; the parity test is what keeps the two encoders in lock-step.
"""

from __future__ import annotations

import os

import pytest

from rdf_tabular_spark import expr as S
from rdf_tabular_spark.csvw.templates import (
    compile_template,
    expand,
    template_variables,
)

# (template, bindings, expected) — reference matrix + RFC 6570 spot cases
EXPAND_CASES = [
    # "schema transformations" context (metadata_spec.rb:985-993)
    ("{#_name}", {"_name": "addressCountry"}, "#addressCountry"),
    ("{?_name}", {"_name": "latitude"}, "?_name=latitude"),
    ("{_name}", {"_name": "longitude"}, "longitude"),
    # "PNames" context — pname templates stay textual until IRI resolution
    ("http://schema.org/{_name}", {"_name": "name"}, "http://schema.org/name"),
    ("schema:{_name}", {"_name": "name"}, "schema:name"),
    # special row/column variables (metadata.rb:2111-2118)
    ("{+url}#row={_row}", {"url": "http://ex.org/t.csv", "_row": 4},
     "http://ex.org/t.csv#row=4"),
    ("{#_sourceRow}", {"_sourceRow": 7}, "#7"),
    ("col-{_column}-{_sourceColumn}", {"_column": 2, "_sourceColumn": 3},
     "col-2-3"),
    # percent-encoding: simple op encodes reserved, + keeps it
    ("{v}", {"v": "a/b c"}, "a%2Fb%20c"),
    ("{+v}", {"v": "a/b c"}, "a/b%20c"),
    ("{v}", {"v": "café"}, "caf%C3%A9"),
    # unbound variables vanish
    ("x{missing}y", {}, "xy"),
    # multi-variable expression
    ("{a,b}", {"a": "1", "b": "2"}, "1,2"),
    # RFC 6570 §3.2.3 reserved expansion: a valid pct-triplet passes
    # through, a bare '%' must be (re-)encoded as %25
    ("{+v}", {"v": "%41"}, "%41"),
    ("{+v}", {"v": "100%"}, "100%25"),
    ("{+v}", {"v": "a%zz"}, "a%25zz"),
    # level-3/4 operators (examples/niklas.json forms)
    ("{/path*}", {"path": ["a", "b"]}, "/a/b"),
    ("{?q,n}", {"q": "x y", "n": "3"}, "?q=x%20y&n=3"),
    ("{&lang}", {"lang": "en"}, "&lang=en"),
    ("{;v}", {"v": "1"}, ";v=1"),
    ("{.ext}", {"ext": "csv"}, ".csv"),
    ("{v:2}", {"v": "value"}, "va"),
    # named operators' empty forms, prefixes, explode of a string
    ("{;v}", {"v": ""}, ";v"),
    ("{?v}", {"v": ""}, "?v="),
    ("{&a,b}", {"a": "1", "b": ""}, "&a=1&b="),
    ("{.a,b}", {"a": "x", "b": "y z"}, ".x.y%20z"),
    ("{/a,b}", {"a": "x/y", "b": "z"}, "/x%2Fy/z"),
    ("{?v:3}", {"v": "héllo"}, "?v=h%C3%A9l"),
    ("{+v:4}", {"v": "a/b c"}, "a/b%20"),
    ("{;v:0}", {"v": "abc"}, ";v"),
    ("{v*}", {"v": "a,b"}, "a%2Cb"),
    ("{?x,missing}", {"x": "1"}, "?x=1"),
    ("{/missing}", {}, ""),
]


@pytest.mark.parametrize("template,bindings,expected", EXPAND_CASES)
def test_expand(template, bindings, expected):
    assert expand(template, bindings) == expected


def test_template_variables():
    assert template_variables("{+url}#row={_row}") == ["url", "_row"]
    assert template_variables("{/a*}{?b,c}") == ["a", "b", "c"]


def test_native_matches_python_expansion(spark):
    """The SQL renderer produces byte-identical output to the pure-Python
    expander for every case. A list is restated as the comma-joined string
    the product binds (``emit.template_compiler``)."""
    cases = [(t, {k: ",".join(v) if isinstance(v, list) else str(v)
                  for k, v in b.items()}) for t, b, _ in EXPAND_CASES]
    exprs = [compile_template(t, {k: S.lit(v) for k, v in b.items()})
             .alias(f"t{i}").sql for i, (t, b) in enumerate(cases)]
    row = spark.range(1).selectExpr(*exprs).collect()[0]
    for i, (template, bindings) in enumerate(cases):
        want = expand(template, bindings)
        assert row[f"t{i}"] == want, f"{template!r} with {bindings!r}"


def test_level4_templates_run_no_python(spark):
    """The x15 fixture's ``lookup{?id,v}`` runs inside the JVM: no
    executed plan of ``to_triples`` or ``to_json`` evaluates Python."""
    from rdf_tabular_spark.reader import to_json, to_triples

    extra = os.path.join(os.path.dirname(__file__), "w3c", "extra")
    kw = {"base": "http://example.org/x/x15.json", "search_dir": extra,
          "url_map": {"http://example.org/x/x15.csv":
                      os.path.join(extra, "x15.csv")}}
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_plans():
        jsc.listenerBus().waitUntilEmpty()
        execs = store.executionsList()
        return {execs.apply(i).executionId():
                execs.apply(i).physicalPlanDescription()
                for i in range(execs.size())}

    before = execution_plans()
    triples = to_triples(spark, os.path.join(extra, "x15.json"), **kw).triples
    assert triples.count() == 2
    doc = to_json(spark, os.path.join(extra, "x15.json"), **kw)
    assert doc[0]["@id"] == "http://example.org/x/thing/a%20b"
    plans = [p for k, p in execution_plans().items() if k not in before]
    plans.append(triples._jdf.queryExecution().executedPlan().toString())
    assert len(plans) >= 3
    for plan in plans:
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
