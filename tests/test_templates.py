"""URI-template tests.

Ports the reference's URL-expansion matrix (metadata_spec.rb:962-1027:
``{#_name}`` / ``{?_name}`` / ``{_name}`` / ``http://schema.org/{_name}``
over column names) and pins parity between the two expansion paths:

- pure-Python :func:`expand` (driver-side constants, exotic operators)
- :func:`compile_template` native Spark SQL expressions (the executor hot path)

The native path's percent-encoding is `url_encode` with deltas patched back
to RFC 3986; the parity test is what keeps the two encoders in lock-step.
"""

from __future__ import annotations

import pytest

from rdf_tabular_spark import expr as S
from rdf_tabular_spark.csvw.templates import (
    compile_template,
    expand,
    is_native_compilable,
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
    # exotic operators (pandas-UDF/driver path; examples/niklas.json forms)
    ("{/path*}", {"path": ["a", "b"]}, "/a/b"),
    ("{?q,n}", {"q": "x y", "n": "3"}, "?q=x%20y&n=3"),
    ("{&lang}", {"lang": "en"}, "&lang=en"),
    ("{;v}", {"v": "1"}, ";v=1"),
    ("{.ext}", {"ext": "csv"}, ".csv"),
    ("{v:2}", {"v": "value"}, "va"),
]


@pytest.mark.parametrize("template,bindings,expected", EXPAND_CASES)
def test_expand(template, bindings, expected):
    assert expand(template, bindings) == expected


def test_template_variables():
    assert template_variables("{+url}#row={_row}") == ["url", "_row"]
    assert template_variables("{/a*}{?b,c}") == ["a", "b", "c"]


def test_native_compilable_classification():
    for t in ("{#_name}", "{_name}", "{+url}#row={_row}",
              "http://schema.org/{_name}", "plain"):
        assert is_native_compilable(t), t
    for t in ("{?_name}", "{/path*}", "{;v}", "{v:2}", "{a*}"):
        assert not is_native_compilable(t), t


def test_native_matches_python_expansion(spark):
    """The Spark-expression path must produce byte-identical output to the
    pure-Python expander for every native-compilable template."""
    cases = [(t, b, e) for t, b, e in EXPAND_CASES if is_native_compilable(t)]
    exprs = []
    for i, (template, bindings, _) in enumerate(cases):
        cols = {k: S.lit(str(v)) for k, v in bindings.items()}
        exprs.append(compile_template(template, cols).alias(f"t{i}").sql)
    row = spark.range(1).selectExpr(*exprs).collect()[0]
    for i, (template, bindings, expected) in enumerate(cases):
        got = row[f"t{i}"]
        assert got == expected, f"{template!r} with {bindings!r}: {got!r}"
