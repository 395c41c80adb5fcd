"""Property-based tests (hypothesis) for the driver-side compilers — a
layer the reference's spec suite does not have (SURVEY §5.4). All pure
Python except the entity-linking property, which needs a Spark session.
"""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from rdf_tabular_spark.csvw import uax35
from rdf_tabular_spark import expr as S
from rdf_tabular_spark.csvw.templates import (
    compile_template,
    expand,
    template_variables,
)
from rdf_tabular_spark.kg import link

# ---------------------------------------------------------------------------
# UAX-35 number normalization
# ---------------------------------------------------------------------------


@given(st.integers(min_value=-10**15, max_value=10**15))
def test_default_pattern_accepts_plain_integers(n):
    plan = uax35.compile_number_pattern(None)
    assert uax35.normalize_number(str(n), plan) == str(n)


@given(st.integers(min_value=0, max_value=10**15))
def test_grouped_integers_normalize_to_plain(n):
    """Western 3-digit grouping strips to the plain lexical form."""
    plan = uax35.compile_number_pattern(None)
    grouped = f"{n:,}"
    assert uax35.normalize_number(grouped, plan) == str(n)


@given(st.integers(min_value=-10**9, max_value=10**9),
       st.integers(min_value=0, max_value=999))
def test_decimal_lexical_preserved(i, frac):
    """Normalization preserves the decimal lexical form digit-for-digit —
    values never roundtrip through floats (SURVEY §7.4-2)."""
    plan = uax35.compile_number_pattern(None)
    s = f"{i}.{frac:03d}"
    assert uax35.normalize_number(s, plan) == s


@given(st.integers(min_value=0, max_value=10**12))
def test_percent_shift_matches_decimal_arithmetic(n):
    from decimal import Decimal

    plan = uax35.compile_number_pattern(None)
    out = uax35.normalize_number(f"{n}%", plan)
    assert out is not None
    assert Decimal(out) == Decimal(n) / 100
    out = uax35.normalize_number(f"{n}‰", plan)
    assert Decimal(out) == Decimal(n) / 1000


@given(st.text(alphabet="0#,.", min_size=1, max_size=8))
def test_number_pattern_compiler_never_emits_invalid_regex(pattern):
    """Whatever the picture pattern, the compiler either raises
    PatternError or emits a Python-AND-Java-safe regex (no named groups)."""
    try:
        regex = uax35.build_number_regex(pattern)
    except uax35.PatternError:
        return
    re.compile(regex)
    assert "(?P<" not in regex and "(?<" not in regex


@given(st.dates(), st.sampled_from(
    ["yyyy-MM-dd", "dd-MM-yyyy", "M/d/yyyy", "yyyyMMdd", "dd.MM.yyyy"]))
def test_date_patterns_roundtrip_all_dates(d, pattern):
    """Any calendar date formatted per the pattern normalizes to its ISO
    lexical form."""
    fmt = {
        "yyyy-MM-dd": f"{d.year:04d}-{d.month:02d}-{d.day:02d}",
        "dd-MM-yyyy": f"{d.day:02d}-{d.month:02d}-{d.year:04d}",
        "M/d/yyyy": f"{d.month}/{d.day}/{d.year:04d}",
        "yyyyMMdd": f"{d.year:04d}{d.month:02d}{d.day:02d}",
        "dd.MM.yyyy": f"{d.day:02d}.{d.month:02d}.{d.year:04d}",
    }[pattern]
    plan = uax35.compile_date_pattern(pattern)
    assert uax35.normalize_date(fmt, plan) == d.isoformat()


# ---------------------------------------------------------------------------
# RFC 6570 templates
# ---------------------------------------------------------------------------

_var_names = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
_values = st.text(
    alphabet=string.ascii_letters + string.digits + " /?#[]@!$&'()*+,;=-._~%é",
    max_size=20)


@given(_var_names, _values)
def test_simple_expansion_is_unreserved_safe(name, value):
    """{var} output contains only unreserved chars and %XX triplets."""
    out = expand("{%s}" % name, {name: value})
    # linear scan (an alternation-star regex backtracks pathologically on
    # near-miss strings)
    i, ok = 0, True
    while i < len(out):
        if out[i] == "%":
            ok = ok and re.fullmatch(r"%[0-9A-F]{2}", out[i:i + 3]) is not None
            i += 3
        else:
            ok = ok and (out[i].isalnum() or out[i] in "-._~")
            i += 1
    assert ok, out


@given(_var_names, _values)
def test_reserved_expansion_roundtrip_ascii(name, value):
    """{+var} keeps reserved characters verbatim and never double-encodes
    an existing percent triplet."""
    out = expand("{+%s}" % name, {name: value})
    assert "%25" not in out or "%25" in value.replace("%", "%25")
    for ch in ":/?#[]@!$&'()*+,;=":
        if ch in value:
            assert ch in out


@given(_var_names, _values, _values)
def test_multi_var_expansion_is_concatenation(name, v1, v2):
    name2 = name + "x"
    joint = expand("{%s},{%s}" % (name, name2), {name: v1, name2: v2})
    parts = expand("{%s}" % name, {name: v1}), expand("{%s}" % name2, {name2: v2})
    assert joint == parts[0] + "," + parts[1]


@given(st.text(alphabet=string.ascii_lowercase + "{}+#?/;*:1", max_size=20))
def test_native_compilable_is_total(template):
    """Every template compiles to SQL."""
    try:
        names = template_variables(template)
        out = compile_template(template, {n: S.lit(n) for n in names})
    except ValueError:
        return  # malformed prefix like {v:} — expander would reject too
    assert isinstance(out, S.Expr)


# ---------------------------------------------------------------------------
# entity linking (a vocabulary small enough for the driver propagation)
# ---------------------------------------------------------------------------

_mention = st.text(
    alphabet=string.ascii_lowercase + string.digits + "./-_", min_size=1,
    max_size=16)


@settings(max_examples=10, deadline=None)
@given(names=st.lists(_mention, min_size=1, max_size=40, unique=True))
def test_local_linking_properties(spark, names):
    def labels(df):
        return {r["mention"]: r["canonical"] for r in df.collect()}

    mentions = spark.createDataFrame([(n,) for n in names], "mention string")
    got = labels(link.link_mentions(mentions))
    # total: every mention labeled, by a member of the vocabulary
    assert set(got) == set(names)
    assert set(got.values()) <= set(names)
    # the one contract: connected_components over candidate_pairs
    assert got == labels(link.connected_components(
        mentions, link.candidate_pairs(mentions)))


# ---------------------------------------------------------------------------
# metadata sanitization (normalize.py)
# ---------------------------------------------------------------------------

_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(min_value=-10**9, max_value=10**9),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=12))

_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(
            st.sampled_from([
                "url", "tables", "tableSchema", "dialect", "columns",
                "name", "titles", "datatype", "null", "lang", "separator",
                "ordered", "required", "default", "aboutUrl", "propertyUrl",
                "valueUrl", "textDirection", "primaryKey", "rowTitles",
                "foreignKeys", "notes", "transformations", "@id", "@type",
                "@context", "dc:title", "suppressOutput", "virtual",
                "delimiter", "skipRows", "trim", "format", "base",
            ]) | st.text(max_size=8),
            children, max_size=5)),
    max_leaves=20)

_docs = st.dictionaries(
    st.sampled_from([
        "url", "tables", "tableSchema", "dialect", "@id", "@type",
        "@context", "notes", "dc:title", "lang", "null", "transformations",
    ]) | st.text(max_size=8),
    _json_values, max_size=6)


@given(_docs)
@settings(max_examples=200, deadline=None)
def test_sanitize_never_raises_and_is_idempotent(doc):
    """The sanitizer is total over arbitrary JSON documents (a crash on
    weird metadata is a production incident at 10^12-file scale), and
    warn-level cleanup converges in one pass: re-sanitizing the cleaned
    document yields the same document and no NEW warnings (unexpected-key
    warnings and error-level findings persist by design — they never
    mutate the document)."""
    from rdf_tabular_spark.csvw.normalize import sanitize_metadata

    clean, warnings, errors = sanitize_metadata(doc, "http://e.org/m.json")
    clean2, warnings2, errors2 = sanitize_metadata(
        clean, "http://e.org/m.json")
    assert clean2 == clean
    assert set(warnings2) <= set(warnings)
    # the only warnings that persist are the non-mutating classes
    assert all("unexpected keys" in w or "context missing" in w
               for w in warnings2)
    assert errors2 == errors


@given(_docs)
@settings(max_examples=200, deadline=None)
def test_error_free_sanitized_docs_always_compile(doc):
    """Any document the sanitizer passes without errors must compile into
    a plan (parse_metadata must not raise) — the warn-and-ignore layer
    exists precisely so downstream code never sees a wrong-typed value."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.csvw.normalize import sanitize_metadata

    clean, _w, errors = sanitize_metadata(doc, "http://e.org/m.json")
    if errors:
        return
    parse_metadata(doc, base="http://e.org/m.json")


# ---------------------------------------------------------------------------
# SPARQL pattern-sugar desugaring (kg/sparql.py §4.1.4 / §4.2)
# ---------------------------------------------------------------------------

_plain_term = st.sampled_from(["?v0", "?v1", "k:t1", "k:t2", "m:x"])
_pred = st.sampled_from(["k:p", "k:q", "k:r"])

# recursive object: a plain term, a [ p o ; ... ] property list, or a
# ( e1 e2 ) collection — the three WHERE-pattern sugar forms
_obj = st.deferred(lambda: st.one_of(
    _plain_term,
    st.lists(st.tuples(_pred, st.lists(_obj, min_size=1, max_size=2)),
             min_size=1, max_size=2).map(lambda xs: ("bnpl", *xs)),
    st.lists(_obj, min_size=1, max_size=3).map(lambda xs: ("coll", *xs)),
))


def _render(o) -> str:
    if isinstance(o, str):
        return o
    if o[0] == "bnpl":
        inner = " ; ".join(
            f"{p} " + " , ".join(_render(x) for x in objs)
            for p, objs in o[1:])
        return "[ " + inner + " ]"
    return "( " + " ".join(_render(x) for x in o[1:]) + " )"


def _expected_patterns(o) -> int:
    """Patterns the sugar must desugar to: one per (node, pred, obj)
    pair inside a bnpl; two (first+rest) per collection element."""
    if isinstance(o, str):
        return 0
    if o[0] == "bnpl":
        return sum(len(objs) + sum(_expected_patterns(x) for x in objs)
                   for _, objs in o[1:])
    return sum(2 + _expected_patterns(x) for x in o[1:])


def _count_sugar_nodes(o) -> int:
    """Fresh variables the parser must mint: 1 per bnpl bracket, 1 per
    collection ELEMENT (each spine cell is a node)."""
    if isinstance(o, str):
        return 0
    if o[0] == "bnpl":
        return 1 + sum(_count_sugar_nodes(x)
                       for _, objs in o[1:] for x in objs)
    return len(o) - 1 + sum(_count_sugar_nodes(x) for x in o[1:])


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(_pred, _obj), min_size=1, max_size=3))
def test_pattern_sugar_desugars_totally(pairs):
    """Every generated sugar tree parses without error; the pattern
    count and the fresh-variable count match the §4.1.4/§4.2 expansion
    exactly, and no synthesized variable is projectable."""
    from rdf_tabular_spark.kg.sparql import _Parser

    body = " . ".join(f"?s {p} {_render(o)}" for p, o in pairs)
    parser = _Parser("{ " + body + " }")
    group = parser.parse_group()
    pats = [pat for tag, *rest in group if tag == "triples"
            for pat in rest[0]]
    want = len(pairs) + sum(_expected_patterns(o) for _, o in pairs)
    assert len(pats) == want
    anon = {t for s, p, o in pats for t in (s, o)
            if isinstance(t, str) and t.startswith("?__bn_anon")}
    assert len(anon) == sum(_count_sugar_nodes(o) for _, o in pairs)
    # every minted node is used: it appears in >= 1 pattern by
    # construction, and each non-empty sugar node carries >= 1 edge
    for v in anon:
        assert any(v in (s, o) for s, p, o in pats)
