"""S11: N-Triples text serialization of the triple DataFrame.

The reference streams RDF::Statements into any rdf.rb writer
(reader.rb:644-649); here the canonical text sink is N-Triples — one
`format_string` projection, JVM-side escaping, no shuffle, `df.write.text`
friendly at any scale (one line per triple, order-free by graph set
semantics).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def escape_literal(c: Column) -> Column:
    """A literal's lexical form escaped for a double-quoted N-Triples or
    Turtle string: backslash first, then quote, then controls."""
    e = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    e = F.replace(e, F.lit('"'), F.lit('\\"'))
    e = F.replace(e, F.lit("\n"), F.lit("\\n"))
    e = F.replace(e, F.lit("\r"), F.lit("\\r"))
    return F.replace(e, F.lit("\t"), F.lit("\\t"))


def _term(c: Column, is_bnode_ok: bool = True) -> Column:
    return F.when(c.startswith("_:"), c).otherwise(
        F.concat(F.lit("<"), c, F.lit(">")))


def _stmt_expr() -> Column:
    """``subj pred obj`` statement text (no terminating dot) — shared
    by the N-Triples and N-Quads sinks."""
    obj_iri = _term(F.col("obj"))
    lit = F.concat(F.lit('"'), escape_literal(F.col("obj")), F.lit('"'))
    obj_lit = (
        F.when(F.col("obj_lang").isNotNull(),
               F.concat(lit, F.lit("@"), F.col("obj_lang")))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(lit, F.lit("^^<"), F.col("obj_datatype"), F.lit(">")))
        .otherwise(lit)
    )
    return F.concat(
        _term(F.col("subj")), F.lit(" "),
        F.concat(F.lit("<"), F.col("pred"), F.lit(">")), F.lit(" "),
        F.when(F.col("obj_is_iri"), obj_iri).otherwise(obj_lit),
    )


def to_ntriples_lines(triples: DataFrame) -> DataFrame:
    """Triple rows -> DataFrame[line: string] in N-Triples syntax."""
    return triples.select(
        F.concat(_stmt_expr(), F.lit(" .")).alias("line"))


def write_ntriples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    to_ntriples_lines(triples).write.mode(mode).text(path)


# ---------------------------------------------------------------------------
# N-Triples SOURCE — the inverse of the sink above. The reference ingests
# RDF through rdf.rb readers (reader.rb:644-649 round-trips through the
# writer registry); here the canonical text source is a distributed,
# map-only line parse: one master regex frames each triple JVM-side, term
# decomposition and literal unescaping are native column expressions, and
# only the rare lines carrying \uXXXX / \UXXXXXXXX numeric escapes take an
# Arrow-batched Python detour (rlike-routed; a 100 TB corpus with no
# numeric escapes never leaves codegen). No shuffle anywhere.
# ---------------------------------------------------------------------------

# W3C N-Triples grammar, flattened to one framing regex. Literal bodies
# admit any escaped character; language tags follow BCP47's coarse shape.
_RE_LIT = r'"(?:[^"\\\n\r]|\\.)*"'
# IRIREF body: plain chars or the spec's UCHAR numeric escapes
_RE_IRI = (r'<(?:[^<>"{}|^`\\\x00-\x20]'
           r'|\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8})*>')
_RE_BN = r'_:[A-Za-z0-9][A-Za-z0-9._-]*'
_RE_LANG = r'@[A-Za-z]+(?:-[A-Za-z0-9]+)*'
TRIPLE_RE = (
    r'^[ \t]*'
    rf'({_RE_IRI}|{_RE_BN})[ \t]+'
    rf'({_RE_IRI})[ \t]+'
    rf'({_RE_IRI}|{_RE_BN}|{_RE_LIT}(?:\^\^{_RE_IRI}|{_RE_LANG})?)'
    r'[ \t]*\.[ \t]*$'
)
_HAS_NUMERIC_ESCAPE = r'\\[uU][0-9A-Fa-f]'

NT_SCHEMA = ("subj string, pred string, obj string, obj_is_iri boolean, "
             "obj_datatype string, obj_lang string")


def _unescape_literal(c: Column) -> Column:
    """Decode N-Triples string escapes (\\\\ \\\" \\n \\r \\t) natively.

    A sequential replace is wrong (it would re-interpret the tail of an
    escaped backslash: "\\\\n" is backslash+n, not newline), so split on
    literal "\\\\" first — every remaining escape inside a segment is
    single-character — then rejoin with "\\". Lines with \\u numeric
    escapes never reach this path (routed to the Python decoder)."""
    def seg(s: Column) -> Column:
        s = F.replace(s, F.lit("\\n"), F.lit("\n"))
        s = F.replace(s, F.lit("\\r"), F.lit("\r"))
        s = F.replace(s, F.lit("\\t"), F.lit("\t"))
        s = F.replace(s, F.lit("\\b"), F.lit("\b"))
        s = F.replace(s, F.lit("\\f"), F.lit("\f"))
        s = F.replace(s, F.lit('\\"'), F.lit('"'))
        return F.replace(s, F.lit("\\'"), F.lit("'"))
    return F.array_join(F.transform(F.split(c, r"\\\\", -1), seg), "\\")


def _strip_iri(c: Column) -> Column:
    return F.substring(c, 2, F.length(c) - 2)


def _parse_frames_native(framed: DataFrame) -> DataFrame:
    """(_s, _p, _o raw term columns) -> standard triple schema."""
    return framed.select(*_parse_frames_native_cols())


def _parse_lines_python(lines: DataFrame, column: str,
                        grammar: str = TRIPLE_RE) -> DataFrame:
    """Arrow-batched decoder for lines with \\u numeric escapes — the
    only path where native string functions cannot express the decode.
    Batch-vectorized regex over pandas Series; never the hot path.
    *grammar* is :data:`TRIPLE_RE` or :data:`QUAD_RE`; the quad grammar's
    fourth group adds the nullable ``graph`` column."""
    import re

    frame = re.compile(grammar)
    quads = frame.groups == 4
    tri = _python_term_decoder()
    names = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype",
             "obj_lang"] + (["graph"] if quads else [])

    def batches(it):
        import pandas as pd
        for pdf in it:
            rows = []
            for line in pdf[column]:
                m = frame.match(line)
                if m:
                    subj, pred, (obj, is_iri, dt, lang) = tri(
                        m.group(1), m.group(2), m.group(3))
                    row = (subj, pred, obj, is_iri, dt, lang)
                    if quads:
                        g4 = m.group(4)
                        row += (None if g4 is None
                                else g4 if g4.startswith("_:")
                                else tri.decode(g4[1:-1]),)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=names)

    return lines.mapInPandas(batches, NQ_SCHEMA if quads else NT_SCHEMA)


def parse_ntriples_lines(lines: DataFrame, column: str = "line") -> DataFrame:
    """DataFrame[column: string] of N-Triples lines -> standard triple
    schema (subj, pred, obj, obj_is_iri, obj_datatype, obj_lang).

    Blank and comment-only lines are skipped; malformed lines are
    DROPPED here — surface them with :func:`ntriples_parse_problems`
    (the two filters are complements, so scan+problems read the source
    once each, both map-only)."""
    c = F.col(column)
    framed = (
        lines
        .filter(c.rlike(TRIPLE_RE))
        .select(F.regexp_extract(c, TRIPLE_RE, 1).alias("_s"),
                F.regexp_extract(c, TRIPLE_RE, 2).alias("_p"),
                F.regexp_extract(c, TRIPLE_RE, 3).alias("_o"),
                c.alias("_raw"))
    )
    has_u = F.col("_raw").rlike(_HAS_NUMERIC_ESCAPE)
    native = _parse_frames_native(framed.filter(~has_u))
    hard = framed.filter(has_u).select(F.col("_raw").alias(column))
    return native.unionByName(_parse_lines_python(hard, column))


# ---------------------------------------------------------------------------
# N-Quads — the same grammar with an optional graph-label term (W3C
# N-Quads); the serialization format of the kg/dataset.py QUAD table.
# Default-graph rows (graph IS NULL) serialize as plain triples, exactly
# the spec's "statements in the default graph" form.
# ---------------------------------------------------------------------------

QUAD_RE = (
    r'^[ \t]*'
    rf'({_RE_IRI}|{_RE_BN})[ \t]+'
    rf'({_RE_IRI})[ \t]+'
    rf'({_RE_IRI}|{_RE_BN}|{_RE_LIT}(?:\^\^{_RE_IRI}|{_RE_LANG})?)'
    rf'(?:[ \t]+({_RE_IRI}|{_RE_BN}))?'
    r'[ \t]*\.[ \t]*$'
)

NQ_SCHEMA = NT_SCHEMA + ", graph string"


def to_nquads_lines(quads: DataFrame) -> DataFrame:
    """Quad rows (triple schema + nullable ``graph``) -> N-Quads text;
    default-graph rows (graph IS NULL) render as plain triples."""
    g = (F.col("graph") if "graph" in quads.columns
         else F.lit(None).cast("string"))
    stmt = _stmt_expr()
    line = F.when(
        g.isNull(), F.concat(stmt, F.lit(" ."))
    ).otherwise(F.concat(stmt, F.lit(" "), _term(g), F.lit(" .")))
    return quads.select(line.alias("line"))


def parse_nquads_lines(lines: DataFrame, column: str = "line") -> DataFrame:
    """N-Quads lines -> quad schema (triple columns + nullable graph).
    Same routing as the triple parser: native framing + escape decode,
    \\u lines through the Arrow detour; a missing 4th term = default
    graph (NULL)."""
    c = F.col(column)
    framed = (
        lines
        .filter(c.rlike(QUAD_RE))
        .select(F.regexp_extract(c, QUAD_RE, 1).alias("_s"),
                F.regexp_extract(c, QUAD_RE, 2).alias("_p"),
                F.regexp_extract(c, QUAD_RE, 3).alias("_o"),
                F.regexp_extract(c, QUAD_RE, 4).alias("_g4"),
                c.alias("_raw"))
    )
    g = F.col("_g4")
    graph = (F.when(g == "", F.lit(None).cast("string"))
             .when(g.startswith("_:"), g)
             .otherwise(_strip_iri(g)))
    has_u = F.col("_raw").rlike(_HAS_NUMERIC_ESCAPE)
    nat_framed = framed.filter(~has_u).withColumn("_graph", graph)
    native = _parse_frames_native_with(nat_framed, F.col("_graph"))
    hard = framed.filter(has_u).select(F.col("_raw").alias(column))
    return native.unionByName(_parse_lines_python(hard, column, QUAD_RE))


def _parse_frames_native_with(framed: DataFrame, extra) -> DataFrame:
    base = _parse_frames_native_cols()
    return framed.select(*base, extra.alias("graph"))


def _parse_frames_native_cols():
    """The triple-term decomposition as reusable column expressions
    over (_s, _p, _o) — shared by the triple and quad native paths."""
    s, o = F.col("_s"), F.col("_o")
    lit_body = F.regexp_extract(o, r'^"((?:[^"\\]|\\.)*)"', 1)
    datatype = F.regexp_extract(o, r'\^\^<([^>]*)>$', 1)
    lang = F.regexp_extract(o, r'@([A-Za-z]+(?:-[A-Za-z0-9]+)*)$', 1)
    obj_is_iri = o.startswith("<") | o.startswith("_:")
    return [
        F.when(s.startswith("<"), _strip_iri(s)).otherwise(s).alias("subj"),
        _strip_iri(F.col("_p")).alias("pred"),
        F.when(o.startswith("<"), _strip_iri(o))
         .when(o.startswith("_:"), o)
         .otherwise(_unescape_literal(lit_body)).alias("obj"),
        obj_is_iri.alias("obj_is_iri"),
        F.when(~obj_is_iri & (datatype != ""), datatype)
         .cast("string").alias("obj_datatype"),
        F.when(~obj_is_iri & (lang != ""), lang)
         .cast("string").alias("obj_lang"),
    ]


def _python_term_decoder():
    """(raw_s, raw_p, raw_o) -> decoded terms for the Python decoder.
    Returned callable carries .decode for reuse (graph labels)."""
    import re

    lit = re.compile(r'^"((?:[^"\\]|\\.)*)"')
    dt_re = re.compile(r'\^\^<([^>]*)>$')
    lang_re = re.compile(r'@([A-Za-z]+(?:-[A-Za-z0-9]+)*)$')
    esc = re.compile(r'\\(?:u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|.)')
    simple = {"\\n": "\n", "\\r": "\r", "\\t": "\t", "\\b": "\b",
              "\\f": "\f", '\\"': '"', "\\'": "'", "\\\\": "\\"}

    def decode(raw: str) -> str:
        def sub(m):
            t = m.group(0)
            if t in simple:
                return simple[t]
            if t[1] in "uU":
                return chr(int(t[2:], 16))
            return t[1:]
        return esc.sub(sub, raw)

    def term(raw: str):
        if raw.startswith("<"):
            return decode(raw[1:-1]), True, None, None
        if raw.startswith("_:"):
            return raw, True, None, None
        body = lit.match(raw)
        tail = raw[body.end():]
        dt = dt_re.search(tail)
        lang = lang_re.search(tail)
        return (decode(body.group(1)), False,
                decode(dt.group(1)) if dt else None,
                lang.group(1) if lang else None)

    def tri(raw_s, raw_p, raw_o):
        subj = (decode(raw_s[1:-1]) if raw_s.startswith("<") else raw_s)
        return subj, decode(raw_p[1:-1]), term(raw_o)

    tri.decode = decode
    return tri


def ntriples_parse_problems(lines: DataFrame, column: str = "line",
                            grammar: str = TRIPLE_RE) -> DataFrame:
    """Lines that are neither blank, comment, nor well-formed under
    *grammar* (:data:`TRIPLE_RE` or :data:`QUAD_RE`) — the scan-problems
    channel (same shape as the CSV scan's ragged-row surfacing: the
    engine never silently eats a bad line)."""
    c = F.col(column)
    return (lines
            .filter(~c.rlike(r"^[ \t]*(#.*)?$") & ~c.rlike(grammar))
            .select(c.alias("line")))


#: non-blank, non-comment lines that fail the N-Quads grammar
nquads_parse_problems = functools.partial(ntriples_parse_problems,
                                          grammar=QUAD_RE)


def read_ntriples(spark, path: str) -> DataFrame:
    """Distributed N-Triples file scan -> triple DataFrame."""
    return parse_ntriples_lines(spark.read.text(path).withColumnRenamed(
        "value", "line"))
