"""Datatype conversion matrix, ported table-for-table from the reference
(metadata_spec.rb:1093-1397): every base type x {valid, invalid, facets,
formats, aliases}. Each case drives ONE column through the full cell
pipeline (operators/cells.py) and checks the typed item's lexical form,
datatype IRI, and the error channel.

Error-message *wording* is ours, not the reference's (only the triple P/R
gate requires parity); what this matrix locks down is the semantics:
which values are valid, what the normalized lexical form is, and that
invalid values degrade to plain literals with a non-empty error channel
(metadata.rb:2082-2088).

All cases are evaluated in a handful of Spark jobs: the per-case cell
expressions are batched into single-row selects (chunked so each plan
stays small), not one job per case.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_tabular_spark.csvw.datatypes import DATATYPES, RDF_NS, XSD

B64 = "Tm93IGlzIHRoZSB0aW1lIGZvciBhbGwgZ29vZCBjb2RlcnMKdG8gbGVhcm4g"

# name -> props. Keys: base, value, [format], facets, [null], [required],
# [result] (expected lexical; default = value), [errors] (truthy = expect
# error + plain literal), [dt] (expected datatype IRI override).
CASES: dict[str, dict] = {
    # Strings
    "string with no constraints": {"base": "string", "value": "foo"},
    "string with matching length": {"base": "string", "value": "foo", "length": 3},
    "string matching null when required": {
        "base": "string", "value": "NULL", "null": "NULL", "required": True,
        "null_match": True, "errors": True},
    "string with wrong length": {"base": "string", "value": "foo", "length": 4, "errors": True},
    "string with wrong maxLength": {"base": "string", "value": "foo", "maxLength": 2, "errors": True},
    "string with wrong minLength": {"base": "string", "value": "foo", "minLength": 4, "errors": True},

    # Numbers
    "decimal with no constraints": {"base": "decimal", "value": "4"},
    "decimal with matching pattern": {
        "base": "decimal", "format": {"pattern": "000"}, "value": "123"},
    "decimal with explicit groupChar": {
        "base": "decimal", "format": {"groupChar": ";"},
        "value": "123;456.789", "result": "123456.789"},
    "decimal with repeated groupChar": {
        "base": "decimal", "format": {"groupChar": ";"},
        "value": "123;;456.789", "result": "123;;456.789", "errors": True},
    "decimal with explicit decimalChar": {
        "base": "decimal", "format": {"decimalChar": ";"},
        "value": "123456;789", "result": "123456.789"},
    "invalid decimal": {
        "base": "decimal", "value": "123456.789e10",
        "result": "123456.789e10", "errors": True},
    "decimal with percent": {
        "base": "decimal", "format": {"groupChar": ","},
        "value": "123456.789%", "result": "1234.56789"},
    "decimal with per-mille": {
        "base": "decimal", "format": {"groupChar": ","},
        "value": "123456.789‰", "result": "123.456789"},
    "valid integer": {"base": "integer", "value": "1234"},
    "invalid integer": {"base": "integer", "value": "1234.56", "errors": True},
    "valid long": {"base": "long", "value": "1234"},
    "invalid long": {"base": "long", "value": "1234.56", "errors": True},
    "valid short": {"base": "short", "value": "1234"},
    "invalid short": {"base": "short", "value": "1234.56", "errors": True},
    "valid byte": {"base": "byte", "value": "123"},
    "invalid byte": {"base": "byte", "value": "1234", "errors": True},
    "valid unsignedLong": {"base": "unsignedLong", "value": "1234"},
    "invalid unsignedLong": {"base": "unsignedLong", "value": "-1234", "errors": True},
    "valid unsignedShort": {"base": "unsignedShort", "value": "1234"},
    "invalid unsignedShort": {"base": "unsignedShort", "value": "-1234", "errors": True},
    "valid unsignedByte": {"base": "unsignedByte", "value": "123"},
    "invalid unsignedByte": {"base": "unsignedByte", "value": "-123", "errors": True},
    "valid positiveInteger": {"base": "positiveInteger", "value": "123"},
    "invalid positiveInteger": {"base": "positiveInteger", "value": "-123", "errors": True},
    "valid negativeInteger": {"base": "negativeInteger", "value": "-123"},
    "invalid negativeInteger": {"base": "negativeInteger", "value": "123", "errors": True},
    "valid nonPositiveInteger": {"base": "nonPositiveInteger", "value": "0"},
    "invalid nonPositiveInteger": {"base": "nonPositiveInteger", "value": "1", "errors": True},
    "valid nonNegativeInteger": {"base": "nonNegativeInteger", "value": "0"},
    "invalid nonNegativeInteger": {"base": "nonNegativeInteger", "value": "-1", "errors": True},
    "valid double": {"base": "double", "value": "1234.456e789"},
    "invalid double": {"base": "double", "value": "1z", "errors": True},
    "NaN double": {"base": "double", "value": "NaN", "result": "NaN"},
    "INF double": {"base": "double", "value": "INF"},
    "-INF double": {"base": "double", "value": "-INF"},
    "valid number": {"base": "number", "value": "1234.456e789"},
    "invalid number": {"base": "number", "value": "1z", "errors": True},
    "NaN number": {"base": "number", "value": "NaN", "result": "NaN"},
    "INF number": {"base": "number", "value": "INF"},
    "-INF number": {"base": "number", "value": "-INF"},
    "valid float": {"base": "float", "value": "1234.456e7"},
    "invalid float": {"base": "float", "value": "1z", "errors": True},
    "NaN float": {"base": "float", "value": "NaN", "result": "NaN"},
    "INF float": {"base": "float", "value": "INF"},
    "-INF float": {"base": "float", "value": "-INF"},

    # Booleans
    "valid boolean true": {"base": "boolean", "value": "true"},
    "valid boolean false": {"base": "boolean", "value": "false"},
    "valid boolean 1": {"base": "boolean", "value": "1", "result": "true"},
    "valid boolean 0": {"base": "boolean", "value": "0", "result": "false"},
    "valid boolean Y|N Y": {"base": "boolean", "value": "Y", "format": "Y|N", "result": "true"},
    "valid boolean Y|N N": {"base": "boolean", "value": "N", "format": "Y|N", "result": "false"},

    # Dates
    "valid date yyyy-MM-dd": {"base": "date", "value": "2015-03-22", "format": "yyyy-MM-dd", "result": "2015-03-22"},
    "valid date yyyyMMdd": {"base": "date", "value": "20150322", "format": "yyyyMMdd", "result": "2015-03-22"},
    "valid date dd-MM-yyyy": {"base": "date", "value": "22-03-2015", "format": "dd-MM-yyyy", "result": "2015-03-22"},
    "valid date d-M-yyyy": {"base": "date", "value": "22-3-2015", "format": "d-M-yyyy", "result": "2015-03-22"},
    "valid date MM-dd-yyyy": {"base": "date", "value": "03-22-2015", "format": "MM-dd-yyyy", "result": "2015-03-22"},
    "valid date M-d-yyyy": {"base": "date", "value": "3-22-2015", "format": "M-d-yyyy", "result": "2015-03-22"},
    "valid date dd/MM/yyyy": {"base": "date", "value": "22/03/2015", "format": "dd/MM/yyyy", "result": "2015-03-22"},
    "valid date d/M/yyyy": {"base": "date", "value": "22/3/2015", "format": "d/M/yyyy", "result": "2015-03-22"},
    "valid date MM/dd/yyyy": {"base": "date", "value": "03/22/2015", "format": "MM/dd/yyyy", "result": "2015-03-22"},
    "valid date M/d/yyyy": {"base": "date", "value": "3/22/2015", "format": "M/d/yyyy", "result": "2015-03-22"},
    "valid date dd.MM.yyyy": {"base": "date", "value": "22.03.2015", "format": "dd.MM.yyyy", "result": "2015-03-22"},
    "valid date d.M.yyyy": {"base": "date", "value": "22.3.2015", "format": "d.M.yyyy", "result": "2015-03-22"},
    "valid date MM.dd.yyyy": {"base": "date", "value": "03.22.2015", "format": "MM.dd.yyyy", "result": "2015-03-22"},
    "valid date M.d.yyyy": {"base": "date", "value": "3.22.2015", "format": "M.d.yyyy", "result": "2015-03-22"},

    # Times
    "valid time HH:mm:ss.S": {"base": "time", "value": "15:02:37.1", "format": "HH:mm:ss.S", "result": "15:02:37.1"},
    "valid time HH:mm:ss": {"base": "time", "value": "15:02:37", "format": "HH:mm:ss", "result": "15:02:37"},
    "valid time HHmmss": {"base": "time", "value": "150237", "format": "HHmmss", "result": "15:02:37"},
    "valid time HH:mm": {"base": "time", "value": "15:02", "format": "HH:mm", "result": "15:02:00"},
    "valid time HHmm": {"base": "time", "value": "1502", "format": "HHmm", "result": "15:02:00"},

    # DateTimes
    "valid dateTime yyyy-MM-ddTHH:mm:ss": {
        "base": "dateTime", "value": "2015-03-15T15:02:37",
        "format": "yyyy-MM-ddTHH:mm:ss", "result": "2015-03-15T15:02:37"},
    "valid dateTime yyyy-MM-ddTHH:mm:ss.S": {
        "base": "dateTime", "value": "2015-03-15T15:02:37.1",
        "format": "yyyy-MM-ddTHH:mm:ss.S", "result": "2015-03-15T15:02:37.1"},
    "valid dateTime yyyy-MM-dd HH:mm:ss": {
        "base": "dateTime", "value": "2015-03-15 15:02:37",
        "format": "yyyy-MM-dd HH:mm:ss", "result": "2015-03-15T15:02:37"},
    "valid dateTime yyyyMMdd HHmmss": {
        "base": "dateTime", "value": "20150315 150237",
        "format": "yyyyMMdd HHmmss", "result": "2015-03-15T15:02:37"},
    "valid dateTime dd-MM-yyyy HH:mm": {
        "base": "dateTime", "value": "15-03-2015 15:02",
        "format": "dd-MM-yyyy HH:mm", "result": "2015-03-15T15:02:00"},
    "valid dateTime d-M-yyyy HHmm": {
        "base": "dateTime", "value": "15-3-2015 1502",
        "format": "d-M-yyyy HHmm", "result": "2015-03-15T15:02:00"},
    "valid dateTime yyyy-MM-ddTHH:mm": {
        "base": "dateTime", "value": "2015-03-15T15:02",
        "format": "yyyy-MM-ddTHH:mm", "result": "2015-03-15T15:02:00"},
    "valid dateTimeStamp d-M-yyyy HHmm X": {
        "base": "dateTimeStamp", "value": "15-3-2015 1502 Z",
        "format": "d-M-yyyy HHmm X", "result": "2015-03-15T15:02:00Z"},
    "valid datetime alias yyyy-MM-ddTHH:mm:ss": {
        "base": "datetime", "value": "2015-03-15T15:02:37",
        "format": "yyyy-MM-ddTHH:mm:ss", "result": "2015-03-15T15:02:37",
        "dt": XSD + "dateTime"},
    "valid datetime alias dd-MM-yyyy HH:mm": {
        "base": "datetime", "value": "15-03-2015 15:02",
        "format": "dd-MM-yyyy HH:mm", "result": "2015-03-15T15:02:00",
        "dt": XSD + "dateTime"},

    # Timezones
    "valid w/TZ yyyy-MM-ddX": {
        "base": "date", "value": "2015-03-22Z", "format": "yyyy-MM-ddX", "result": "2015-03-22Z"},
    "valid w/TZ HH:mm:ssX": {
        "base": "time", "value": "15:02:37-05", "format": "HH:mm:ssX", "result": "15:02:37-05:00"},
    "valid w/TZ yyyy-MM-dd HH:mm:ss X": {
        "base": "dateTimeStamp", "value": "2015-03-15 15:02:37 +0800",
        "format": "yyyy-MM-dd HH:mm:ss X", "result": "2015-03-15T15:02:37+08:00"},
    "valid w/TZ HHmm XX": {
        "base": "time", "value": "1502 +0800", "format": "HHmm XX", "result": "15:02:00+08:00"},
    "valid w/TZ yyyy-MM-dd HH:mm:ss XX": {
        "base": "dateTimeStamp", "value": "2015-03-15 15:02:37 -0800",
        "format": "yyyy-MM-dd HH:mm:ss XX", "result": "2015-03-15T15:02:37-08:00"},
    "valid w/TZ HHmm XXX": {
        "base": "time", "value": "1502 +08:00", "format": "HHmm XXX", "result": "15:02:00+08:00"},
    "valid w/TZ yyyy-MM-ddTHH:mm:ssXXX": {
        "base": "dateTime", "value": "2015-03-15T15:02:37-05:00",
        "format": "yyyy-MM-ddTHH:mm:ssXXX", "result": "2015-03-15T15:02:37-05:00"},
    "invalid w/TZ HH:mm:ssX": {
        "base": "time", "value": "15:02:37-05:00", "format": "HH:mm:ssX", "errors": True},
    "invalid w/TZ HH:mm:ssXX": {
        "base": "time", "value": "15:02:37-05", "format": "HH:mm:ssXX", "errors": True},

    # Other date-like things
    "valid gDay": {"base": "gDay", "value": "---31"},
    "valid gMonth": {"base": "gMonth", "value": "--02"},
    "valid gMonthDay": {"base": "gMonthDay", "value": "--02-21"},
    "valid gYear": {"base": "gYear", "value": "9999"},
    "valid gYearMonth": {"base": "gYearMonth", "value": "1999-05"},

    # Durations
    "valid duration PT130S": {"base": "duration", "value": "PT130S"},
    "valid duration PT130M": {"base": "duration", "value": "PT130M"},
    "valid duration PT130H": {"base": "duration", "value": "PT130H"},
    "valid duration P130D": {"base": "duration", "value": "P130D"},
    "valid duration P130M": {"base": "duration", "value": "P130M"},
    "valid duration P130Y": {"base": "duration", "value": "P130Y"},
    "valid duration PT2M10S": {"base": "duration", "value": "PT2M10S"},
    "valid duration P0Y20M0D": {"base": "duration", "value": "P0Y20M0D"},
    "valid duration -P60D": {"base": "duration", "value": "-P60D"},
    "valid dayTimeDuration P1DT2H": {"base": "dayTimeDuration", "value": "P1DT2H"},
    "valid yearMonthDuration P0Y20M": {"base": "yearMonthDuration", "value": "P0Y20M"},

    # Other datatypes
    "valid anyAtomicType": {"base": "anyAtomicType", "value": "some thing"},
    "valid anyURI": {"base": "anyURI", "value": "http://example.com/"},
    "valid base64Binary": {"base": "base64Binary", "value": B64},
    "base64Binary with matching length": {"base": "base64Binary", "value": B64, "length": 45},
    "base64Binary with wrong maxLength": {"base": "base64Binary", "value": B64, "maxLength": 1, "errors": True},
    "base64Binary with wrong minLength": {"base": "base64Binary", "value": B64, "minLength": 50, "errors": True},
    "valid hexBinary": {"base": "hexBinary", "value": "0FB7"},
    "hexBinary with matching length": {"base": "hexBinary", "value": "0FB7", "length": 2},
    "hexBinary with wrong maxLength": {"base": "hexBinary", "value": "0FB7", "maxLength": 1, "errors": True},
    "hexBinary with wrong minLength": {"base": "hexBinary", "value": "0FB7", "minLength": 4, "errors": True},
    "valid QName": {"base": "QName", "value": "foo:bar"},
    "valid normalizedString": {"base": "normalizedString", "value": "some thing"},
    "valid token": {"base": "token", "value": "some thing"},
    "valid language": {"base": "language", "value": "en"},
    "valid Name": {"base": "Name", "value": "someThing"},
    "valid NMTOKEN": {"base": "NMTOKEN", "value": "someThing"},

    # Aliases
    "number is alias for double": {
        "base": "number", "value": "1234.456e789", "dt": XSD + "double"},
    "binary is alias for base64Binary": {
        "base": "binary", "value": B64, "dt": XSD + "base64Binary"},
    "any is alias for anyAtomicType": {
        "base": "any", "value": "some thing", "dt": XSD + "anyAtomicType"},
    "xml is alias for rdf:XMLLiteral": {
        "base": "xml", "value": "<foo></foo>", "dt": RDF_NS + "XMLLiteral"},
    "html is alias for rdf:HTML": {
        "base": "html", "value": "<foo></foo>", "dt": RDF_NS + "HTML"},

    # Unsupported datatypes degrade to plain literal + per-value error
    # (metadata.rb:2251-2253)
    "unsupported anyType": {"base": "anyType", "value": "x", "errors": True},
    "unsupported IDREFS": {"base": "IDREFS", "value": "x", "errors": True},
    "unsupported NMTOKENS": {"base": "NMTOKENS", "value": "x", "errors": True},
}

FACETS = ("length", "minLength", "maxLength", "minimum", "maximum",
          "minInclusive", "maxInclusive", "minExclusive", "maxExclusive")
# Each case's cell pipeline is a sizeable expression tree (~300 KB of task
# binary); keep chunks small so a test JVM with default memory never sees a
# multi-MiB broadcast.
_CHUNK = 8


def _required_errors(cell, required: bool):
    errs = F.array_compact(F.transform(cell, lambda t: t["err"]))
    if required:
        empty = F.when(
            (F.size(cell) == 0) | F.exists(cell, lambda t: t["lex"] == ""),
            F.lit("Required column has empty value(s)"))
        errs = F.concat(errs, F.array_compact(F.array(empty)))
    return errs


@pytest.fixture(scope="module")
def matrix(spark):
    """Evaluate every case's cell pipeline; one Spark job per chunk."""
    from rdf_tabular_spark import expr as S
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import cell_expr

    names = list(CASES)
    out: dict[str, dict] = {}
    for start in range(0, len(names), _CHUNK):
        chunk = names[start:start + _CHUNK]
        exprs = []
        reqs = []
        for i, nm in enumerate(chunk):
            props = CASES[nm]
            dt: dict = {"base": props["base"]}
            if "format" in props:
                dt["format"] = props["format"]
            for fc in FACETS:
                if fc in props:
                    dt[fc] = props[fc]
            coldef: dict = {"name": "name", "datatype": dt}
            if "null" in props:
                coldef["null"] = props["null"]
            if props.get("required"):
                coldef["required"] = True
            doc = {
                "url": "http://example.com/table.csv",
                "dialect": {"header": False},
                "tableSchema": {"columns": [coldef]},
            }
            tg = parse_metadata(doc, base="http://example.com/table.csv")
            table = tg.tables[0]
            col = table.columns[0]
            exprs.append(
                cell_expr(S.lit(props["value"]), col, table).alias(f"c{i}").sql)
            reqs.append(col.required)
        stage1 = spark.range(0, 1, 1, 1).selectExpr(*exprs)
        stage2 = stage1.select(
            "*",
            *[_required_errors(F.col(f"c{i}"), reqs[i]).alias(f"e{i}")
              for i in range(len(chunk))])
        row = stage2.collect()[0]
        for i, nm in enumerate(chunk):
            out[nm] = {"items": row[f"c{i}"], "errors": row[f"e{i}"]}
    return out


@pytest.mark.parametrize("name", list(CASES))
def test_case(matrix, name):
    props = CASES[name]
    items, errors = matrix[name]["items"], matrix[name]["errors"]

    if props.get("null_match"):
        assert items == [], f"{name}: null-matched value must yield no items"
        if props.get("required"):
            assert errors, f"{name}: required+null must error"
        return

    assert len(items) == 1, f"{name}: expected one typed item, got {items}"
    item = items[0]
    expect_lex = props.get("result", props["value"])
    assert item["lex"] == expect_lex, (
        f"{name}: lex {item['lex']!r} != {expect_lex!r}")

    if props.get("errors"):
        assert errors, f"{name}: expected errors, got none"
        assert item["dt"] is None, (
            f"{name}: invalid value must degrade to a plain literal, "
            f"got datatype {item['dt']!r}")
    else:
        assert not errors, f"{name}: unexpected errors {errors}"
        base = props["base"]
        expect_dt = props.get(
            "dt", None if base == "string" else DATATYPES[base])
        assert item["dt"] == expect_dt, (
            f"{name}: dt {item['dt']!r} != {expect_dt!r}")
