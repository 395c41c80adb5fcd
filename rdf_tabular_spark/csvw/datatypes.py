"""CSVW/XSD datatype registry.

Mirrors the DATATYPES map of the reference (rdf-tabular metadata.rb:52-104)
plus the derived-type classification the cell pipeline needs: which bases are
numeric/date/duration/binary, integer range bounds, lexical check regexes.
All data here is driver-side constants.
"""

from __future__ import annotations

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
CSVW_NS = "http://www.w3.org/ns/csvw#"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

XSD_BASES = [
    "anyAtomicType", "anyURI", "base64Binary", "boolean", "byte", "date",
    "dateTime", "dateTimeStamp", "dayTimeDuration", "decimal", "double",
    "duration", "float", "ENTITY", "gDay", "gMonth", "gMonthDay", "gYear",
    "gYearMonth", "hexBinary", "int", "integer", "language", "long", "Name",
    "NCName", "negativeInteger", "NMTOKEN", "nonNegativeInteger",
    "nonPositiveInteger", "normalizedString", "NOTATION", "positiveInteger",
    "QName", "short", "string", "time", "token", "unsignedByte",
    "unsignedInt", "unsignedLong", "unsignedShort", "yearMonthDuration",
]

#: datatype name -> expanded IRI (including the CSVW aliases)
DATATYPES: dict[str, str] = {name: XSD + name for name in XSD_BASES}
DATATYPES.update({
    "any": XSD + "anyAtomicType",
    "binary": XSD + "base64Binary",
    "datetime": XSD + "dateTime",
    "html": RDF_NS + "HTML",
    "json": CSVW_NS + "JSON",
    "number": XSD + "double",
    "xml": RDF_NS + "XMLLiteral",
})

#: accepted-but-rejected-at-runtime bases (reference metadata.rb:2251-2253)
UNSUPPORTED = {"anyType", "anySimpleType", "ENTITIES", "IDREFS", "NMTOKENS",
               "ENTITY", "ID", "IDREF", "NOTATION"}

NUMERIC_BASES = {
    "decimal", "integer", "long", "int", "short", "byte",
    "nonNegativeInteger", "positiveInteger", "unsignedLong", "unsignedInt",
    "unsignedShort", "unsignedByte", "nonPositiveInteger", "negativeInteger",
    "double", "float", "number",
}
INTEGER_BASES = {
    "integer", "long", "int", "short", "byte", "nonNegativeInteger",
    "positiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
    "unsignedByte", "nonPositiveInteger", "negativeInteger",
}
FLOATING_BASES = {"double", "float", "number"}
DATE_BASES = {"date", "time", "dateTime", "dateTimeStamp", "datetime"}
DURATION_BASES = {"duration", "dayTimeDuration", "yearMonthDuration"}
BINARY_BASES = {"hexBinary", "base64Binary"}

#: bases exempt from \r\n\t -> space replacement (reference metadata.rb:2068)
NO_WS_REPLACE = {"string", "json", "xml", "html", "anyAtomicType"}
#: bases exempt from strip + whitespace collapse (metadata.rb:2069)
NO_WS_COLLAPSE = NO_WS_REPLACE | {"normalizedString"}
#: bases exempt from per-list-item strip (metadata.rb:2076)
NO_ITEM_STRIP = {"string", "anyAtomicType"}

#: integer-subtype inclusive bounds (None = unbounded on that side)
INTEGER_BOUNDS: dict[str, tuple[int | None, int | None]] = {
    "integer": (None, None),
    "long": (-(2**63), 2**63 - 1),
    "int": (-(2**31), 2**31 - 1),
    "short": (-(2**15), 2**15 - 1),
    "byte": (-(2**7), 2**7 - 1),
    "nonNegativeInteger": (0, None),
    "positiveInteger": (1, None),
    "unsignedLong": (0, 2**64 - 1),
    "unsignedInt": (0, 2**32 - 1),
    "unsignedShort": (0, 2**16 - 1),
    "unsignedByte": (0, 2**8 - 1),
    "nonPositiveInteger": (None, 0),
    "negativeInteger": (None, -1),
}

#: post-normalization lexical checks per base (anchored, Java-compatible)
LEXICAL_RE: dict[str, str] = {
    "integer_family": r"^[+-]?\d+$",
    "decimal": r"^[+-]?(\d+(\.\d*)?|\.\d+)$",
    "floating": r"^([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|[+-]?INF|-INF|INF|NaN)$",
    "boolean": r"^(true|false|1|0)$",
    "date": r"^-?\d{4,}-\d{2}-\d{2}(([+-]\d{2}:\d{2})|Z)?$",
    "time": r"^\d{2}:\d{2}:\d{2}(\.\d+)?(([+-]\d{2}:\d{2})|Z)?$",
    "dateTime": r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(([+-]\d{2}:\d{2})|Z)?$",
    "dateTimeStamp": r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(([+-]\d{2}:\d{2})|Z)$",
    "gDay": r"^---(0[1-9]|[12]\d|3[01])(([+-]\d{2}:\d{2})|Z)?$",
    "gMonth": r"^--(0[1-9]|1[0-2])(([+-]\d{2}:\d{2})|Z)?$",
    "gMonthDay": r"^--(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])(([+-]\d{2}:\d{2})|Z)?$",
    "gYear": r"^-?\d{4,}(([+-]\d{2}:\d{2})|Z)?$",
    "gYearMonth": r"^-?\d{4,}-(0[1-9]|1[0-2])(([+-]\d{2}:\d{2})|Z)?$",
    "duration": r"^-?P(\d+Y)?(\d+M)?(\d+D)?(T(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?$",
    "dayTimeDuration": r"^-?P(\d+D)?(T(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?$",
    "yearMonthDuration": r"^-?P(\d+Y)?(\d+M)?$",
    "hexBinary": r"^([0-9a-fA-F]{2})*$",
    "base64Binary": r"^((?:[A-Za-z0-9+/]\s*){4})*(?:[A-Za-z0-9+/]\s*[AQgw]\s*=\s*=|(?:[A-Za-z0-9+/]\s*){2}[AEIMQUYcgkosw048]\s*=)?$",
    "language": r"^[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*$",
    "NMTOKEN": r"^[\w.:\-]+$",
    "Name": r"^[A-Za-z_:][\w.:\-]*$",
    "NCName": r"^[A-Za-z_][\w.\-]*$",
    "anyURI": r"^\S*$",
    "QName": r"^([A-Za-z_][\w.\-]*:)?[A-Za-z_][\w.\-]*$",
}


def lexical_regex_for(base: str) -> str | None:
    """Anchored lexical-validity regex for a base type (post normalization),
    or None when any string is valid (string/token/json/xml/html/...)."""
    if base in INTEGER_BASES:
        return LEXICAL_RE["integer_family"]
    if base in FLOATING_BASES:
        return LEXICAL_RE["floating"]
    if base == "datetime":
        return LEXICAL_RE["dateTime"]
    return LEXICAL_RE.get(base)
