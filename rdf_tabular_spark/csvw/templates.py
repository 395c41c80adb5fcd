"""RFC 6570 URI-template compiler.

CSVW expands ``aboutUrl`` / ``propertyUrl`` / ``valueUrl`` templates per row
with variables bound to cell values plus ``_row/_sourceRow/_name/_column/
_sourceColumn`` (reference metadata.rb:1950-1962).

- :func:`compile_template` renders every level-4 form (all eight
  operators, the prefix modifier ``{v:n}`` and the explode modifier
  ``*``) as Spark SQL text (concat + percent-encode, through
  :mod:`..expr`); it is the only renderer of a template over rows.
- :func:`expand` — a pure-Python RFC 6570 expander; it folds constant
  templates on the driver and is the oracle the compiler is tested
  against.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .. import expr as S
from ..expr import Expr

_EXPR_RE = re.compile(r"\{([+#./;?&]?)([^}]*)\}")

_UNRESERVED = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
_RESERVED = ":/?#[]@!$&'()*+,;="


_HEX_DIGITS = set("0123456789abcdefABCDEF")


def _pct(s: str, keep_reserved: bool) -> str:
    s = str(s)
    safe = _UNRESERVED + (_RESERVED if keep_reserved else "")
    out = []
    for i, ch in enumerate(s):
        if ch == "%" and keep_reserved:
            # RFC 6570 §3.2.3: only a valid pct-triplet passes through in
            # reserved expansion; a bare '%' must be encoded as %25
            if s[i + 1 : i + 2] in _HEX_DIGITS and s[i + 2 : i + 3] in _HEX_DIGITS:
                out.append("%")
            else:
                out.append("%25")
        elif ch in safe:
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "".join(out)


@dataclass(frozen=True)
class _Var:
    name: str
    explode: bool = False
    prefix: int | None = None


_OPS = {
    # op: (first, sep, named, ifemp, allow_reserved)
    "": ("", ",", False, "", False),
    "+": ("", ",", False, "", True),
    "#": ("#", ",", False, "", True),
    ".": (".", ".", False, "", False),
    "/": ("/", "/", False, "", False),
    ";": (";", ";", True, "", False),
    "?": ("?", "&", True, "=", False),
    "&": ("&", "&", True, "=", False),
}


def _parse_varlist(spec: str) -> list[_Var]:
    out = []
    for piece in spec.split(","):
        piece = piece.strip()
        explode = piece.endswith("*")
        piece = piece.rstrip("*")
        prefix = None
        if ":" in piece:
            piece, _, n = piece.partition(":")
            prefix = int(n)
        out.append(_Var(piece, explode, prefix))
    return out


def expand(template: str, bindings: dict) -> str:
    """Full pure-Python RFC 6570 expansion (levels 1-4)."""

    def repl(m: re.Match) -> str:
        op, spec = m.group(1), m.group(2)
        first, sep, named, ifemp, allow_res = _OPS[op]
        parts: list[str] = []
        for var in _parse_varlist(spec):
            if var.name not in bindings or bindings[var.name] is None:
                continue
            val = bindings[var.name]
            if isinstance(val, (list, tuple)):
                if not val:
                    continue
                if var.explode:
                    items = [_pct(v, allow_res) for v in val]
                    if named:
                        parts.extend(f"{var.name}={i}" for i in items)
                    else:
                        parts.extend(items)
                else:
                    joined = ",".join(_pct(v, allow_res) for v in val)
                    parts.append(f"{var.name}={joined}" if named else joined)
            elif isinstance(val, dict):
                if var.explode:
                    parts.extend(
                        f"{_pct(k, allow_res)}={_pct(v, allow_res)}"
                        for k, v in val.items())
                else:
                    joined = ",".join(
                        f"{_pct(k, allow_res)},{_pct(v, allow_res)}"
                        for k, v in val.items())
                    parts.append(f"{var.name}={joined}" if named else joined)
            else:
                s = str(val)
                if var.prefix is not None:
                    s = s[: var.prefix]
                enc = _pct(s, allow_res)
                if named:
                    parts.append(f"{var.name}{ifemp}" if s == "" else f"{var.name}={enc}")
                else:
                    parts.append(enc)
        if not parts:
            return ""
        return first + sep.join(parts)

    return _EXPR_RE.sub(repl, template)


def template_variables(template: str) -> list[str]:
    names: list[str] = []
    for m in _EXPR_RE.finditer(template):
        names.extend(v.name for v in _parse_varlist(m.group(2)))
    return names


#: reserved char -> its Java URLEncoder escape (for the +/# un-encode pass).
#: '*' is absent: URLEncoder leaves it literal, which reserved expansion wants.
_RESERVED_ESCAPES = [
    (":", "%3A"), ("/", "%2F"), ("?", "%3F"), ("#", "%23"), ("[", "%5B"),
    ("]", "%5D"), ("@", "%40"), ("!", "%21"), ("$", "%24"), ("&", "%26"),
    ("'", "%27"), ("(", "%28"), (")", "%29"), ("+", "%2B"), (",", "%2C"),
    (";", "%3B"), ("=", "%3D"),
]


def pct_encode(col: Expr, keep_reserved: bool) -> Expr:
    """Percent-encode a string column RFC6570-style, JVM-side.

    ``url_encode`` is form-encoding; patch its deltas (space->'+', '~'
    escaped, '*' kept) back to RFC 3986 semantics. For the +/# operators the
    reserved set (and existing %XX triplets) passes through, but everything
    else — spaces, non-ASCII — must still be encoded (RFC 6570 §3.2.3), so
    we fully encode then un-encode the reserved characters."""
    enc = S.url_encode(col)
    enc = S.replace(enc, S.lit("+"), S.lit("%20"))  # '+' here is a space
    enc = S.replace(enc, S.lit("%7E"), S.lit("~"))
    if keep_reserved:
        for ch, esc in _RESERVED_ESCAPES:
            enc = S.replace(enc, S.lit(esc), S.lit(ch))
        # %25 last, and only when a valid pct-triplet follows: "%41" in the
        # input passes through as %41, but a bare '%' ("100%") must stay
        # %25 (RFC 6570 §3.2.3) — byte-parity with _pct above
        enc = S.regexp_replace(enc, r"%25([0-9A-Fa-f]{2})", r"%$1")
    else:
        enc = S.replace(enc, S.lit("*"), S.lit("%2A"))
    return enc


def compile_template(template: str, bindings: dict[str, Expr]) -> Expr:
    """Compile an RFC 6570 template to a Spark SQL expression.

    *bindings* maps variable name -> non-null string expression (the
    cell's canonical lexical value; a list is bound as its comma-joined
    values, so ``{v*}`` expands like ``{v}``, as :func:`expand` does with a
    string). Unbound variables expand to nothing."""
    pieces: list[Expr] = []
    pos = 0
    for m in _EXPR_RE.finditer(template):
        if m.start() > pos:
            pieces.append(S.lit(template[pos : m.start()]))
        first, sep, named, ifemp, keep_reserved = _OPS[m.group(1)]
        parts: list[Expr] = []
        for var in _parse_varlist(m.group(2)):
            if var.name not in bindings:
                continue
            value = bindings[var.name]
            if var.prefix is not None:
                value = S.substring(value, 1, var.prefix)
            enc = S.coalesce(pct_encode(value, keep_reserved), S.lit(""))
            if named:
                enc = (S.when(value == "", S.lit(var.name + ifemp))
                       .otherwise(S.concat(S.lit(var.name + "="), enc)))
            parts.append(enc)
        if parts:
            pieces.append(S.concat(S.lit(first), S.concat_ws(sep, *parts)))
        pos = m.end()
    if pos < len(template):
        pieces.append(S.lit(template[pos:]))
    if not pieces:
        return S.lit("")
    return S.concat(*pieces)
