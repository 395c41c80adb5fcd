"""Spark SQL expression text, built on the driver in plain Python.

Every ``pyspark.sql.functions`` call crosses the py4j bridge several times
(``F.col`` 13 round trips, ``F.transform`` 41), so building a CSVW column's
cell pipeline and triple templates node by node costs thousands of round
trips per column. :class:`Expr` and the functions below mirror the subset
of ``Column`` / ``pyspark.sql.functions`` those builders use, but render
Spark SQL text; the caller crosses the bridge once per projection
(``selectExpr``). SQL function names resolve through the same function
registry as ``pyspark.sql.functions``, so the analyzer builds the same
Catalyst expressions.

Conventions: a Python ``str`` argument is always a string literal (never
a column name; use :func:`col`); identifiers are backtick-quoted; floats
are ``D`` literals; every operator application is parenthesized.
"""

from __future__ import annotations

import inspect
import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_CONTROL = re.compile(r"[\x00-\x1f\x7f]")


def _quote(s: str) -> str:
    """A Spark SQL string literal: backslash escapes are unescaped by the
    parser, so backslashes and quotes are escaped, control characters
    written as ``\\uXXXX``."""
    s = s.replace("\\", "\\\\").replace("'", "\\'")
    s = _CONTROL.sub(lambda m: f"\\u{ord(m.group()):04x}", s)
    return "'" + s + "'"


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def sql(v: object) -> str:
    """SQL text of an :class:`Expr` or a Python literal."""
    if isinstance(v, Expr):
        return v.sql
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if v >= 0 else f"({v})"
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return f"CAST({_quote(str(v))} AS DOUBLE)"
        return repr(v).upper() + "D" if v >= 0 else f"({repr(v).upper()}D)"
    if isinstance(v, str):
        return _quote(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


class Expr:
    """One SQL expression's text, with ``Column``'s operators."""

    __slots__ = ("sql",)

    def __init__(self, text: str):
        self.sql = text

    def __str__(self) -> str:
        return self.sql

    def __repr__(self) -> str:
        return f"Expr({self.sql!r})"

    def __bool__(self):
        raise ValueError("use '&', '|' and '~' on expressions, not "
                         "'and', 'or' and 'not'")

    def _op(self, op: str, other: object) -> Expr:
        return Expr(f"({self.sql} {op} {sql(other)})")

    def __eq__(self, other):  # type: ignore[override]
        return self._op("=", other)

    def __ne__(self, other):  # type: ignore[override]
        return self._op("!=", other)

    def __lt__(self, other):
        return self._op("<", other)

    def __le__(self, other):
        return self._op("<=", other)

    def __gt__(self, other):
        return self._op(">", other)

    def __ge__(self, other):
        return self._op(">=", other)

    def __and__(self, other):
        return self._op("AND", other)

    def __or__(self, other):
        return self._op("OR", other)

    def __invert__(self):
        return Expr(f"(NOT {self.sql})")

    def __add__(self, other):
        return self._op("+", other)

    def __sub__(self, other):
        return self._op("-", other)

    def __truediv__(self, other):
        return self._op("/", other)

    __hash__ = None  # type: ignore[assignment]

    def __getitem__(self, key: object) -> Expr:
        return Expr(f"{self.sql}[{sql(key)}]")

    def cast(self, type_: str) -> Expr:
        return Expr(f"CAST({self.sql} AS {type_})")

    def alias(self, name: str) -> Alias:
        return Alias(self, name)

    def rlike(self, regex: str) -> Expr:
        return self._op("RLIKE", regex)

    def contains(self, other: object) -> Expr:
        return call("contains", self, other)

    def startswith(self, other: object) -> Expr:
        return call("startswith", self, other)

    def endswith(self, other: object) -> Expr:
        return call("endswith", self, other)

    def isNull(self) -> Expr:
        return Expr(f"({self.sql} IS NULL)")

    def isNotNull(self) -> Expr:
        return Expr(f"({self.sql} IS NOT NULL)")

    def isin(self, *values: object) -> Expr:
        return Expr(f"({self.sql} IN ({', '.join(map(sql, values))}))")

    def substr(self, pos: object, length: object) -> Expr:
        return call("substr", self, pos, length)


class Alias(Expr):
    """``expr AS name``: a select-list item or a :func:`struct` field."""

    __slots__ = ("child", "name")

    def __init__(self, child: Expr, name: str):
        super().__init__(f"{child.sql} AS {_ident(name)}")
        self.child, self.name = child, name


class Case(Expr):
    """``CASE WHEN ... END``, grown by :meth:`when` / :meth:`otherwise`."""

    __slots__ = ("branches",)

    def __init__(self, branches: tuple, *default: object):
        body = " ".join(f"WHEN {sql(c)} THEN {sql(v)}" for c, v in branches)
        tail = "".join(f" ELSE {sql(d)}" for d in default)
        super().__init__(f"CASE {body}{tail} END")
        self.branches = branches

    def when(self, cond: Expr, value: object) -> Case:
        return Case(self.branches + ((cond, value),))

    def otherwise(self, value: object) -> Expr:
        return Case(self.branches, value)


class Struct(Expr):
    """``named_struct(...)`` over its :class:`Alias` *fields*."""

    __slots__ = ("fields",)

    def __init__(self, fields: tuple[Alias, ...]):
        super().__init__(call(
            "named_struct",
            *[a for f in fields for a in (f.name, f.child)]).sql)
        self.fields = fields


def call(name: str, *args: object) -> Expr:
    """``name(args...)``: a SQL function, by its registered name."""
    return Expr(f"{name}({', '.join(map(sql, args))})")


def _lambda(fn) -> str:
    """``x -> body`` for a Python function of Exprs. Parameters get the
    smallest ``_xN`` names the body text does not mention, so a nested
    lambda never captures an enclosing one's variable or a column."""
    n = len(inspect.signature(fn).parameters)
    holders = [f"\x00{id(fn)}.{k}\x00" for k in range(n)]
    body = sql(fn(*(Expr(h) for h in holders)))
    names: list[str] = []
    k = 0
    while len(names) < n:
        name = f"_x{k}"
        if not re.search(rf"\b{name}\b", body):
            names.append(name)
        k += 1
    for h, name in zip(holders, names):
        body = body.replace(h, name)
    params = names[0] if n == 1 else f"({', '.join(names)})"
    return f"{params} -> {body}"


# --------------------------------------------------------------------------
# the pyspark.sql.functions subset
# --------------------------------------------------------------------------

def col(name: str) -> Expr:
    return Expr(_ident(name))


def lit(v: object) -> Expr:
    return Expr(sql(v))


def when(cond: Expr, value: object) -> Case:
    return Case(((cond, value),))


def transform(arr: Expr, fn) -> Expr:
    return Expr(f"transform({arr.sql}, {_lambda(fn)})")


def exists(arr: Expr, fn) -> Expr:
    return Expr(f"exists({arr.sql}, {_lambda(fn)})")


def aggregate(arr: Expr, initial: object, merge) -> Expr:
    return Expr(f"aggregate({arr.sql}, {sql(initial)}, {_lambda(merge)})")


def zip_with(left: Expr, right: Expr, fn) -> Expr:
    return Expr(f"zip_with({left.sql}, {right.sql}, {_lambda(fn)})")


def struct(*fields: Alias) -> Struct:
    return Struct(fields)


def _function(name: str):
    def fn(*args: object) -> Expr:
        return call(name, *args)

    fn.__name__ = name
    return fn


array = _function("array")
array_compact = _function("array_compact")
array_distinct = _function("array_distinct")
array_join = _function("array_join")
array_repeat = _function("array_repeat")
ascii = _function("ascii")
coalesce = _function("coalesce")
concat = _function("concat")
concat_ws = _function("concat_ws")
element_at = _function("element_at")
explode = _function("explode")
flatten = _function("flatten")
greatest = _function("greatest")
hash = _function("hash")
isnan = _function("isnan")
least = _function("least")
length = _function("length")
lower = _function("lower")
lpad = _function("lpad")
ltrim = _function("ltrim")
regexp_extract = _function("regexp_extract")
regexp_replace = _function("regexp_replace")
replace = _function("replace")
rtrim = _function("rtrim")
sequence = _function("sequence")
sha2 = _function("sha2")
shiftleft = _function("shiftleft")
size = _function("size")
slice = _function("slice")
split = _function("split")
substring = _function("substring")
substring_index = _function("substring_index")
to_json = _function("to_json")
trim = _function("trim")
try_element_at = _function("try_element_at")
unbase64 = _function("unbase64")
upper = _function("upper")
url_encode = _function("url_encode")


def let_(val, body):
    """Expression-level ``let``: materialize *val* ONCE and hand it to
    *body* as a higher-order-lambda argument. Interpreted HOF lambdas
    have no common-subexpression elimination — every reference to an
    expression re-evaluates its whole subtree — but a lambda ARGUMENT is
    a materialized value, so wrapping an expensive subtree in a
    single-element transform makes N references cost one evaluation
    (measured ~20x on the UAX-35 number typing path, where the
    normalize tree was re-run for the validity flag, the lexical check,
    each bounds check, each error message, and the output struct).
    Works on an :class:`Expr` and on a ``Column`` alike."""
    if isinstance(val, Column):
        return F.element_at(F.transform(F.array(val), body), 1)
    return element_at(transform(array(val), body), 1)
