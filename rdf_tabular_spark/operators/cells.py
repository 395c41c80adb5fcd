"""The CSVW cell pipeline as Spark SQL expressions.

Per column: whitespace normalization -> dialect trim -> default-on-empty ->
separator split -> per-item trim/default/null -> datatype parse+validate
(UAX-35 numbers/dates, boolean formats, regex formats, facets) -> typed
values + error channel (reference Row#initialize metadata.rb:2029-2119 and
value_matching_datatype metadata.rb:2149-2293).

The pipeline is rendered as SQL text on the driver (:mod:`..expr`) and
crosses the py4j bridge once, in one ``selectExpr`` for all columns. It is
built from `CASE WHEN` chains, `RLIKE` against driver-compiled regexes,
`regexp_extract` and higher-order array functions; no Python UDFs. The
scalar parts compile into whole-stage codegen, but on Spark 4.1
`transform` / `aggregate` / `zip_with` (``ArrayTransform``,
``ArrayAggregate``, ``ZipWith``) are ``CodegenFallback``: their lambdas
run interpreted inside the generated code, which is why :func:`_let`
stages expensive subtrees.

The output per column is one array column ``cell_<name>``, the typed
values ``array<struct<lex:string, dt:string, lang:string, err:string>>``;
errors and template bindings derive from it (accessors at the end).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..csvw import uax35
from ..csvw.datatypes import (
    BINARY_BASES,
    DATE_BASES,
    DURATION_BASES,
    FLOATING_BASES,
    INTEGER_BASES,
    INTEGER_BOUNDS,
    NO_ITEM_STRIP,
    NO_WS_COLLAPSE,
    NO_WS_REPLACE,
    NUMERIC_BASES,
    UNSUPPORTED,
    XSD,
    lexical_regex_for,
)
from ..csvw.metadata import CompiledColumn, CompiledDatatype, CompiledTable
from .. import expr as S
from ..expr import Expr, let_ as _let

ITEM_SCHEMA = "struct<lex:string,dt:string,lang:string,err:string>"


def _java_re(py_regex: str) -> str:
    """Our compilers emit Java-compatible regexes already; hook kept for
    any future dialect fixups."""
    return py_regex


# --------------------------------------------------------------------------
# numeric normalization (C6/C7)
# --------------------------------------------------------------------------

def _shift_decimal_expr(c: Expr, sym: str, k: int) -> Expr:
    """Percent / per-mille decimal shift on a cleaned numeric string
    (uax35.rb:203-252), as pure expressions.

    Kept deliberately compact (expression-tree size matters: these trees are
    replicated per column per item): left-pad the integer part to >= k+1
    digits, then the split point is uniform for the short and long cases."""
    c2 = S.replace(c, S.lit(sym), S.lit(""))
    sign = S.regexp_extract(c2, r"^([+-])", 1)
    body = S.regexp_replace(c2, r"^[+-]", "")
    lhs = S.substring_index(body, ".", 1)
    rhs = body.substr(S.length(lhs) + 2, S.length(body))  # '' when no '.'
    lp = S.lpad(lhs, S.greatest(S.length(lhs), S.lit(k + 1)).cast("int"), "0")
    head_len = S.length(lp) - S.lit(k)
    shifted = S.concat(
        lp.substr(S.lit(1), head_len), S.lit("."),
        lp.substr(head_len + 1, S.lit(k)), rhs,
    )
    return S.concat(sign, S.replace(shifted, S.lit("E"), S.lit("e")))


def normalize_number_expr(v: Expr, plan: uax35.NumberPlan) -> Expr:
    """Match + normalize a numeric lexical value. Returns the normalized
    lexical string, or NULL when the value does not match the pattern."""
    upper = S.upper(v)
    ok = upper.rlike(_java_re(plan.regex))
    if len(plan.group_char) == 1:
        ok = ok & ~v.contains(plan.group_char * 2)
    cleaned = S.regexp_replace(upper, r"\s+", "")
    # strip literal display affixes (NumberPlan docstring): anchored by
    # the regex match, so prefix/suffix removal is exact
    if plan.prefix:
        p = plan.prefix.upper()
        cleaned = S.when(
            cleaned.startswith(p), S.substring(cleaned, len(p) + 1, 2**30)
        ).otherwise(cleaned)
    if plan.suffix:
        s = plan.suffix.upper()
        cleaned = S.when(
            cleaned.endswith(s),
            S.substring(cleaned, 1, S.length(cleaned) - len(s)),
        ).otherwise(cleaned)
    cleaned = S.replace(cleaned, S.lit(plan.group_char), S.lit(""))
    if plan.decimal_char != ".":
        cleaned = S.replace(cleaned, S.lit(plan.decimal_char), S.lit("."))
    result = (
        S.when(cleaned.contains("%"), _shift_decimal_expr(cleaned, "%", 2))
        .when(cleaned.contains("‰"), _shift_decimal_expr(cleaned, "‰", 3))
        .when(cleaned.contains("NAN"), S.replace(cleaned, S.lit("NAN"), S.lit("NaN")))
        .otherwise(S.replace(cleaned, S.lit("E"), S.lit("e")))
    )
    return S.when(ok, result)


# --------------------------------------------------------------------------
# date normalization (C8)
# --------------------------------------------------------------------------

def normalize_date_expr(v: Expr, plan: uax35.DatePlan, base: str) -> Expr:
    """Match + canonicalize a date/time lexical value per the compiled
    pattern; NULL when it does not match."""
    regex = _java_re(plan.regex)
    ok = v.rlike(regex)

    def grp(name: str) -> Expr | None:
        idx = plan.groups.get(name)
        return S.regexp_extract(v, regex, idx) if idx else None

    parts: list[Expr] = []
    yr = grp("yr")
    if yr is not None:
        yri = yr.cast("int")
        windowed = (
            S.when(S.length(yr) >= 4, yri)
            .when((yri <= 69) | ((yri >= 100) & (yri <= 999)), yri + 2000)
            .when((yri >= 70) & (yri <= 99), yri + 1900)
            .otherwise(yri)
        )
        date_str = S.concat(
            S.lpad(windowed.cast("string"), 4, "0"), S.lit("-"),
            S.lpad(grp("mo"), 2, "0"), S.lit("-"),
            S.lpad(grp("da"), 2, "0"),
        )
        parts.append(date_str)
    hr = grp("hr")
    if hr is not None:
        se = grp("se")
        time_str = S.concat(
            S.lpad(hr, 2, "0"), S.lit(":"),
            S.lpad(grp("mi"), 2, "0"), S.lit(":"),
            S.lpad(S.when(se.isNotNull() & (se != ""), se).otherwise(S.lit("0")), 2, "0")
            if se is not None else S.lit("00"),
        )
        ms = grp("ms")
        if ms is not None:
            time_str = S.concat(
                time_str,
                S.when(ms != "", S.concat(S.lit("."), ms)).otherwise(S.lit("")),
            )
        parts.append(time_str)
    if len(parts) == 2:
        out = S.concat(parts[0], S.lit("T"), parts[1])
    else:
        out = parts[0]
    if plan.has_tz:
        tzz, tzh, tzm = grp("tzz"), grp("tzh"), grp("tzm")
        tz = S.lit("")
        if tzh is not None:
            tz = S.when(
                tzh != "",
                S.concat(tzh, S.lit(":"),
                         S.lpad(S.when((tzm.isNotNull()) & (tzm != ""), tzm)
                                .otherwise(S.lit("0")), 2, "0")),
            ).otherwise(tz)
        if tzz is not None:
            tz = S.when(tzz == "Z", S.lit("Z")).otherwise(tz)
        out = S.concat(out, tz)
    return S.when(ok, out)


# --------------------------------------------------------------------------
# per-item typing (C6, C9, C10, C11)
# --------------------------------------------------------------------------

def _facet_errors(dt: CompiledDatatype, lex: Expr, base: str) -> Expr:
    """array<string> of facet violations for a typed item."""
    errs: list[Expr] = []
    is_binary = base in BINARY_BASES
    if is_binary:
        decoded_len = (
            (S.length(lex) / 2).cast("int") if base == "hexBinary"
            else S.length(S.unbase64(lex))
        )
        if dt.length is not None:
            errs.append(S.when(decoded_len != dt.length,
                               S.concat(S.lit("decoded value has length != "), S.lit(str(dt.length)))))
        if dt.minLength is not None:
            errs.append(S.when(decoded_len < dt.minLength, S.lit(f"decoded length < {dt.minLength}")))
        if dt.maxLength is not None:
            errs.append(S.when(decoded_len > dt.maxLength, S.lit(f"decoded length > {dt.maxLength}")))
    else:
        if dt.length is not None:
            errs.append(S.when(S.length(lex) != dt.length, S.concat(lex, S.lit(f" does not have length {dt.length}"))))
        if dt.minLength is not None:
            errs.append(S.when(S.length(lex) < dt.minLength, S.concat(lex, S.lit(f" does not have length >= {dt.minLength}"))))
        if dt.maxLength is not None:
            errs.append(S.when(S.length(lex) > dt.maxLength, S.concat(lex, S.lit(f" does not have length <= {dt.maxLength}"))))

    # value-range facets: numeric comparison for numbers, canonical-lexical
    # (ISO-8601 sorts lexicographically) comparison for date/times
    bounds = [
        ("minimum", dt.minimum, "<"), ("minInclusive", dt.minInclusive, "<"),
        ("maximum", dt.maximum, ">"), ("maxInclusive", dt.maxInclusive, ">"),
        ("minExclusive", dt.minExclusive, "<="), ("maxExclusive", dt.maxExclusive, ">="),
    ]
    if any(b[1] is not None for b in bounds):
        if base in NUMERIC_BASES:
            val: Expr = lex.cast("double")
            conv = lambda b: S.lit(float(b))  # noqa: E731
        else:
            val = lex
            conv = S.lit
        for name, bound, op in bounds:
            if bound is None:
                continue
            cond = {
                "<": val < conv(bound), "<=": val <= conv(bound),
                ">": val > conv(bound), ">=": val >= conv(bound),
            }[op]
            errs.append(S.when(cond, S.concat(lex, S.lit(f" violates {name} {bound}"))))
    if not errs:
        return S.array().cast("array<string>")
    return S.array_compact(S.array(*errs))


def _regex_ok(fmt: str) -> bool:
    """True when *fmt* compiles as a regex; an invalid regex format acts
    as if format were not set (metadata.rb:710-716 log_warn + delete)."""
    try:
        re.compile(fmt)
        return True
    except re.error:
        return False


def typed_item_expr(v: Expr, col: CompiledColumn, table: CompiledTable) -> Expr:
    """Type one (post-split, non-null) string item ->
    struct<lex, dt, lang, err>. On any validation error the item degrades to
    a plain (language-tagged) literal and err is set (metadata.rb:2082-2088).

    The expensive UAX-35 normalize trees (number/date) are staged through
    :func:`_let` so they evaluate once per item, not once per reference."""
    dt = col.datatype
    base = dt.base

    err_msgs: list[Expr] = []
    lex: Expr = v
    valid: Expr = S.lit(True)

    if base in UNSUPPORTED:
        # per-value error, plain literal out (metadata.rb:2251-2253)
        valid = S.lit(False)
        err_msgs.append(S.concat(v, S.lit(f" uses unsupported datatype: {base}")))
    elif base in NUMERIC_BASES:
        fmt = dt.format if isinstance(dt.format, dict) else (
            {"pattern": dt.format} if isinstance(dt.format, str) else {})
        try:
            plan = uax35.compile_number_pattern(
                fmt.get("pattern"), fmt.get("groupChar") or ",", fmt.get("decimalChar") or ".")
        except uax35.PatternError:
            # invalid picture pattern: act as if format were not set
            # (metadata.rb:695-700 log_warn + object.delete(:format))
            plan = uax35.compile_number_pattern(
                None, fmt.get("groupChar") or ",", fmt.get("decimalChar") or ".")

        def numeric_rest(norm: Expr) -> Expr:
            errs: list[Expr] = []
            lex = S.coalesce(norm, v)
            valid = norm.isNotNull()
            errs.append(S.when(~valid, S.concat(v, S.lit(" does not match numeric pattern"))))
            check = lexical_regex_for(base)
            if check:
                bad_lex = valid & ~lex.rlike(_java_re(check))
                valid = valid & lex.rlike(_java_re(check))
                errs.append(S.when(bad_lex, S.concat(lex, S.lit(f" is not a valid {base}"))))
            if base in INTEGER_BOUNDS:
                lo, hi = INTEGER_BOUNDS[base]
                as_num = lex.cast("decimal(38,0)")
                # bounds go through string→decimal: unsignedLong's 2^64-1
                # does not fit a Java long
                if lo is not None:
                    lo_c = S.lit(str(lo)).cast("decimal(38,0)")
                    cond = valid & (as_num < lo_c)
                    errs.append(S.when(cond, S.concat(lex, S.lit(f" is not a valid {base}"))))
                    valid = valid & (as_num >= lo_c)
                if hi is not None:
                    hi_c = S.lit(str(hi)).cast("decimal(38,0)")
                    cond = valid & (as_num > hi_c)
                    errs.append(S.when(cond, S.concat(lex, S.lit(f" is not a valid {base}"))))
                    valid = valid & (as_num <= hi_c)
            return _finish_item(v, lex, valid, errs, col)

        return _let(normalize_number_expr(v, plan), numeric_rest)
    elif base == "boolean":
        if dt.format:
            t, _, f_ = str(dt.format).partition("|")
            lex = S.when(v == t, S.lit("true")).when(v == f_, S.lit("false"))
            valid = lex.isNotNull()
            err_msgs.append(S.when(~valid, S.concat(v, S.lit(f" does not match boolean format {dt.format}"))))
            lex = S.coalesce(lex, v)
        else:
            low = S.lower(v)
            lex = (S.when(low.isin("1", "true"), S.lit("true"))
                   .when(low.isin("0", "false"), S.lit("false")))
            valid = lex.isNotNull()
            err_msgs.append(S.when(~valid, S.concat(v, S.lit(" does not match boolean"))))
            lex = S.coalesce(lex, v)
    elif base in DATE_BASES:
        plan = None
        if dt.format:
            try:
                plan = uax35.compile_date_pattern(str(dt.format))
            except uax35.PatternError:
                # invalid date/time pattern: act as if format were not set
                # (metadata.rb:701-709 log_warn + object.delete(:format))
                plan = None
        if plan is not None:
            fmt_str = str(dt.format)

            def date_rest(norm: Expr) -> Expr:
                errs: list[Expr] = []
                lex = S.coalesce(norm, v)
                valid = norm.isNotNull()
                errs.append(S.when(~valid, S.concat(
                    v, S.lit(f" does not match format {fmt_str}"))))
                check = lexical_regex_for(base)
                if check:
                    still = valid & ~lex.rlike(_java_re(check))
                    errs.append(S.when(still, S.concat(
                        lex, S.lit(f" is not a valid {base}"))))
                    valid = valid & lex.rlike(_java_re(check))
                return _finish_item(v, lex, valid, errs, col)

            return _let(normalize_date_expr(v, plan, base), date_rest)
        check = lexical_regex_for(base)
        if check:
            still = valid & ~lex.rlike(_java_re(check))
            err_msgs.append(S.when(still, S.concat(lex, S.lit(f" is not a valid {base}"))))
            valid = valid & lex.rlike(_java_re(check))
    elif base in DURATION_BASES:
        if dt.format and _regex_ok(str(dt.format)):
            ok = v.rlike(_java_re(str(dt.format)))
            err_msgs.append(S.when(~ok, S.concat(v, S.lit(f" does not match format {dt.format}"))))
            valid = ok
        check = lexical_regex_for(base)
        if check:
            still = valid & ~v.rlike(_java_re(check))
            err_msgs.append(S.when(still, S.concat(v, S.lit(f" is not a valid {base}"))))
            valid = valid & v.rlike(_java_re(check))
    elif base in BINARY_BASES:
        check = lexical_regex_for(base)
        ok = v.rlike(_java_re(check))
        err_msgs.append(S.when(~ok, S.concat(v, S.lit(" is invalid"))))
        valid = ok
    else:
        # other types: format is a plain regex (metadata.rb:2256-2257)
        if dt.format and base not in ("json", "xml", "html") \
                and _regex_ok(str(dt.format)):
            ok = v.rlike(_java_re(str(dt.format)))
            err_msgs.append(S.when(~ok, S.concat(v, S.lit(f" does not match format {dt.format}"))))
            valid = ok
        check = lexical_regex_for(base)
        if check:
            still = valid & ~v.rlike(_java_re(check))
            err_msgs.append(S.when(still, S.concat(v, S.lit(f" is not a valid {base}"))))
            valid = valid & v.rlike(_java_re(check))

    return _finish_item(v, lex, valid, err_msgs, col)


def _finish_item(v: Expr, lex: Expr, valid: Expr,
                 err_msgs: list[Expr], col: CompiledColumn) -> Expr:
    """Shared item tail: facet checks over the (already cheap) *lex*,
    typed-vs-plain struct choice, error-string assembly."""
    dt = col.datatype
    base = dt.base
    dt_iri = dt.iri
    lang = None if col.lang in (None, "und") else col.lang
    facet_errs = _facet_errors(dt, lex, base)
    has_facet_err = S.size(facet_errs) > 0

    all_errs = S.array_compact(S.array(*err_msgs)) if err_msgs else S.array().cast("array<string>")
    all_errs = S.concat(all_errs, facet_errs)
    err_str = S.when(S.size(all_errs) > 0, S.array_join(all_errs, "\n"))
    plain = S.struct(
        v.alias("lex"), S.lit(None).cast("string").alias("dt"),
        S.lit(lang).cast("string").alias("lang"), err_str.alias("err"),
    )

    # xsd:string stays a (language-tagged) plain literal (metadata.rb:2262-2268)
    typed_dt = None if (dt.id is None and dt_iri == XSD + "string") else dt_iri
    typed = S.struct(
        lex.alias("lex"),
        S.lit(typed_dt).cast("string").alias("dt"),
        (S.lit(lang) if typed_dt is None else S.lit(None)).cast("string").alias("lang"),
        S.lit(None).cast("string").alias("err"),
    )

    item_ok = valid & ~has_facet_err
    return S.when(item_ok, typed).otherwise(plain)


# --------------------------------------------------------------------------
# whole-cell pipeline (C1-C5, C10)
# --------------------------------------------------------------------------

def _dialect_trim(raw: Expr, table: CompiledTable) -> Expr:
    mode = table.dialect.effective_trim
    if mode == "true":
        return S.trim(raw)
    if mode == "start":
        return S.ltrim(raw)
    if mode == "end":
        return S.rtrim(raw)
    return raw


def cell_expr(raw: Expr, col: CompiledColumn, table: CompiledTable) -> Expr:
    """Full cell pipeline for one column -> the cell struct."""
    base = col.datatype.base

    if col.virtual:
        # virtual columns have no physical value: a null cell (metadata.rb:2044-2051)
        value = S.lit(None).cast("string")
    else:
        value = _dialect_trim(S.coalesce(raw, S.lit("")), table)
        if base not in NO_WS_REPLACE:
            value = S.regexp_replace(value, "[\r\n\t]", " ")
        if base not in NO_WS_COLLAPSE:
            value = S.regexp_replace(S.trim(value), r"\s+", " ")
        # default on empty (C3)
        value = S.when(value == "", S.lit(col.default)).otherwise(value)

    if col.separator:
        items = S.split(value, re.escape(col.separator), -1)
        # Ruby String#split semantics (metadata.rb:2073): trailing empty
        # strings are dropped and splitting the empty string yields [] —
        # which is also how the model's "empty string -> empty list" rule
        # is realized. Keep interior empties (they take default/null).
        last_nonempty = S.aggregate(
            S.transform(items, lambda x, i: S.when(x != "", i + 1).otherwise(S.lit(0))),
            S.lit(0), lambda acc, v: S.greatest(acc, v))
        items = S.slice(items, S.lit(1), last_nonempty)
    else:
        items = S.array(value)

    def per_item(x: Expr) -> Expr:
        if base not in NO_ITEM_STRIP:
            x = S.trim(x)
        x = S.when(x == "", S.lit(col.default)).otherwise(x)
        if col.null:
            x = S.when(x.isin(*col.null), S.lit(None)).otherwise(x)
        return x

    items = S.transform(items, per_item)
    items = S.when(value.isNull(), S.array().cast("array<string>")).otherwise(items)
    return S.transform(
        S.array_compact(items), lambda x: typed_item_expr(x, col, table))


# -- cheap accessors over the materialized cell column ----------------------
# The cell column holds ONLY the typed-values array; everything else derives
# from it with tiny expressions over the column *attribute*, so the big
# typing tree exists exactly once per column in the plan (expression-size
# discipline: a 10-column table must not serialize a 10^6-node plan).

def cell_values(name: str) -> Expr:
    # backtick-quoted: defaulted names like `_col.1` contain a dot, which a
    # bare identifier would parse as a struct-field access
    return S.col("cell_" + name)


def cell_errors_expr(col: CompiledColumn) -> Expr:
    values = cell_values(col.name)
    errors = S.array_compact(S.transform(values, lambda t: t["err"]))
    if col.required:
        empty_err = S.when(
            (S.size(values) == 0) | S.exists(values, lambda t: t["lex"] == ""),
            S.lit("Required column has empty value(s)"),
        )
        errors = S.concat(errors, S.array_compact(S.array(empty_err)))
    return errors


def cell_binding(col: CompiledColumn) -> Expr:
    """Template variable value, never null: the first value's lexical form
    ('' when the cell has none); for a separator column all values'
    lexical forms, comma-joined."""
    values = cell_values(col.name)
    if col.separator:
        return S.array_join(S.transform(values, lambda t: t["lex"]), ",")
    return S.coalesce(S.try_element_at(values, S.lit(1))["lex"], S.lit(""))


def build_cells(df: DataFrame, table: CompiledTable) -> DataFrame:
    """Attach one ``cell_<name>`` column per schema column — the typed-values
    array ``array<struct<lex,dt,lang,err>>``.

    Expects physical columns ``_c0.._cN`` (post-skipColumns raw strings) plus
    ``_row`` / ``_sourceRow``; virtual columns need no physical input."""
    names = [c.name for c in table.columns]
    if len(set(names)) != len(names):
        # the reference errors on this at validate! time (metadata.rb:599
        # 'must have unique names'); here it would surface as an opaque
        # Catalyst AMBIGUOUS_REFERENCE several operators later
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"column names are not unique: {dupes}")
    cells = []
    for col in table.columns:
        if col.virtual:
            raw = S.lit(None).cast("string")
        else:
            raw = S.col(f"_c{col.number - 1}")
        cells.append(cell_expr(raw, col, table).alias(f"cell_{col.name}").sql)
    return df.selectExpr("*", *cells)
