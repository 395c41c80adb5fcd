"""Dialect-aware single-file CSV scan (S1-S6).

:func:`read_table` is one pipeline for every table file:

1. A *framer*, chosen from the dialect and the data, yields records
   ``(_sourceRow long, value string)``:

   - the **line framer** takes UTF-8/ASCII files with exactly the default
     terminators (``\\r\\n``, ``\\n``). It splits on LF and drops one
     trailing CR, so a bare CR stays inside its cell, and numbers lines
     JVM-side from one per-partition count aggregate over partitions
     fixed at read time. The same aggregate
     probes for quoted cells that embed a line terminator; a file where
     the probe fires goes to record framing;
   - :func:`~.framing.frame_records` frames, distributed, every dialect
     :func:`~.framing.can_frame_distributed` accepts;
   - the **splitter** takes the rest: overlapping or multi-char
     terminators, encodings that are not byte-transparent (UTF-16) and
     escape-mode quoting. One executor task streams the file in bounded
     reads.

2. One JVM ``from_csv`` parse turns records into cells (quoting, escaping
   and delimiter from the dialect, reference metadata.rb:1273-1280); a
   trailing ``_overflow`` slot catches rows wider than the schema.
3. One dialect tail applies skipRows comments, header titles, comment
   rows, blank rows, skipColumns and ``_row`` numbering.

Row numbers are record numbers, as in the reference (Ruby's CSV iterates
records). The many-file scan (:func:`scan_lines_df`) and kg/ do not come
through here.
"""

from __future__ import annotations

import csv as pycsv
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from .. import expr as S
from ..csvw.metadata import CompiledTable, Dialect
from ..deploy import ensure_py_files
from . import framing


@dataclass
class TableScan:
    """A scanned table: data rows + embedded metadata extracted on the way."""

    df: DataFrame  # _row, _sourceRow, _c0.._cN (raw strings, post-skipColumns)
    header_titles: list[str] = field(default_factory=list)
    comments: list[str] = field(default_factory=list)
    n_physical_columns: int = 0
    #: lazy ragged-row problems (source_row long, detail string): the
    #: ToRdf hot path never pays for them; only validate() materializes it
    problems_df: DataFrame | None = None


#: driver-side bound on collected comment annotations (VERDICT r4 #4: a
#: pathological 100 GB file that is mostly commentPrefix lines must not
#: OOM the driver). The reference keeps every comment as a table
#: annotation (metadata.rb:882-886) but streams them; we keep the first
#: _COMMENT_CAP in source order — far beyond any real metadata header —
#: and warn when truncating.
_COMMENT_CAP = 10_000

#: the CSVW default lineTerminators, the only set the line framer frames
_DEFAULT_TERMINATORS = {"\r\n", "\n"}


def _collect_comments_bounded(comment_rows: DataFrame, render) -> list[str]:
    """Collect comment-row annotations with BOUNDED driver memory: the
    ordered ``limit`` compiles to TakeOrderedAndProject — each task
    keeps at most cap rows and the driver merges per-task heaps — so
    the scan never materializes an unbounded comment set (the previous
    bare ``collect()`` did). Ordering on ``_sourceRow`` also makes the
    source-order contract explicit instead of relying on partition
    pickup order."""
    rows = comment_rows.orderBy("_sourceRow").limit(_COMMENT_CAP + 1) \
        .collect()
    if len(rows) > _COMMENT_CAP:
        import warnings

        warnings.warn(
            f"comment annotations truncated to first {_COMMENT_CAP} "
            "comment rows (source order); the file has more",
            stacklevel=2)
        rows = rows[:_COMMENT_CAP]
    return list(filter(None, (render(r) for r in rows)))


def _parse_csv_line(line: str, dialect: Dialect) -> list[str]:
    r = pycsv.reader(
        io.StringIO(line),
        delimiter=dialect.delimiter,
        quotechar=dialect.quoteChar or '"',
        doublequote=dialect.doubleQuote,
        escapechar=None if dialect.doubleQuote else "\\",
    )
    for row in r:
        return row
    return []


def _pinned(df: DataFrame) -> DataFrame:
    """*df* over the one RDD its plan makes now, so every later action
    reads the same partitions whatever the file-split settings or the
    executor count are by then (per-partition line offsets hold only for
    the partitions they were counted on). JVM-side: no row enters
    Python."""
    js = df.sparkSession._jsparkSession
    return DataFrame(js.createDataFrame(
        df._jdf.javaRDD(), js.parseDataType(df.schema.json())),
        df.sparkSession)


def _line_records(spark: SparkSession, d: Dialect, path: str,
                  n_head: int) -> tuple[DataFrame, list[str]] | None:
    """Line framer: LF-split lines numbered JVM-side and the first
    *n_head* of them, or None when a quoted cell embeds a line terminator
    (the file needs record framing).

    ``monotonically_increasing_id`` holds the partition id in its upper 31
    bits and the index inside the partition in its lower 33. One
    per-partition aggregate gives each partition's line count, its first
    *n_head* lines and the embedded-terminator probe; a driver prefix sum
    of the counts gives every partition its offset."""
    lines = _pinned(spark.read.option("lineSep", "\n").text(path)).select(
        F.spark_partition_id().alias("_pid"),
        (F.monotonically_increasing_id()
         - F.shiftleft(F.spark_partition_id().cast("long"), 33))
        .alias("_local"),
        F.regexp_replace("value", "\r\\z", "").alias("value"))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(F.col("_local") < n_head, F.struct(
                "_local", "value"))).alias("head")]
    if d.quoteChar:
        # a quoted cell embedding a line terminator leaves a line whose
        # quote count is odd AND that has a quote at a field boundary
        # (line start/end or next to the delimiter). Parity alone misroutes
        # an unquoted mid-field quote (`5" x 4`); boundary counting alone
        # misses `"a","b<NL>c","d"` and misroutes every fully-quoted file.
        # With doubleQuote false a `\`-escaped quote counts for nothing.
        q, de = re.escape(d.quoteChar), re.escape(d.delimiter)
        text = F.col("value") if d.doubleQuote else \
            F.regexp_replace("value", r"\\.", "")
        n_quotes = F.length(text) - F.length(
            F.replace(text, F.lit(d.quoteChar), F.lit("")))
        boundary = F.regexp_count(text, F.lit(f"(^|{de}){q}|{q}({de}|$)"))
        aggs.append(F.max(((n_quotes % 2 == 1) & (boundary > 0))
                          .cast("int")).alias("embedded"))
    stats = {r["_pid"]: r for r in lines.groupBy("_pid").agg(*aggs).collect()}
    if d.quoteChar and any(r["embedded"] for r in stats.values()):
        return None
    offsets, head, acc = [], [], 0
    for pid in range(max(stats, default=-1) + 1):
        offsets.append(acc)
        if pid in stats:
            acc += stats[pid]["n"]
            head += [v for _, v in sorted(stats[pid]["head"])]
    off = F.get(F.lit(offsets or [0]).cast("array<bigint>"), F.col("_pid"))
    return lines.select((off + F.col("_local") + 1).alias("_sourceRow"),
                        "value"), head[:n_head]


def _split_file(path: str, encoding: str, quote: str, terminators: list[str],
                double_quote: bool, chunk: int = 1 << 20):
    """The records of *path* in order, read *chunk* characters at a time:
    memory holds one chunk and the record being read. The file decodes
    with *encoding*; a terminator outside quotes ends a record (CSVW: ANY
    listed terminator, longest first), and with *double_quote* false a
    ``\\``-escaped character inside quotes never toggles the quote state
    nor ends the record."""
    terms = "|".join(re.escape(t) for t in sorted(terminators, key=len,
                                                  reverse=True))
    alts = [f"(?P<q>{re.escape(quote)})", f"(?P<t>{terms})"]
    if not double_quote:
        alts.insert(0, r"(?P<e>\\.)")
    pat = re.compile("|".join(alts), re.S)
    # a match starting this close to the end of the buffer may be cut
    keep = max(2, *map(len, terminators))
    buf, start, pos, quoted = "", 0, 0, False
    with open(path, encoding=encoding, newline="") as f:
        while True:
            more = f.read(chunk)
            buf, pos, start = buf[start:] + more, pos - start, 0
            limit = len(buf) - keep if more else len(buf)
            m = pat.search(buf, pos)
            while m and m.start() < limit:
                if m.lastgroup == "e":  # outside quotes `\` is literal
                    pos = m.end() if quoted else m.start() + 1
                elif m.lastgroup == "q":
                    quoted, pos = not quoted, m.end()
                else:
                    pos = m.end()
                    if not quoted:
                        yield buf[start:m.start()]
                        start = pos
                m = pat.search(buf, pos)
            if not more:
                break
    if start < len(buf):  # a trailing terminator yields no empty record
        yield buf[start:]


def _split_records(spark: SparkSession, d: Dialect, path: str) -> DataFrame:
    """Splitter for the dialects ``frame_records`` declines: one executor
    task streams the file through :func:`_split_file`. Like any
    sequential reader it does not split the file across tasks. The
    records are checkpointed as they are read, so the header and comment
    collects and every later action read the file once between them."""
    ensure_py_files(spark)  # the task imports this module
    args = (path, d.encoding or "utf-8", d.quoteChar or '"',
            d.line_terminator_list, d.doubleQuote)
    return spark.createDataFrame(
        spark.sparkContext.parallelize([args], 1).flatMap(
            lambda a: enumerate(_split_file(*a), 1)),
        "_sourceRow long, value string").localCheckpoint()


def _records(spark: SparkSession, d: Dialect, path: str,
             n_head: int) -> tuple[DataFrame, list[str]]:
    """``(_sourceRow, value)`` records of *path* from the framer its
    dialect and data call for, and the values of the first *n_head*."""
    terms = d.line_terminator_list
    if framing.charset_of(d.encoding) in ("UTF-8", "US-ASCII") \
            and set(terms) == _DEFAULT_TERMINATORS:
        lines = _line_records(spark, d, path, n_head)
        if lines is not None:
            return lines
    quote = d.quoteChar or '"'
    if framing.can_frame_distributed(terms, quote, d.encoding, d.doubleQuote):
        records = framing.frame_records(spark, path, terms, quote, d.encoding)
    else:
        records = _split_records(spark, d, path)
    # the text reader drops a UTF-8 byte-order mark; so do the other two
    records = records.withColumn("value", F.when(
        F.col("_sourceRow") == 1, F.regexp_replace("value", "^\ufeff", ""))
        .otherwise(F.col("value")))
    head = records.orderBy("_sourceRow").limit(n_head).collect() \
        if n_head else []
    return records, [r.value for r in head]


def _comment(text: str, prefix: str) -> str:
    """A comment row's annotation: its text after the prefix, stripped
    (metadata.rb:882-886); empty ones are dropped."""
    return text[len(prefix):].strip()


def read_table(
    spark: SparkSession, table: CompiledTable, path: str
) -> TableScan:
    d = table.dialect
    prefix = d.commentPrefix
    n_head = d.skipRows + d.header_row_count
    records, head = _records(spark, d, path, n_head)

    # S2/S6: the skipped region and the header rows are few; inspect them
    # on the driver. Comments keep the record's own text (quotes and
    # delimiters as written), the text the commentPrefix test reads too.
    comments: list[str] = []
    header_titles: list[str] = []
    for text in head[:d.skipRows]:
        # trim before prefix detection, strip after removal, drop
        # empties (metadata.rb:1846-1853)
        if d.effective_trim in ("true", "start"):
            text = text.lstrip()
        if d.effective_trim in ("true", "end"):
            text = text.rstrip()
        if prefix and text.startswith(prefix):
            text = text[len(prefix):]
        comments.append(text.strip())
    for text in head[d.skipRows:]:
        if prefix and text.startswith(prefix):
            comments.append(_comment(text, prefix))
        elif not header_titles:
            header_titles = [c.strip() for c in
                             _parse_csv_line(text, d)[d.skipColumns:]]
    comments = [c for c in comments if c]
    body = records.filter(F.col("_sourceRow") > n_head)

    # S3: comment rows inside the data region; a quoted first cell starts
    # with the quote character, so `"#x",1` stays data
    if prefix:
        is_comment = F.col("value").startswith(prefix)
        comments.extend(_collect_comments_bounded(
            body.filter(is_comment), lambda r: _comment(r.value, prefix)))
        body = body.filter(~is_comment)

    # physical width: declared schema, else the header row, else (headerless
    # file with no schema) the first data row — the reference creates
    # `_col.N` columns on demand per row (metadata.rb:2060-2062); the
    # fixed-schema scan sizes them once from the first row
    non_virtual = [c for c in table.columns if not c.virtual]
    if non_virtual:
        n_cols = len(non_virtual) + d.skipColumns
    elif header_titles:
        n_cols = len(header_titles) + d.skipColumns
    else:
        first = body.orderBy("_sourceRow").limit(1).collect()
        n_cols = max(len(_parse_csv_line(first[0].value, d)) if first else 0,
                     1)

    # one overflow slot so data rows wider than the schema surface as
    # ragged-row problems instead of being silently truncated
    ddl = ", ".join(f"`_x{i}` string" for i in range(n_cols)) \
        + ", `_overflow` string"
    opts = {"sep": d.delimiter, "quote": d.quoteChar or '"',
            "escape": d.escape_char, "mode": "PERMISSIVE"}
    parsed = body.select("_sourceRow", "value",
                         F.from_csv(F.col("value"), ddl, opts).alias("r"))
    problems_df = parsed.filter(F.col("r._overflow").isNotNull()).select(
        F.col("_sourceRow").alias("source_row"),
        F.lit(f"ragged row wider than the {n_cols}-column schema")
        .alias("detail"))
    # the per-column projection and the blank-row test are SQL text: one
    # bridge call each, whatever the width
    width = n_cols - d.skipColumns
    out = parsed.selectExpr(
        "_sourceRow", "value",
        *[S.col("r")[f"_x{i + d.skipColumns}"].alias(f"_c{i}").sql
          for i in range(width)])

    # S4: a blank row has only empty cells (",," is blank too)
    if d.skipBlankRows:
        cells = S.concat_ws("", *[S.coalesce(S.col(f"_c{i}"), "")
                                  for i in range(width)])
        out = out.filter(
            ((S.trim(S.col("value")) != "") & (cells != "")).sql)

    # data-row numbering (C16): per single-file table a window over the
    # record number is exact; arithmetic when no data row was dropped
    if prefix or d.skipBlankRows:
        row = F.row_number().over(Window.orderBy("_sourceRow")).cast("long")
    else:
        row = F.col("_sourceRow") - n_head
    return TableScan(
        df=out.withColumn("_row", row).drop("value"),
        header_titles=header_titles,
        comments=comments,
        n_physical_columns=n_cols,
        problems_df=problems_df,
    )


def scan_lines_df(
    lines: DataFrame, dialect: Dialect, n_cols: int,
    file_col: str = "file_id", line_col: str = "line_no",
    text_col: str = "text",
) -> DataFrame:
    """Distributed MANY-file dialect scan: S2-S5 as pure column expressions
    over a ``(file, line_no, text)`` DataFrame — skipRows + header region,
    commentPrefix, skipBlankRows, skipColumns, delimiter split, trim, and
    per-file data-row numbering (C16) via a window PARTITIONED by file
    (never global).

    This is the 10^12-file shape: when many files share one dialect (the
    production corpus), the whole corpus scans in a single declarative
    plan — filters and the split push into one narrow stage, the only
    shuffle is the per-file numbering window, keyed by file. The
    single-file path (:func:`read_table`) keeps the richer driver-side
    semantics (embedded header extraction, comment aggregation,
    record framing).

    Cell parsing is JVM-side ``from_csv`` when the dialect declares a
    quoteChar (the default), so quoted cells embedding the delimiter
    parse correctly (ADVICE r2); only a dialect with quoting explicitly
    disabled takes the plain split. Being line-based, this path cannot
    frame cells that embed LINE TERMINATORS — those files need
    :func:`read_table`'s record framing. The commentPrefix filter is
    quote-safe as-is: a quoted first cell starts with the quote
    character at line level, so ``"#not a comment",x`` is kept.

    Returns (file_col, _sourceRow, _row, _c0.._cN)."""
    from pyspark.sql.window import Window

    d = dialect
    df = lines.filter(F.col(line_col) > d.skipRows + d.header_row_count)
    if d.commentPrefix:
        df = df.filter(~F.col(text_col).startswith(d.commentPrefix))
    if d.quoteChar:
        trim_pre = d.effective_trim
        opts = {
            "sep": d.delimiter,
            "quote": d.quoteChar,
            "escape": d.quoteChar if d.doubleQuote else "\\",
            "mode": "PERMISSIVE",
            # strip pre/post-quote whitespace JVM-side so ` "a"` still
            # quote-parses; post-parse trim below covers unquoted cells
            "ignoreLeadingWhiteSpace":
                "true" if trim_pre in ("true", "start") else "false",
            "ignoreTrailingWhiteSpace":
                "true" if trim_pre in ("true", "end") else "false",
        }
        schema_str = ", ".join(f"_x{i} string" for i in range(n_cols))
        parsed = F.from_csv(F.col(text_col), F.lit(schema_str), opts)
        parts = F.array(
            *[parsed.getField(f"_x{i}") for i in range(n_cols)])
    else:
        parts = F.split(F.col(text_col), re.escape(d.delimiter))
    if d.skipBlankRows:
        # CSVW blank = every cell empty (",," is blank too), matching the
        # single-file scan's concat-of-cells test
        all_cells = F.concat_ws("", F.transform(
            parts, lambda c: F.coalesce(c, F.lit(""))))
        df = df.filter(F.trim(F.col(text_col)) != "") \
            .filter(all_cells != "")
    w = Window.partitionBy(file_col).orderBy(line_col)
    df = df.withColumn("_row", F.row_number().over(w).cast("long"))
    trim = d.effective_trim

    def cell(i: int):
        # F.get: 0-based and NULL on out-of-bounds (ragged short rows) —
        # element_at would throw under ANSI mode
        c = F.get(parts, i + d.skipColumns)
        if trim == "true":
            c = F.trim(c)
        elif trim == "start":
            c = F.ltrim(c)
        elif trim == "end":
            c = F.rtrim(c)
        return c.alias(f"_c{i}")

    return df.select(
        F.col(file_col),
        F.col(line_col).cast("long").alias("_sourceRow"),
        "_row",
        *[cell(i) for i in range(n_cols - d.skipColumns)],
    )


def inline_table(spark: SparkSession, rows: list[list[str]],
                 table: CompiledTable, first_number: int | None = None) -> TableScan:
    """In-memory input (S13): list-of-lists, first header_row_count rows are
    headers.

    *first_number* overrides the first data row's number AND source number
    (both equal) — the HTML scan needs this: the reference pre-increments
    its row counter once per ``<tr>`` (``number += 1 if row.xpath('th')`` is
    always truthy, metadata.rb:869), so HTML data rows number from
    (total tr count)+1, as pinned by countries_embed-standard.ttl."""
    d = table.dialect
    header_n = d.header_row_count
    header = [str(c) for c in rows[0][d.skipColumns:]] if (rows and header_n) else []
    data = rows[header_n:]
    n = max((len(r) for r in data), default=len(header) + d.skipColumns)

    def nums(i: int) -> list[int]:
        if first_number is not None:
            return [i + first_number, i + first_number]
        return [i + 1 + header_n + d.skipRows, i + 1]

    recs = [
        tuple(nums(i)
              + [str(v) if v is not None else None for v in r[d.skipColumns:n]]
              + [None] * (n - d.skipColumns - len(r[d.skipColumns:n])))
        for i, r in enumerate(data)
    ]
    fields = [StructField("_sourceRow", LongType()), StructField("_row", LongType())]
    fields += [StructField(f"_c{i}", StringType()) for i in range(n - d.skipColumns)]
    return TableScan(
        df=spark.createDataFrame(recs, StructType(fields)),
        header_titles=header,
        n_physical_columns=n,
    )
