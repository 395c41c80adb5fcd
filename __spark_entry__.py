"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship source-code→KG pipeline on a small
deterministic synthetic table (input_hint shape) and returns the final
triple DataFrame. ``queries()`` exposes one callable per implemented
operator family from SURVEY.md §2 plus the training-data operators;
``oracle_sql()`` gives the DuckDB twin for every SQL-expressible one.

Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

STOPLIST_SQL = "('the','a','an','of','to','in','is','and','or','for')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# CSVW family: the annotated-table → triples pipeline over a parquet table
# ---------------------------------------------------------------------------

_NATION_METADATA = {
    "@context": "http://www.w3.org/ns/csvw",
    "url": EX + "nation.csv",
    "tableSchema": {
        "aboutUrl": EX + "nation/{n_nationkey}",
        "primaryKey": "n_nationkey",
        "columns": [
            {"name": "n_nationkey", "datatype": "integer", "required": True},
            {"name": "n_name", "datatype": "string"},
            {"name": "n_regionkey", "datatype": "integer",
             "valueUrl": EX + "region/{n_regionkey}"},
        ],
    },
}


def _nation_cells(spark: SparkSession, sf_dir: str):
    """nation.parquet staged as a CSVW physical table (_c0.._cN raw strings
    + _row/_sourceRow) and run through the compiled cell pipeline."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells

    group = parse_metadata(_NATION_METADATA)
    table = group.tables[0]
    nation = _t(spark, sf_dir, "nation")
    # TPC-H nation keys are dense 0..24 at every SF, so the CSVW row number
    # is pure arithmetic — no single-partition global WindowExec (the real
    # scan numbers lines via zipWithIndex, sources/csv_source.py)
    staged = nation.withColumn(
        "_row", (F.col("n_nationkey") + F.lit(1)).cast("long")).select(
        F.col("n_nationkey").cast("string").alias("_c0"),
        F.col("n_name").cast("string").alias("_c1"),
        F.col("n_regionkey").cast("string").alias("_c2"),
        "_row",
        (F.col("_row") + F.lit(1)).alias("_sourceRow"),
    )
    return build_cells(staged, table), table


def q_csvw_triples_minimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 minimal-mode emission (reader.rb:299-331) + A3 set-dedup over the
    nation table with aboutUrl/valueUrl templates (C12)."""
    from rdf_tabular_spark.operators.dedup import dedupe_triples
    from rdf_tabular_spark.operators.emit import emit_table_triples

    cells, table = _nation_cells(spark, sf_dir)
    return dedupe_triples(emit_table_triples(cells, table, mode="minimal"))


def sql_csvw_triples_minimal() -> str:
    base = EX + "nation.csv#"
    return f"""
    WITH n AS (SELECT * FROM nation)
    SELECT '{EX}nation/' || n_nationkey AS subj, '{base}n_nationkey' AS pred,
           CAST(n_nationkey AS VARCHAR) AS obj, FALSE AS obj_is_iri,
           '{XSD}integer' AS obj_datatype, CAST(NULL AS VARCHAR) AS obj_lang
    FROM n
    UNION ALL
    SELECT '{EX}nation/' || n_nationkey, '{base}n_name',
           n_name, FALSE, NULL, NULL FROM n
    UNION ALL
    SELECT '{EX}nation/' || n_nationkey, '{base}n_regionkey',
           '{EX}region/' || n_regionkey, TRUE, NULL, NULL FROM n
    """


def q_csvw_triples_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 standard-mode envelope (reader.rb:259-298): Table/Row nodes,
    csvw:rownum/url/describes, deterministic skolem bnode ids — every id
    replicated bit-for-bit by the DuckDB oracle (sha256 + chr(0) joins)."""
    from rdf_tabular_spark.operators.dedup import dedupe_triples
    from rdf_tabular_spark.operators.emit import emit_table_triples

    cells, table = _nation_cells(spark, sf_dir)
    return dedupe_triples(emit_table_triples(cells, table, mode="standard"))


def sql_csvw_triples_standard() -> str:
    url = EX + "nation.csv"
    csvw = "http://www.w3.org/ns/csvw#"
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    return f"""
    WITH n AS (
      SELECT *, row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation),
    ids AS (
      SELECT *,
        '_:row' || substr(sha256('{url}' || chr(0) || CAST(rn + 1 AS VARCHAR)), 1, 20) AS row_node,
        '_:t' || substr(sha256('{url}'), 1, 20) AS tnode,
        '{EX}nation/' || n_nationkey AS subj
      FROM n)
    SELECT subj, '{url}#n_nationkey' AS pred,
           CAST(n_nationkey AS VARCHAR) AS obj, FALSE AS obj_is_iri,
           '{XSD}integer' AS obj_datatype, CAST(NULL AS VARCHAR) AS obj_lang
    FROM ids
    UNION ALL SELECT subj, '{url}#n_name', n_name, FALSE, NULL, NULL FROM ids
    UNION ALL SELECT subj, '{url}#n_regionkey',
           '{EX}region/' || n_regionkey, TRUE, NULL, NULL FROM ids
    UNION ALL SELECT tnode, '{csvw}row', row_node, TRUE, NULL, NULL FROM ids
    UNION ALL SELECT row_node, '{csvw}rownum', CAST(rn AS VARCHAR), FALSE,
           '{XSD}integer', NULL FROM ids
    UNION ALL SELECT row_node, '{rdf_type}', '{csvw}Row', TRUE, NULL, NULL FROM ids
    UNION ALL SELECT row_node, '{csvw}url',
           '{url}#row=' || CAST(rn + 1 AS VARCHAR), TRUE, NULL, NULL FROM ids
    UNION ALL SELECT row_node, '{csvw}describes', subj, TRUE, NULL, NULL FROM ids
    """


def q_csvw_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE (kg/query.describe — concise bounded description)
    of the standard-mode table node: the csvw envelope's blank-node
    structure (row bnodes + their rownum/type/url/describes) expands;
    named describes-targets are boundaries and stay out."""
    from rdf_tabular_spark.kg.query import describe

    g = q_csvw_triples_standard(spark, sf_dir)
    seed = g.filter(
        F.col("pred") == "http://www.w3.org/ns/csvw#row"
    ).select("subj").distinct()
    return describe(g, seed)


def sql_csvw_describe() -> str:
    csvw = "http://www.w3.org/ns/csvw#"
    # bnode-object closure to the TRUE fixpoint via WITH RECURSIVE (in a
    # subquery — DuckDB rejects an outer RECURSIVE list when a nested
    # subquery carries its own WITH), matching Spark describe()'s
    # iterate-to-convergence rather than a fixed unroll depth
    return f"""
    WITH g AS MATERIALIZED ({sql_csvw_triples_standard()}),
    s0 AS (SELECT DISTINCT subj FROM g WHERE pred = '{csvw}row'),
    closure AS (
      SELECT subj FROM (
        WITH RECURSIVE r(subj) AS (
          SELECT subj FROM s0
          UNION
          SELECT g.obj FROM g JOIN r ON g.subj = r.subj
          WHERE g.obj_is_iri AND substr(g.obj, 1, 2) = '_:'
        ) SELECT subj FROM r))
    SELECT DISTINCT g.* FROM g JOIN closure ON g.subj = closure.subj
    """


def q_csvw_turtle_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle serialization (operators/turtle.py): one prefix-compacted,
    sorted statement block per subject of the standard-mode graph — the
    deterministic-bytes form behind write_turtle's distributed sink."""
    from rdf_tabular_spark.operators.turtle import to_turtle_blocks

    return to_turtle_blocks(q_csvw_triples_standard(spark, sf_dir))


def _sql_ttl_iri(x: str) -> str:
    """CASE chain replaying turtle._iri_term: bnodes pass, known
    namespaces compact when the local name is PN_LOCAL-safe, else
    angle brackets. Generated from the SAME prefix table."""
    from rdf_tabular_spark.operators.turtle import (DEFAULT_PREFIXES,
                                                    _LOCAL_SAFE)

    whens = "".join(
        f"""
      WHEN starts_with({x}, '{ns}')
           AND regexp_matches(substr({x}, {len(ns) + 1}), '{_LOCAL_SAFE}')
      THEN '{name}:' || substr({x}, {len(ns) + 1})"""
        for name, ns in sorted(DEFAULT_PREFIXES.items(),
                               key=lambda kv: -len(kv[1])))
    return f"""CASE WHEN starts_with({x}, '_:') THEN {x}{whens}
      ELSE '<' || {x} || '>' END"""


def sql_csvw_turtle_blocks() -> str:
    esc = ("replace(replace(replace(replace(replace(obj,"
           " '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'),"
           " chr(13), '\\r'), chr(9), '\\t')")
    obj_term = f"""CASE WHEN obj_is_iri THEN {_sql_ttl_iri('obj')}
      WHEN obj_lang IS NOT NULL THEN '"' || {esc} || '"@' || obj_lang
      WHEN obj_datatype IS NOT NULL
        THEN '"' || {esc} || '"^^' || {_sql_ttl_iri('obj_datatype')}
      ELSE '"' || {esc} || '"' END"""
    return f"""
    WITH g AS MATERIALIZED ({sql_csvw_triples_standard()}),
    terms AS (
      SELECT subj,
             {_sql_ttl_iri('pred')} || ' ' || {obj_term} AS po
      FROM g)
    SELECT subj,
           {_sql_ttl_iri('subj')} || ' '
             || string_agg(po, ' ;' || chr(10) || '    ' ORDER BY po)
             || ' .' AS block
    FROM terms GROUP BY subj
    """


def q_csvw_datatype_byte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/C9/C11: integer-subtype bounds validation — out-of-range byte
    values degrade to plain literals with a populated error channel
    (metadata.rb:2082-2088)."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells

    meta = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": EX + "lineitem.csv",
        "tableSchema": {"columns": [{"name": "q", "datatype": "byte"}]},
    }
    table = parse_metadata(meta).tables[0]
    li = _t(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_quantity").cast("int") * 7).cast("string").alias("_c0"),
    ).withColumn("_row", F.lit(1)).withColumn("_sourceRow", F.lit(2))
    cells = build_cells(staged, table)
    item = F.element_at(F.col("cell_q"), 1)
    return cells.select(
        "l_orderkey", "l_linenumber",
        item["lex"].alias("lex"),
        item["dt"].alias("dt"),
        item["err"].isNotNull().alias("has_err"),
    )


def sql_csvw_datatype_byte() -> str:
    return f"""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_quantity AS INTEGER) * 7 AS VARCHAR) AS lex,
           CASE WHEN CAST(l_quantity AS INTEGER) * 7 BETWEEN -128 AND 127
                THEN '{XSD}byte' END AS dt,
           NOT (CAST(l_quantity AS INTEGER) * 7 BETWEEN -128 AND 127) AS has_err
    FROM lineitem
    """


def q_agg_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase salted aggregation for hot keys (north rule
    'salted aggregation for hot repos') — result identical to a plain
    GROUP BY, plan splits every key B ways before the final combine."""
    from rdf_tabular_spark.operators.dedup import salted_agg_count

    events = _t(spark, sf_dir, "events")
    return salted_agg_count(events, ["event_type"], salt_buckets=16)


def sql_agg_salted_counts() -> str:
    return "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1"


def q_csvw_uax35_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: UAX-35 date-pattern parse 'M/d/yyyy' → canonical xsd:date lexical
    (uax35.rb:52-181), via the real compiled cell pipeline."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells

    meta = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": EX + "orders.csv",
        "tableSchema": {"columns": [
            {"name": "d", "datatype": {"base": "date", "format": "M/d/yyyy"}},
        ]},
    }
    table = parse_metadata(meta).tables[0]
    orders = _t(spark, sf_dir, "orders")
    staged = orders.select(
        F.col("o_orderkey").alias("o_orderkey"),
        F.date_format("o_orderdate", "M/d/yyyy").alias("_c0"),
    ).withColumn("_row", F.lit(1)).withColumn("_sourceRow", F.lit(2))
    cells = build_cells(staged, table)
    return cells.select(
        "o_orderkey",
        F.element_at(F.col("cell_d"), 1)["lex"].alias("d_iso"),
        F.element_at(F.col("cell_d"), 1)["dt"].alias("d_datatype"),
    )


def sql_csvw_uax35_date() -> str:
    return f"""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d_iso,
           '{XSD}date' AS d_datatype
    FROM orders
    """


def q_csvw_uax35_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: UAX-35 number-pattern parse '#0%' (percent → /100 decimal shift,
    uax35.rb:193-253) via the compiled cell pipeline."""
    from rdf_tabular_spark.csvw.metadata import parse_metadata
    from rdf_tabular_spark.operators.cells import build_cells

    meta = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": EX + "lineitem.csv",
        "tableSchema": {"columns": [
            {"name": "p", "datatype": {"base": "decimal", "format": "#0%"}},
        ]},
    }
    table = parse_metadata(meta).tables[0]
    li = _t(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_orderkey", "l_linenumber",
        F.concat(F.round(F.col("l_discount") * 100).cast("int").cast("string"),
                 F.lit("%")).alias("_c0"),
    ).withColumn("_row", F.lit(1)).withColumn("_sourceRow", F.lit(2))
    cells = build_cells(staged, table)
    return cells.select(
        "l_orderkey", "l_linenumber",
        F.element_at(F.col("cell_p"), 1)["lex"].alias("pct_lex"),
    )


def sql_csvw_uax35_number() -> str:
    # the engine's percent shift moves the decimal point two places left,
    # digit-preserving: "7%" -> "0.07", "10%" -> "0.10", "0%" -> "0.00"
    return """
    WITH s AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(round(l_discount * 100) AS INTEGER) AS VARCHAR) AS d
      FROM lineitem)
    SELECT l_orderkey, l_linenumber,
      CASE
        WHEN length(d) <= 2 THEN '0.' || lpad(d, 2, '0')
        ELSE substr(d, 1, length(d) - 2) || '.' || substr(d, length(d) - 1)
      END AS pct_lex
    FROM s
    """


def q_csvw_pk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: PK duplicate detection as two-phase hash agg (reader.rb:652-660),
    on (o_custkey, o_orderdate) to produce actual violations."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey"), F.col("o_orderdate"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def sql_csvw_pk_violations() -> str:
    return """
    SELECT o_custkey, o_orderdate, COUNT(*) AS n
    FROM orders GROUP BY 1, 2 HAVING COUNT(*) > 1
    """


def q_csvw_fk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: FK integrity as a left-anti equi-join (reader.rb:695-708):
    events.user_id referencing customer.c_custkey. The referenced side is
    restricted to even custkeys so violations actually exist at sf0.01 —
    every user_id resolves against the full customer table and the oracle
    row would otherwise prove only empty == empty."""
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    lhs = events.select(F.col("user_id").alias("k0"))
    rhs = customer.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("k0")).distinct()
    return (
        lhs.join(rhs, on="k0", how="left_anti")
        .groupBy("k0").agg(F.count(F.lit(1)).alias("n_rows"))
    )


def sql_csvw_fk_violations() -> str:
    return """
    SELECT user_id AS k0, COUNT(*) AS n_rows
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = e.user_id AND c.c_custkey % 2 = 0)
    GROUP BY 1
    """


def q_csvw_dialect_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-S5 dialect scan in the driver contract (not just pytest): stage
    orders as 50 virtual 'files' of raw CSV-ish lines (first line a skipped
    title, '#' comments, blank rows, a skipColumns column, padded cells for
    trim), run the DISTRIBUTED many-file dialect filter
    (sources/csv_source.scan_lines_df) and return per-file renumbered,
    trimmed, split cells."""
    from rdf_tabular_spark.csvw.metadata import Dialect
    from rdf_tabular_spark.sources.csv_source import scan_lines_df

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("file_id").orderBy("o_orderkey")
    lines = (
        orders.withColumn("file_id", (F.col("o_orderkey") % 50).cast("long"))
        .withColumn("line_no", F.row_number().over(w).cast("long"))
        .withColumn(
            "text",
            F.when(F.col("line_no") == 1, F.lit("TITLE ROW (skipped)"))
            .when(F.col("o_orderkey") % 11 == 0,
                  F.concat(F.lit("# note "), F.col("o_orderkey")))
            .when(F.col("o_orderkey") % 13 == 0, F.lit("  "))
            .otherwise(F.concat(
                F.col("o_orderkey").cast("string"), F.lit(", "),
                F.col("o_orderstatus"), F.lit(" ,"),
                F.col("o_orderpriority"))))
        .select("file_id", "line_no", "text")
    )
    d = Dialect(skipRows=1, header=False, commentPrefix="#",
                skipBlankRows=True, skipColumns=1)
    return scan_lines_df(lines, d, n_cols=3).select(
        "file_id", "_sourceRow", "_row",
        F.col("_c0").alias("status"), F.col("_c1").alias("priority"))


def sql_csvw_dialect_scan() -> str:
    return """
    WITH lines AS (
      SELECT o_orderkey % 50 AS file_id,
             row_number() OVER (PARTITION BY o_orderkey % 50
                                ORDER BY o_orderkey) AS line_no,
             o_orderkey, o_orderstatus, o_orderpriority
      FROM orders),
    txt AS (
      SELECT file_id, line_no,
             CASE WHEN line_no = 1 THEN 'TITLE ROW (skipped)'
                  WHEN o_orderkey % 11 = 0 THEN '# note ' || o_orderkey
                  WHEN o_orderkey % 13 = 0 THEN '  '
                  ELSE o_orderkey || ', ' || o_orderstatus || ' ,'
                       || o_orderpriority
             END AS text
      FROM lines),
    data AS (
      SELECT file_id, line_no, text
      FROM txt
      WHERE line_no > 1 AND text NOT LIKE '#%' AND trim(text) <> ''),
    split AS (
      SELECT file_id, line_no AS _sourceRow,
             row_number() OVER (PARTITION BY file_id ORDER BY line_no)
               AS _row,
             string_split(text, ',') AS parts
      FROM data)
    SELECT file_id, _sourceRow, _row,
           trim(parts[2]) AS status, trim(parts[3]) AS priority
    FROM split
    """


_FRAME_FILES = 6
_FRAME_RECS = 400


def _frame_source_dir() -> str:
    """Stage 6 deterministic multiline CSV files (quoted cells embedding
    LF / CRLF / doubled quotes / delimiters; CRLF record terminators) for
    the distributed-framing oracle row. Content derives from the record
    index only — rebuildable bit-for-bit anywhere; no external data."""
    import os
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_frame_src_{_FRAME_FILES}x{_FRAME_RECS}")
    marker = os.path.join(d, "_STAGED")
    if os.path.exists(marker):
        return d
    tmp = f"{d}.{os.getpid()}.tmp"
    os.makedirs(tmp, exist_ok=True)
    for fno in range(_FRAME_FILES):
        with open(os.path.join(tmp, f"part-{fno}.csv"), "w",
                  newline="") as fh:
            for i in range(_FRAME_RECS):
                rid = fno * 100000 + i
                note = f"line1\nline2 {rid}"
                if rid % 3 == 0:
                    note += "\r\nmore"
                if rid % 5 == 0:
                    note += ' said "hi"'
                if rid % 7 == 0:
                    note += ", comma"
                quoted = note.replace('"', '""')
                fh.write(f'{rid},"{quoted}",tag{rid % 4}\r\n')
    with open(os.path.join(tmp, "_STAGED"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, d)
    except OSError:  # concurrent stager won
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return d


def q_csvw_multiline_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed record framing (sources/framing.py; VERDICT r3 item 5):
    each staged file frames across ~35 4 KiB chunks executor-side — a
    quote-parity prefix pass gives every chunk its starting in-quote
    state, interior records never shuffle, and only the 2-per-chunk
    boundary fragments stitch — then records parse JVM-side with
    from_csv. The DuckDB twin re-frames the SAME bytes with its own
    independent CSV reader: two framers, one answer. read_table routes
    multiline files through this same module (sources/csv_source.py),
    replacing the round-3 driver splitter / single-task JVM multiLine
    reader (reference: Ruby CSV sequential framing, metadata.rb:860-880)."""
    import os

    from rdf_tabular_spark.sources.framing import frame_records

    src = _frame_source_dir()
    parts = []
    for fno in range(_FRAME_FILES):
        recs = frame_records(
            spark, os.path.join(src, f"part-{fno}.csv"),
            ["\r\n", "\n"], '"', "utf-8", chunk_bytes=4096)
        parts.append(recs.withColumn("file_id", F.lit(fno).cast("long")))
    allrecs = parts[0]
    for p in parts[1:]:
        allrecs = allrecs.unionByName(p)
    opts = {"sep": ",", "quote": '"', "escape": '"', "mode": "PERMISSIVE"}
    r = F.from_csv(F.col("value"),
                   "id bigint, note string, tag string", opts)
    return allrecs.select(
        "file_id", F.col("_sourceRow").alias("rec_no"),
        r.getField("id").alias("id"), r.getField("note").alias("note"),
        r.getField("tag").alias("tag"))


def sql_csvw_multiline_frame() -> str:
    src = _frame_source_dir()
    return f"""
    SELECT regexp_extract(filename, 'part-(\\d+)', 1)::BIGINT AS file_id,
           row_number() OVER (PARTITION BY filename ORDER BY id) AS rec_no,
           id, note, tag
    FROM read_csv('{src}/*.csv',
                  columns={{'id': 'BIGINT', 'note': 'VARCHAR',
                            'tag': 'VARCHAR'}},
                  header=false, quote='"', escape='"', filename=true)
    """


def q_csvw_list_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: separator list split + per-item handling → one triple per item
    (metadata.rb:2073-2089 / reader.rb:327-329 multi-value emission)."""
    orders = _t(spark, sf_dir, "orders")
    packed = orders.select(
        "o_orderkey",
        F.concat_ws(";", "o_orderstatus", "o_orderpriority").alias("raw"))
    items = F.transform(F.split(F.col("raw"), ";"), lambda x: F.trim(x))
    return (
        packed.select("o_orderkey", F.posexplode(items).alias("pos", "item"))
        .withColumn("pos", F.col("pos").cast("int"))
    )


def sql_csvw_list_split() -> str:
    return """
    WITH p AS (
      SELECT o_orderkey,
             string_split(o_orderstatus || ';' || o_orderpriority, ';') AS parts
      FROM orders)
    SELECT o_orderkey,
           CAST(unnest(generate_series(1, len(parts))) - 1 AS INTEGER) AS pos,
           trim(unnest(parts)) AS item
    FROM p
    """


def q_csvw_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16: deterministic row numbering — per-user event sequence (per-file
    numbering analog; window within partition, never global)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id", "event_id",
        F.row_number().over(w).alias("rownum"))


def sql_csvw_row_numbers() -> str:
    return """
    SELECT user_id, event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rownum
    FROM events
    """


def q_csvw_json_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-subject row assembly (reader.rb:528-610) — group cell values
    by subject into one deterministic property=value serialization."""
    nation = _t(spark, sf_dir, "nation")
    props = F.array(
        F.concat(F.lit("n_name="), F.col("n_name")),
        F.concat(F.lit("n_regionkey="), F.col("n_regionkey").cast("string")),
    )
    return (
        nation.select(
            F.concat(F.lit(EX + "nation/"), F.col("n_nationkey")).alias("subj"),
            F.explode(props).alias("pv"))
        .groupBy("subj")
        .agg(F.concat_ws("|", F.array_sort(F.collect_list("pv"))).alias("row_obj"))
    )


def sql_csvw_json_rows() -> str:
    return f"""
    WITH pv AS (
      SELECT '{EX}nation/' || n_nationkey AS subj,
             unnest(['n_name=' || n_name,
                     'n_regionkey=' || n_regionkey]) AS pv
      FROM nation)
    SELECT subj, string_agg(pv, '|' ORDER BY pv) AS row_obj
    FROM pv GROUP BY subj
    """


# ---------------------------------------------------------------------------
# Training-data operators: dedup / text / similarity over documents+embeddings
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a 30-char normalized-prefix fingerprint: sf0.01 has no
    full-text duplicates, so the full-fingerprint query proved only
    empty == empty; the prefix variant yields ~23 real dup groups."""
    from rdf_tabular_spark.ops.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"), prefix_chars=30)


def sql_dedup_exact() -> str:
    return """
    WITH fp AS (
      SELECT doc_id,
             md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        1, 30)) AS fp
      FROM documents)
    SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keep_id
    FROM fp GROUP BY fp HAVING COUNT(*) > 1
    """


_SHINGLE_SQL = """
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+{km1}], ' ')
                            for i in generate_series(1, greatest(len(t) - {km1}, 1))]) AS s
      FROM toks)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_tabular_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5, k=3)


def sql_dedup_ngram_jaccard() -> str:
    return _SHINGLE_SQL.format(km1=2) + """
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(a.s || b.s)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(a.s || b.s)) >= 0.5
    """


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (the scale path). Spark murmur hash has no DuckDB
    twin → rows-only check; exactness is covered by q_dedup_ngram_jaccard."""
    from rdf_tabular_spark.ops.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5, k=3)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, Hamming radius 3 — the standard near-dup radius
    for 64-bit fingerprints (Manku/Jain/Das Sarma, WWW'07) and complete at
    that radius with 4-chunk pigeonhole blocking (xxhash64 → rows-only)."""
    from rdf_tabular_spark.ops.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash MinHash-LSH: md5 signatures/band keys, so the LSH path
    itself is oracle-checked (q_dedup_minhash_lsh keeps the murmur3
    production default as a rows-only row)."""
    from rdf_tabular_spark.ops.dedup import minhash_lsh_pairs_md5

    return minhash_lsh_pairs_md5(_t(spark, sf_dir, "documents"),
                                 threshold=0.5, k=3)


def sql_dedup_minhash_md5() -> str:
    n_bands, rows_per_band = 8, 2
    sigs = ", ".join(
        f"list_min(list_transform(s, t -> md5(t || '|{seed}')))"
        for seed in range(n_bands * rows_per_band))
    keys = ", ".join(
        "md5('{b}' || '|' || sig[{i}] || '|' || sig[{j}])".format(
            b=b, i=b * rows_per_band + 1, j=b * rows_per_band + 2)
        for b in range(n_bands))
    return _SHINGLE_SQL.format(km1=2) + f""",
    sig AS (SELECT doc_id, s, [{sigs}] AS sig FROM sh),
    keys AS (SELECT doc_id, unnest([{keys}]) AS key FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM keys a JOIN keys b ON a.key = b.key AND a.doc_id < b.doc_id)
    SELECT p.a, p.b,
           round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                 / len(list_distinct(x.s || y.s)), 6) AS jaccard
    FROM pairs p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b
    WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
          / len(list_distinct(x.s || y.s)) >= 0.5
    """


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of the 8x2 MinHash banding against the EXACT
    PPJoin pair set at the same (threshold, k) — the dedup-family analog
    of similarity_recall (VERDICT r2 item 5): nothing previously measured
    how many true near-dup pairs the banding misses. Both pair sets and
    the intersection are recomputed by the twin, so the recall NUMBER is
    cross-engine-verified."""
    from rdf_tabular_spark.ops.dedup import (
        minhash_lsh_pairs_md5, ngram_jaccard_pairs)

    docs = _t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.5, k=3).select("a", "b")
    lsh = minhash_lsh_pairs_md5(docs, threshold=0.5, k=3).select("a", "b")
    hits = exact.join(lsh.withColumn("_hit", F.lit(1)), ["a", "b"], "left")
    e_stats = hits.agg(
        F.count("*").alias("n_exact"),
        F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"))
    l_stats = lsh.agg(F.count("*").alias("n_lsh"))
    return e_stats.crossJoin(l_stats).select(
        "n_exact", "n_lsh", "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"))


def sql_dedup_lsh_recall() -> str:
    return f"""
    WITH e AS MATERIALIZED (SELECT a, b FROM ({sql_dedup_ngram_jaccard()})),
    l AS MATERIALIZED (SELECT a, b FROM ({sql_dedup_minhash_md5()}))
    SELECT (SELECT count(*) FROM e) AS n_exact,
           (SELECT count(*) FROM l) AS n_lsh,
           (SELECT count(*) FROM e JOIN l USING (a, b)) AS n_hit,
           round(CAST((SELECT count(*) FROM e JOIN l USING (a, b)) AS DOUBLE)
                 / (SELECT count(*) FROM e), 6) AS recall
    """


def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash SimHash (60-bit, md5-derived token hashes) at the
    standard Hamming radius 3, pigeonhole-complete — the oracle row for
    the SimHash family."""
    from rdf_tabular_spark.ops.dedup import simhash_md5_near_pairs

    return simhash_md5_near_pairs(_t(spark, sf_dir, "documents"),
                                  max_hamming=3)


def sql_dedup_simhash_md5() -> str:
    from rdf_tabular_spark.ops.dedup import SIMHASH_MD5_BITS, simhash_chunks

    chunk_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS chunk, "
        f"(simhash >> {s}) & {(1 << w) - 1} AS v FROM sim"
        for i, (s, w) in enumerate(simhash_chunks(SIMHASH_MD5_BITS, 3)))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS t
      FROM documents),
    th AS (
      SELECT doc_id,
             list_transform(t, s ->
               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS h
      FROM toks),
    tk AS (SELECT doc_id, unnest(h) AS v, len(h) AS n FROM th),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN 2 * sum((v >> b) & 1) > max(n)
                  THEN (1::BIGINT << b) ELSE 0 END AS bitv
      FROM tk, range(0, 60) r(b)
      GROUP BY doc_id, b),
    sim AS (
      SELECT t.doc_id, coalesce(s.simhash, 0) AS simhash
      FROM th t LEFT JOIN (
        SELECT doc_id, CAST(sum(bitv) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id) s USING (doc_id)),
    ch AS (
      {chunk_rows}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
             a.simhash AS ha, b.simhash AS hb
      FROM ch a JOIN ch b
        ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id)
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
    """


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_tabular_spark.ops.dedup import embedding_near_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return embedding_near_pairs(emb, threshold=0.2, block_col="label")


def sql_dedup_embedding() -> str:
    return """
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    p AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             list_sum(list_transform(generate_series(1, len(a.v)),
                                     i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cosine
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT a, b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.2
    """


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_tabular_spark.ops.text import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_ish"),
    )


def sql_text_token_counts() -> str:
    # COALESCE(text, ''): NULL text = empty document, the convention the
    # Spark text ops pin (review r2)
    return """
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(COALESCE(text, '')),
                                '\\s+'), t -> t <> '')) AS n_tokens,
           len(regexp_extract_all(lower(COALESCE(text, '')), '([a-z]{1,6}|\\d{1,3}|[^a-z\\d\\s])', 1)) AS n_bpe_ish
    FROM documents
    """


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_tabular_spark.ops.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "n_chars_m", "n_tokens", "punct_ratio", "stopword_ratio",
        "mean_word_len", "quality")


def sql_text_quality() -> str:
    # d0: NULL text = empty document (same convention as the Spark ops)
    return f"""
    WITH d0 AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    f AS (
      SELECT doc_id, length(text) AS n_chars_m,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             t -> t <> '')) AS n_tokens,
             round(CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1), 6) AS punct_ratio,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             t -> lower(t) IN {STOPLIST_SQL})) AS stop_hits,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_nospace
      FROM d0),
    q AS (
      SELECT doc_id, n_chars_m, n_tokens,
             punct_ratio,
             round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio,
             round(CASE WHEN n_tokens > 0
                        THEN CAST(n_nospace AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS mean_word_len
      FROM f)
    SELECT doc_id, n_chars_m, n_tokens, punct_ratio, stopword_ratio, mean_word_len,
           round(((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.2 END)
                  + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.5 END)
                  + (CASE WHEN mean_word_len BETWEEN 2 AND 12 THEN 1.0 ELSE 0.3 END))
                 / 3.0, 6) AS quality
    FROM q
    """


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_tabular_spark.ops.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang_pred")


def sql_text_langid() -> str:
    from rdf_tabular_spark.ops.text import LANG_MARKERS

    hit_rows = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        inlist = ",".join(f"'{m}'" for m in markers)
        hit_rows.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(toks, t -> t IN ({inlist}))) AS hits FROM toks_t")
    union = " UNION ALL ".join(hit_rows)
    return f"""
    WITH toks_t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents),
    hits AS ({union}),
    best AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
      FROM hits)
    SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
    FROM best WHERE rn = 1
    """


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_tabular_spark.ops.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fp_exact", "fp_min_shingle")


def sql_text_fingerprint() -> str:
    return """
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
      FROM documents),
    toks AS (SELECT doc_id, n, string_split(n, ' ') AS t FROM norm)
    SELECT doc_id, md5(n) AS fp_exact,
           list_min([md5(array_to_string(t[i:i+3], ' '))
                     for i in generate_series(1, greatest(len(t) - 3, 1))]) AS fp_min_shingle
    FROM toks
    """


def q_split_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional sampling (ops/split.weighted_sample): keep
    probability = 0.8 x the composite quality score, md5-deterministic
    per doc — the data-mixing primitive (high-quality at ~full rate,
    low-quality downweighted), monotone in scale."""
    from rdf_tabular_spark.ops.split import weighted_sample
    from rdf_tabular_spark.ops.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "lang", "quality")
    return weighted_sample(scored, "quality", scale=0.8)


def q_split_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (ops/split.source_quota_sample): at most 12
    docs per source, md5-deterministic ranking — the per-domain cap of a
    pretraining mix. One shuffle keyed by source; Spark rewrites the
    rank<=k filter to WindowGroupLimit (map-side top-k heap), so a hot
    domain never materializes on one reducer."""
    from rdf_tabular_spark.ops.split import source_quota_sample

    docs = _t(spark, sf_dir, "documents")
    return source_quota_sample(docs, 12).select("doc_id", "source")


def sql_split_source_quota() -> str:
    return """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(COALESCE(CAST(doc_id AS VARCHAR), '__null__')
                            || '|quota'), doc_id) AS rk
      FROM documents)
    WHERE rk <= 12
    """


def q_split_rebalance_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mix rebalance (ops/split.rebalance_mix): downsample three
    sources toward 60/30/10 — per-source keep-prob f*T/n with
    T = min(n/f), md5-deterministic keeps, map-only after one
    #sources-row count agg (no corpus re-shuffle)."""
    from rdf_tabular_spark.ops.split import rebalance_mix

    docs = _t(spark, sf_dir, "documents")
    return rebalance_mix(
        docs, {"src0": 0.6, "src1": 0.3, "src2": 0.1}
    ).select("doc_id", "source")


def sql_split_rebalance_mix() -> str:
    return """
    WITH fr(source, f) AS (VALUES ('src0', 0.6), ('src1', 0.3), ('src2', 0.1)),
    c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    t AS (SELECT MIN(c.n / fr.f) AS t FROM c JOIN fr USING (source)),
    cut AS (
      SELECT c.source,
             CAST(floor(least(1.0, fr.f * t.t / c.n) * 10000) AS BIGINT) AS cut
      FROM c JOIN fr USING (source), t)
    SELECT d.doc_id, d.source
    FROM documents d JOIN cut ON d.source = cut.source
    WHERE CAST(('0x' || substr(md5(COALESCE(CAST(d.doc_id AS VARCHAR),
                                            '__null__') || '|mix'),
                               1, 8)) AS BIGINT) % 10000 < cut.cut
    """


def q_split_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (ops/split.temperature_mix,
    alpha=0.3 — the XLM-R/mT5 multilingual sampling shape): head
    languages downsample toward n^alpha shares, the scarcest keeps 100%;
    md5 row-key cuts, map-only."""
    from rdf_tabular_spark.ops.split import temperature_mix

    return temperature_mix(
        _t(spark, sf_dir, "documents"), alpha=0.3
    ).select("doc_id", "lang")


def sql_split_temperature_mix(alpha: float = 0.3) -> str:
    return f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
               WHERE lang IS NOT NULL GROUP BY lang),
    w AS (SELECT lang, n, power(n, {alpha}) AS wgt FROM c),
    -- fixed summation order (ORDER BY lang) to match the engine's
    -- sorted-order z: float addition is not associative
    z AS (SELECT SUM(wgt ORDER BY lang) AS z FROM w),
    f AS (SELECT lang, n, wgt / z.z AS f FROM w, z),
    -- limiting group = argmin of n/f, ties on lang; its keep
    -- probability is exactly 1.0 (same rule as ops/split.py)
    lim AS (SELECT lang, n / f AS t FROM f ORDER BY n / f ASC, lang ASC
            LIMIT 1),
    cut AS (
      SELECT f.lang,
             CAST(CASE WHEN f.lang = lim.lang THEN 10000
                  ELSE floor(least(1.0, f.f * lim.t / f.n) * 10000)
                  END AS BIGINT) AS cut
      FROM f, lim)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN cut ON d.lang = cut.lang
    WHERE CAST(('0x' || substr(md5(COALESCE(CAST(d.doc_id AS VARCHAR),
                                            '__null__') || '|temp'),
                               1, 8)) AS BIGINT) % 10000 < cut.cut
    """


def sql_split_weighted_sample() -> str:
    return f"""
    WITH q AS MATERIALIZED ({sql_text_quality()})
    SELECT doc_id, lang, quality FROM (
      SELECT q.doc_id, d.lang, q.quality,
             CAST(('0x' || substr(md5(COALESCE(CAST(q.doc_id AS VARCHAR),
                                               '__null__') || '|wsample'),
                                  1, 8)) AS BIGINT) % 10000 AS b
      FROM q JOIN documents d ON q.doc_id = d.doc_id)
    WHERE b < least(round(quality * 0.8 * 10000), 10000)
    """


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation: quality filter -> exact near-dup election
    (prefix fingerprint, min-id canonical) -> leakage-safe split keyed on
    the dup cluster -> sequence packing of the surviving train docs.
    Every stage is one of the contract's individually-verified ops; this
    row proves they COMPOSE — the twin replicates the whole pipeline in
    SQL and must stay hash-exact end-to-end."""
    from pyspark.sql import Window

    from rdf_tabular_spark.ops.dedup import prefix_fingerprint
    from rdf_tabular_spark.ops.pack import pack_offsets
    from rdf_tabular_spark.ops.split import hash_split
    from rdf_tabular_spark.ops.text import quality_filter

    docs = _t(spark, sf_dir, "documents")
    kept = quality_filter(docs, min_stopword_ratio=0.05,
                          max_top_word_frac=0.12, max_dup_2gram_frac=0.2) \
        .filter("keep").select("doc_id", "text")
    fp = kept.withColumn(
        "fp", prefix_fingerprint(F.col("text"), 30))
    clustered = fp.withColumn(
        "cluster_id", F.min("doc_id").over(Window.partitionBy("fp")))
    surv = clustered.filter(F.col("doc_id") == F.col("cluster_id"))
    train = hash_split(surv, key_col="cluster_id").filter(
        F.col("split") == "train")
    return pack_offsets(train.select("doc_id", "text"),
                        max_tokens=256, n_shards=8)


def sql_curation_pipeline() -> str:
    return rf"""
    WITH tqf AS MATERIALIZED ({sql_text_quality_filter()}),
    kept AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN tqf ON d.doc_id = tqf.doc_id WHERE tqf.keep),
    fp AS (
      SELECT doc_id, text,
             md5(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                        1, 30)) AS fp
      FROM kept),
    cl AS (
      SELECT doc_id, text,
             min(doc_id) OVER (PARTITION BY fp) AS cluster_id
      FROM fp),
    surv AS (SELECT doc_id, text, cluster_id FROM cl
             WHERE doc_id = cluster_id),
    train AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               CAST(('0x' || substr(md5(COALESCE(CAST(cluster_id AS VARCHAR),
                                                 '__null__') || '|split'),
                                    1, 8)) AS BIGINT) % 10000 AS b
        FROM surv)
      WHERE b < 9000),
    s AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                                    '__null__')), 1, 8))
                       AS BIGINT) % 8 AS INT) AS shard,
             CAST(len(list_filter(
                    regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
                    t -> t <> '')) AS BIGINT) AS n_tokens
      FROM train),
    c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - n_tokens AS start
      FROM s)
    SELECT doc_id, shard, n_tokens,
           CAST(start // 256 AS BIGINT) AS bin_id,
           CAST(start % 256 AS BIGINT) AS bin_offset
    FROM c
    """


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary table (ops/vocab.py): token -> term/doc frequency,
    min_count=2 so the long unique tail stays out of the compared set."""
    from rdf_tabular_spark.ops.vocab import vocab_counts

    docs = _t(spark, sf_dir, "documents")
    return vocab_counts(docs, min_count=2)


def sql_text_vocab() -> str:
    return """
    WITH dt AS (
      SELECT doc_id, t.token
      FROM (
        SELECT doc_id,
               unnest(string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                 ' ')) AS token
        FROM documents) t
      WHERE t.token <> ''),
    tf AS (SELECT token, COUNT(*) AS term_freq FROM dt GROUP BY token),
    df AS (SELECT token, COUNT(*) AS doc_freq
           FROM (SELECT DISTINCT doc_id, token FROM dt) GROUP BY token)
    SELECT tf.token, term_freq, doc_freq
    FROM tf JOIN df ON tf.token = df.token
    WHERE term_freq >= 2
    """


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tokens per document by smoothed TF-IDF, ranked on the 6-dp
    rounded score with an engine-portable integer tiebreak
    (ops/vocab.py tfidf_topk)."""
    from rdf_tabular_spark.ops.vocab import tfidf_topk

    docs = _t(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=3)


def sql_text_tfidf() -> str:
    return """
    WITH dt AS (
      SELECT doc_id, t.token
      FROM (
        SELECT doc_id,
               unnest(string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                 ' ')) AS token
        FROM documents) t
      WHERE t.token <> ''),
    nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
           FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf
           FROM dt GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, token FROM dt) GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             round(tf.tf * (ln(((SELECT n FROM nn) + 1) / (df.df + 1)) + 1),
                   6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * (ln(((SELECT n FROM nn) + 1)
                                          / (df.df + 1)) + 1), 6) DESC,
                        tf.tf DESC, df.df ASC, tf.token ASC) AS rank
      FROM tf JOIN df ON tf.token = df.token)
    SELECT doc_id, rank, token, tf, df, tfidf
    FROM scored WHERE rank <= 3
    """


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (ops/split.py hash_split):
    md5-bucket of the row key — map-only, partition-layout-invariant."""
    from rdf_tabular_spark.ops.split import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs).select("doc_id", "split")


def sql_split_assign() -> str:
    return """
    SELECT doc_id,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                              '__null__') || '|split'),
                                  1, 8)) AS BIGINT) % 10000 AS b
      FROM documents)
    """


def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsample (ops/split.py
    stratified_sample): keep 30 % of 'en', 10 % of everything else;
    nested by construction (raising a fraction only adds rows)."""
    from rdf_tabular_spark.ops.split import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, {"en": 0.30}, "lang", default_fraction=0.10
    ).select("doc_id", "lang")


def sql_split_stratified() -> str:
    return """
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                               '__null__') || '|sample'),
                                  1, 8)) AS BIGINT) % 10000 AS b
      FROM documents)
    WHERE b < CASE WHEN lang = 'en' THEN 3000 ELSE 1000 END
    """


def _pii_enriched(doc_id, text):
    """Deterministic PII injection into doc_id % 7 == 0 docs — the synthetic
    documents contain no PII-shaped tokens, so without this the query would
    prove only empty == empty (the round-1 vacuous-oracle lesson)."""
    return F.when(
        doc_id % 7 == 0,
        F.concat(
            text, F.lit(" contact user"), doc_id.cast("string"),
            F.lit("@example.com at 10.0."),
            (doc_id % 256).cast("string"),
            F.lit(".7 or +1-555-0147")),
    ).otherwise(text)


_PII_ENRICH_SQL = (
    "CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@example.com at 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7 or +1-555-0147' ELSE text END")


def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate vs the corpus top-10 vocabulary (ops/vocab
    oov_rate): tokenizer-coverage planning. k=10 of the ~31 distinct
    sf tokens so real OOV mass exists (k=100 would cover everything and
    prove only zeros). Top-K boundary deterministic on
    (term_freq DESC, token); TakeOrderedAndProject, broadcast join."""
    from rdf_tabular_spark.ops.vocab import oov_rate

    docs = _t(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_k=10)


def sql_text_oov_rate(k: int = 10) -> str:
    return r"""
    WITH dt AS (
      SELECT doc_id, t.token
      FROM (
        SELECT doc_id,
               unnest(string_split(
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                 ' ')) AS token
        FROM documents) t
      WHERE t.token <> ''),
    tf AS (SELECT token, COUNT(*) AS term_freq FROM dt GROUP BY token),
    topk AS (
      SELECT token FROM tf ORDER BY term_freq DESC, token LIMIT <<K>>),
    j AS (
      SELECT dt.doc_id,
             CASE WHEN topk.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM dt LEFT JOIN topk ON dt.token = topk.token),
    per AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(oov) AS BIGINT) AS n_oov
      FROM j GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(per.n_tokens, 0) AS n_tokens,
           COALESCE(per.n_oov, 0) AS n_oov,
           CASE WHEN per.n_tokens > 0
                THEN round(per.n_oov / CAST(per.n_tokens AS DOUBLE), 6)
           END AS oov_rate
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per ON d.doc_id = per.doc_id
    """.replace("<<K>>", str(k))


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character entropy (ops/text.char_entropy): map-only
    sorted-run fold with integer micro-nat accumulation — the twin
    recomputes it via explode+group (the formulation the op avoids
    shuffling at scale) and must land on the same 6-dp values."""
    from rdf_tabular_spark.ops.text import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs).select("doc_id", "n_chars_e", "char_entropy")


def sql_text_char_entropy() -> str:
    return """
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c
      FROM documents WHERE length(COALESCE(text, '')) > 0),
    cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
    agg AS (
      SELECT doc_id,
             sum(k * CAST(round(ln(k) * 1e6) AS BIGINT)) AS qsum,
             sum(k) AS n
      FROM cnt GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_chars_e,
           round(ln(a.n) - a.qsum / a.n / 1e6, 6) AS char_entropy
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails/IPv4/phones counted + redacted) over documents
    with deterministic PII injected into a subset in both engines."""
    from rdf_tabular_spark.ops.pii import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _pii_enriched(F.col("doc_id"), F.col("text")).alias("text"))
    return pii_scrub(docs).select(
        "doc_id", "n_emails", "n_ipv4", "n_phones",
        F.md5("redacted").alias("redacted_fp"))


def sql_text_pii() -> str:
    from rdf_tabular_spark.ops.pii import PII_RULES

    stages, prev = [], "e"
    carried = []
    for i, (kind, pattern, placeholder) in enumerate(PII_RULES):
        pat = pattern.replace("'", "''")
        cols = ", ".join(carried)
        cols = cols + ", " if cols else ""
        stages.append(
            f"s{i} AS (SELECT doc_id, {cols}"
            f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{kind}, "
            f"regexp_replace(t, '{pat}', '{placeholder}', 'g') AS t "
            f"FROM {prev})")
        carried.append(f"n_{kind}")
        prev = f"s{i}"
    stage_sql = ",\n    ".join(stages)
    return f"""
    WITH e AS (SELECT doc_id, {_PII_ENRICH_SQL} AS t FROM documents),
    {stage_sql}
    SELECT doc_id, {', '.join(carried)}, md5(t) AS redacted_fp FROM {prev}
    """


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test n-gram decontamination: the eval set is the deterministic
    doc_id % 37 == 0 slice of the corpus, so flagged docs are the eval docs
    themselves plus any near-copies sharing an 8-gram."""
    from rdf_tabular_spark.ops.decon import contaminated_docs

    docs = _t(spark, sf_dir, "documents")
    test = docs.filter(F.col("doc_id") % 37 == 0)
    return contaminated_docs(docs, test, n=8)


def q_decon_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination (ops/decon.fuzzy_decon_pairs, engine="md5"):
    MinHash-banded train x eval candidate join (eval side broadcast),
    exact-Jaccard verified — catches lightly-edited test copies the
    8-gram pass misses. md5 end-to-end so the DuckDB twin reproduces
    the rows bit-for-bit; production uses engine="fast" (murmur3),
    pinned equal by tests."""
    from rdf_tabular_spark.ops.decon import fuzzy_decon_pairs

    docs = _t(spark, sf_dir, "documents")
    test = docs.filter(F.col("doc_id") % 37 == 0)
    return fuzzy_decon_pairs(docs, test, threshold=0.5, engine="md5")


def sql_decon_fuzzy() -> str:
    n_bands, rows_per_band = 8, 2
    sigs = ", ".join(
        f"list_min(list_transform(s, t -> md5(t || '|{seed}')))"
        for seed in range(n_bands * rows_per_band))
    keys = ", ".join(
        "md5('{b}' || '|' || sig[{i}] || '|' || sig[{j}])".format(
            b=b, i=b * rows_per_band + 1, j=b * rows_per_band + 2)
        for b in range(n_bands))
    return _SHINGLE_SQL.format(km1=2) + f""",
    sig AS (SELECT doc_id, s, [{sigs}] AS sig FROM sh),
    keys AS (SELECT doc_id, unnest([{keys}]) AS key FROM sig),
    pairs AS (
      SELECT DISTINCT tr.doc_id AS train_id, te.doc_id AS test_id
      FROM keys tr JOIN keys te ON tr.key = te.key
      WHERE te.doc_id % 37 = 0)
    SELECT p.train_id, p.test_id,
           round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                 / len(list_distinct(x.s || y.s)), 6) AS jaccard
    FROM pairs p JOIN sh x ON x.doc_id = p.train_id
                 JOIN sh y ON y.doc_id = p.test_id
    WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
          / len(list_distinct(x.s || y.s)) >= 0.5
    """


def sql_decontaminate() -> str:
    return """
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest([md5(array_to_string(t[i:i+7], ' '))
                     for i in generate_series(1, len(t) - 7)]) AS gram
      FROM toks),
    testg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0)
    SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_test_ngrams
    FROM grams g JOIN testg USING (gram)
    GROUP BY g.doc_id
    """


def q_range_point_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via bucket banding
    (ops/rangejoin.py): every event inside a purchase's 30-minute
    attribution window — equi-join on the hour bucket + exact BETWEEN,
    never a nested-loop plan."""
    from rdf_tabular_spark.ops.rangejoin import point_in_interval_join

    events = _t(spark, sf_dir, "events")
    pts = events.select(F.col("event_id").alias("pid"),
                        F.col("ts").alias("t"))
    iv = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("iid"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"))
    out = point_in_interval_join(pts, iv, "t", "lo", "hi",
                                 bucket_width=3600)
    return out.select("pid", "iid")


def sql_range_point_join() -> str:
    return """
    WITH iv AS (
      SELECT event_id AS iid, ts AS lo, ts + INTERVAL 30 MINUTE AS hi
      FROM events WHERE event_type = 'purchase')
    SELECT e.event_id AS pid, iv.iid
    FROM events e JOIN iv ON e.ts >= iv.lo AND e.ts <= iv.hi
    """


def q_range_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap range join (ops/rangejoin.py): purchase windows
    vs signup windows that overlap in time — each pair emitted exactly
    once by the bucket owning the overlap's left edge (no dedup pass)."""
    from rdf_tabular_spark.ops.rangejoin import interval_overlap_join

    events = _t(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("aid"), F.col("ts").alias("alo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ahi"))
    b = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("bid"), F.col("ts").alias("blo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("bhi"))
    return interval_overlap_join(
        a, b, "alo", "ahi", "blo", "bhi", bucket_width=3600
    ).select("aid", "bid")


def sql_range_overlap_join() -> str:
    return """
    WITH a AS (SELECT event_id AS aid, ts AS alo,
                      ts + INTERVAL 30 MINUTE AS ahi
               FROM events WHERE event_type = 'purchase'),
    b AS (SELECT event_id AS bid, ts AS blo,
                 ts + INTERVAL 30 MINUTE AS bhi
          FROM events WHERE event_type = 'signup')
    SELECT a.aid, b.bid
    FROM a JOIN b ON a.alo <= b.bhi AND b.blo <= a.ahi
    """


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP dataset-card stats (ops/text.corpus_rollup): per
    (source, lang), per source, and grand total in one Expand+agg."""
    from rdf_tabular_spark.ops.text import corpus_rollup

    return corpus_rollup(_t(spark, sf_dir, "documents"))


def sql_corpus_rollup() -> str:
    return r"""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(list_filter(
                 regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
                 t -> t <> '')) AS BIGINT)) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY ROLLUP (source, lang)
    """


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced shard assignment (ops/pack.assign_shards): serpentine
    striping in descending-token order; global rank composed from
    value-banded cells so no single-partition window touches the
    corpus."""
    from rdf_tabular_spark.ops.pack import assign_shards

    return assign_shards(_t(spark, sf_dir, "documents"), n_shards=16)


def sql_pack_shards() -> str:
    return r"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_filter(
                    regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
                    t -> t <> '')) AS BIGINT) AS n_tokens,
             CAST(CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                                    '__null__')
                                           || '|shard_rank'), 1, 8))
                       AS BIGINT) % 16 AS INT) AS sub
      FROM documents),
    r AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, sub ASC, doc_id ASC)
               - 1 AS global_rank
      FROM s)
    SELECT doc_id, n_tokens, global_rank,
           CAST(CASE WHEN (global_rank // 16) % 2 = 0 THEN global_rank % 16
                     ELSE 15 - (global_rank % 16) END AS INT) AS shard
    FROM r
    """


def q_pack_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard balance report (ops/pack.shard_stats) over the
    assignment — the totals a pipeline asserts on before writing."""
    from rdf_tabular_spark.ops.pack import assign_shards, shard_stats

    return shard_stats(assign_shards(_t(spark, sf_dir, "documents"),
                                     n_shards=16))


def sql_pack_shard_stats() -> str:
    return f"""
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM ({sql_pack_shards()})
    GROUP BY shard
    """


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-unigram importance scores vs the lang='en' target
    subset (ops/importance.py: bounded bucket table broadcast back,
    integer micro-nat sums — layout-invariant)."""
    from rdf_tabular_spark.ops.importance import importance_weights

    return importance_weights(
        _t(spark, sf_dir, "documents"), "lang = 'en'", buckets=4096)


def _sql_importance_weights_body() -> str:
    return r"""
    d0 AS (SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(
                    trim(regexp_replace(lower(COALESCE(text, '')),
                                        '\s+', ' ', 'g')), ' '),
                    t -> t <> '') AS toks
           FROM documents),
    tok AS (SELECT doc_id, lang = 'en' AS is_t, unnest(toks) AS tok FROM d0),
    bt AS (SELECT CAST(('0x' || substr(md5(tok || '|dsir'), 1, 8))
                       AS BIGINT) % 4096 AS bucket,
                  COUNT(*) AS n_raw,
                  SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_target
           FROM tok GROUP BY 1),
    tot AS (SELECT SUM(n_raw) AS tr, SUM(n_target) AS tt FROM bt),
    lr AS (SELECT bucket,
                  CAST(round((ln((n_target + 1) / (tot.tt + 4096.0))
                              - ln((n_raw + 1) / (tot.tr + 4096.0))) * 1e6)
                       AS BIGINT) AS q
           FROM bt, tot),
    per_doc AS (
      SELECT t.doc_id, CAST(SUM(lr.q) AS BIGINT) AS score
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5(tok || '|dsir'), 1, 8))
                        AS BIGINT) % 4096 AS bucket
            FROM tok) t
      JOIN lr ON t.bucket = lr.bucket
      GROUP BY t.doc_id),
    w AS (
      SELECT d0.doc_id,
             CAST(len(d0.toks) AS BIGINT) AS n_tokens,
             CAST(COALESCE(per_doc.score, 0) AS BIGINT)
               AS logratio_micronats,
             CASE WHEN len(d0.toks) > 0
                  THEN round(COALESCE(per_doc.score, 0)
                             / len(d0.toks) / 1e6, 6)
                  ELSE 0.0 END AS per_token_logratio
      FROM d0 LEFT JOIN per_doc ON d0.doc_id = per_doc.doc_id)
    """


def sql_importance_weights() -> str:
    return f"""
    WITH {_sql_importance_weights_body()}
    SELECT doc_id, n_tokens, logratio_micronats, per_token_logratio FROM w
    """


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-fraction selection on the DSIR weights
    (ops/importance.resample_by_importance: exact rank via value-banded
    cells, no single-partition window)."""
    from rdf_tabular_spark.ops.importance import (importance_weights,
                                                  resample_by_importance)

    w = importance_weights(
        _t(spark, sf_dir, "documents"), "lang = 'en'", buckets=4096)
    return resample_by_importance(w, 0.25)


def sql_importance_resample() -> str:
    return f"""
    WITH {_sql_importance_weights_body()},
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY per_token_logratio DESC,
                                   doc_id ASC) - 1 AS r,
             COUNT(*) OVER () AS n
      FROM w)
    SELECT doc_id, n_tokens, logratio_micronats, per_token_logratio
    FROM ranked
    WHERE r < GREATEST(1, CAST(FLOOR(0.25 * n) AS BIGINT))
    """


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: per-doc (shard, bin, offset) layout at a 256-token
    budget over 8 md5 shards."""
    from rdf_tabular_spark.ops.pack import pack_offsets

    return pack_offsets(_t(spark, sf_dir, "documents"),
                        max_tokens=256, n_shards=8)


def sql_pack_sequences() -> str:
    return """
    WITH s AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                                    '__null__')), 1, 8))
                       AS BIGINT) % 8 AS INT) AS shard,
             CAST(len(list_filter(
                    regexp_split_to_array(trim(COALESCE(text, '')), '\\s+'),
                    t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - n_tokens AS start
      FROM s)
    SELECT doc_id, shard, n_tokens,
           CAST(start // 256 AS BIGINT) AS bin_id,
           CAST(start % 256 AS BIGINT) AS bin_offset
    FROM c
    """


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (top-word multiplicity fraction,
    duplicate-2-gram fraction) — map-only array folds, no explode."""
    from rdf_tabular_spark.ops.text import repetition_metrics

    return repetition_metrics(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "top_word_frac", "dup_2gram_frac")


def sql_text_repetition() -> str:
    # COALESCE(text, ''): NULL text = empty document (review r2)
    return r"""
    WITH t AS (
      SELECT doc_id,
             trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g')) AS norm
      FROM documents),
    tok AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t),
    u AS (SELECT doc_id, unnest(toks) AS tok FROM tok),
    cnt AS (SELECT doc_id, max(c) AS mx FROM (
              SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2)
            GROUP BY 1),
    g AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 2
                      THEN [toks[i] || ' ' || toks[i+1]
                            for i in generate_series(1, len(toks) - 1)]
                      ELSE [] END AS grams,
                 CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS n_tokens
          FROM tok)
    SELECT g.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CASE WHEN n_tokens > 0
                      THEN mx / CAST(n_tokens AS DOUBLE) ELSE 0 END,
                 6) AS top_word_frac,
           round(CASE WHEN len(grams) > 0
                      THEN 1 - len(list_distinct(grams)) /
                               CAST(len(grams) AS DOUBLE)
                      ELSE 0 END, 6) AS dup_2gram_frac
    FROM g JOIN cnt ON g.doc_id = cnt.doc_id
    """


def q_events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (ops/asof.asof_join_backward — union + window,
    one shuffle, no range-join row blowup): every event gets the user's
    latest order at or before the event time. The oracle twin is
    DuckDB's NATIVE ASOF LEFT JOIN — two independent as-of
    implementations agreeing hash-exactly."""
    from pyspark.sql import Window

    from rdf_tabular_spark.ops.asof import asof_join_backward

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate", "o_orderkey", "o_totalprice")
    # as-of needs one right row per (key, time): keep the max orderkey
    w = Window.partitionBy("user_id", "o_orderdate").orderBy(
        F.desc("o_orderkey"))
    dedup = (orders.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).drop("rn"))
    return asof_join_backward(
        events, dedup, on="user_id", left_time="ts",
        right_time="o_orderdate",
        right_values=["o_orderkey", "o_totalprice"])


def sql_events_asof_orders() -> str:
    return """
    WITH r AS (
      SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders),
    rd AS (SELECT user_id, o_orderdate, o_orderkey, o_totalprice
           FROM r WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts,
           rd.o_orderkey, rd.o_totalprice, rd.o_orderdate AS asof_time
    FROM events e ASOF LEFT JOIN rd
      ON e.user_id = rd.user_id AND e.ts >= rd.o_orderdate
    """


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) of the events stream,
    rolled up per session."""
    from rdf_tabular_spark.ops.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_s=1800)


def q_text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 repetition signals (ops/text.gopher_repetition):
    top-2-gram fraction + duplicate-line fraction + duplicated-line
    character fraction, computed as per-row sorted-array folds (map-only).
    The twin recomputes them RELATIONALLY (unnest + group-by) — agreeing
    answers from two different formulations, cross-engine."""
    from rdf_tabular_spark.ops.text import gopher_repetition

    return gopher_repetition(_t(spark, sf_dir, "documents"))


def sql_text_gopher_repetition() -> str:
    return r"""
    WITH lines AS (
      SELECT doc_id, x AS line FROM (
        SELECT doc_id, unnest(string_split(COALESCE(text, ''), chr(10))) AS x
        FROM documents)
      WHERE trim(x) <> ''),
    lstats AS (
      SELECT doc_id,
             SUM(c) AS n_lines, COUNT(*) AS n_distinct,
             SUM(c * l) AS total_chars,
             SUM(CASE WHEN c > 1 THEN c * l ELSE 0 END) AS dup_chars
      FROM (SELECT doc_id, line, COUNT(*) AS c, len(line) AS l
            FROM lines GROUP BY doc_id, line)
      GROUP BY doc_id),
    toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(COALESCE(text, '')),
                                              '\s+', ' ', 'g')), ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest([array_to_string(t[i:i+1], ' ')
                     for i in generate_series(1, len(t) - 1)]) AS g
      FROM toks),
    gstats AS (
      SELECT doc_id, MAX(c) AS top2, SUM(c) AS n2
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
      GROUP BY doc_id)
    SELECT d.doc_id,
           round(COALESCE(CAST(g.top2 AS DOUBLE) / g.n2, 0.0), 6)
             AS top_2gram_frac,
           round(COALESCE(1.0 - CAST(l.n_distinct AS DOUBLE) / l.n_lines,
                          0.0), 6) AS dup_line_frac,
           round(COALESCE(CAST(l.dup_chars AS DOUBLE) / l.total_chars,
                          0.0), 6) AS dup_line_char_frac
    FROM documents d
    LEFT JOIN lstats l USING (doc_id)
    LEFT JOIN gstats g USING (doc_id)
    """


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window sessionization (the streaming-compatible
    formulation — identical expression runs under readStream+watermark):
    hash-exact against a gaps-and-islands SQL twin, proving the native
    session assignment equals the lag/running-sum formulation on
    whole-second data (ops/sessions.session_window_stats boundary
    parity)."""
    from rdf_tabular_spark.ops.sessions import session_window_stats

    return session_window_stats(_t(spark, sf_dir, "events"), gap_s=1800)


def sql_events_session_window() -> str:
    return """
    WITH o AS (
      SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events),
    l AS (
      SELECT user_id, value, es,
             lag(es) OVER (PARTITION BY user_id ORDER BY es) AS prev
      FROM o),
    s AS (
      SELECT user_id, value, es,
             sum(CASE WHEN prev IS NULL OR es - prev > 1800
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY es
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM l)
    SELECT user_id,
           CAST(min(es) AS BIGINT) AS session_start_es,
           CAST(max(es) AS BIGINT) AS session_last_es,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS value_sum
    FROM s GROUP BY user_id, island
    """


def sql_events_sessionize() -> str:
    return """
    WITH o AS (
      SELECT user_id, event_type, value, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events),
    s AS (
      SELECT user_id, event_type, value, ts,
             CAST(sum(CASE WHEN prev IS NULL
                           OR CAST(floor(epoch(ts)) AS BIGINT) -
                              CAST(floor(epoch(prev)) AS BIGINT) > 1800
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - 1 AS BIGINT) AS session_id
      FROM o)
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) -
                min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS span_s,
           round(sum(value), 6) AS value_sum,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM s GROUP BY 1, 2
    """


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour per-type event counts — the batch twin of the
    Structured Streaming windowed aggregate (same function, a streaming
    DataFrame adds the watermark)."""
    from rdf_tabular_spark.streaming import windowed_event_counts

    return windowed_event_counts(_t(spark, sf_dir, "events"),
                                 window="1 hour")


def sql_events_windowed() -> str:
    return """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS value_sum
    FROM events GROUP BY 1, 2, 3
    """


def _query_vec(dim: int = 64) -> list[float]:
    return [((i * 37) % 19 - 9) / 10.0 for i in range(dim)]


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline over the embeddings table."""
    from rdf_tabular_spark.ops.dedup import cosine_sim

    emb = _t(spark, sf_dir, "embeddings")
    q = F.array(*[F.lit(v) for v in _query_vec()])
    v = F.transform("embedding", lambda x: x.cast("double"))
    return (
        emb.select("vec_id", F.round(cosine_sim(v, q), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


def sql_similarity_topk() -> str:
    qv = "[" + ",".join(repr(v) for v in _query_vec()) + "]"
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    c AS (
      SELECT vec_id,
             list_sum(list_transform(generate_series(1, len(v)),
                                     i -> v[i] * ({qv})[i]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform({qv}, x -> x * x)))) AS cosine
      FROM e)
    SELECT vec_id, round(cosine, 6) AS cosine
    FROM c ORDER BY cosine DESC, vec_id LIMIT 10
    """


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: rank label partitions by centroid cosine, exact-search
    the best 2 — the scale path vs q_similarity_topk's brute force."""
    from rdf_tabular_spark.ops.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return ivf_topk(emb, _query_vec(), k=10, n_probe=2)


def sql_similarity_ivf() -> str:
    qv = "[" + ",".join(repr(v) for v in _query_vec()) + "]"
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    dims AS (
      SELECT label, unnest(generate_series(1, 64)) AS i, unnest(v) AS val
      FROM e),
    dimavg AS (SELECT label, i, avg(val) AS a FROM dims GROUP BY label, i),
    cent AS (SELECT label, list(a ORDER BY i) AS c FROM dimavg GROUP BY label),
    ranked AS (
      SELECT label,
             list_sum(list_transform(generate_series(1, 64), i -> c[i] * ({qv})[i]))
             / (sqrt(list_sum(list_transform(c, x -> x * x)))
                * sqrt(list_sum(list_transform({qv}, x -> x * x)))) AS sim
      FROM cent ORDER BY sim DESC LIMIT 2),
    cand AS (SELECT e.* FROM e WHERE label IN (SELECT label FROM ranked)),
    scored AS (
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, 64), i -> v[i] * ({qv})[i]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform({qv}, x -> x * x)))), 6) AS cosine
      FROM cand)
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """


def _rademacher(bits: int = 8, dim: int = 64, seed: int = 7) -> list[list[int]]:
    import hashlib

    return [
        [1 if hashlib.sha256(f"{seed}|{b}|{i}".encode()).digest()[0] % 2 == 0
         else -1 for i in range(dim)]
        for b in range(bits)
    ]


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH ANN (the bucketed scale path): probe the
    query's bucket + Hamming-1 neighbors, exact-rescore candidates only.
    Hyperplanes are deterministic (sha256-derived ±1), so the DuckDB oracle
    reproduces the bucketing bit-for-bit."""
    from rdf_tabular_spark.ops.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return lsh_topk(emb, _query_vec(), k=10, bits=8)


def sql_similarity_lsh() -> str:
    q = _query_vec()
    planes = _rademacher()
    qv = "[" + ",".join(repr(v) for v in q) + "]"
    # query-side probes, computed exactly as lsh_topk does on the driver
    qsig = 0
    for b, r in enumerate(planes):
        if sum(x * y for x, y in zip(q, r)) >= 0:
            qsig |= 1 << b
    probes = sorted({qsig} | {qsig ^ (1 << b) for b in range(8)})
    bit_terms = []
    for b, r in enumerate(planes):
        rv = "[" + ",".join(f"{x}.0" for x in r) + "]"
        bit_terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
            f"i -> v[i] * ({rv})[i])) >= 0 THEN {1 << b} ELSE 0 END)")
    bucket = " + ".join(bit_terms)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    cand AS (SELECT * FROM b WHERE bucket IN ({",".join(map(str, probes))})),
    scored AS (
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, 64), i -> v[i] * ({qv})[i]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform({qv}, x -> x * x)))), 6) AS cosine
      FROM cand)
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """


def q_similarity_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over LEARNED clusters: deterministic Lloyd's k-means (k=8, 2
    iterations, init = vectors of the 8 smallest ids, centroids rounded to
    9 dp per round) builds the coarse quantizer; probe the best 2 clusters.
    Unlike q_similarity_ivf this does not assume a pre-existing label."""
    from rdf_tabular_spark.ops.similarity import kmeans_ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return kmeans_ivf_topk(emb, _query_vec(), k=10, n_clusters=8, iters=2,
                           n_probe=2)


def _sql_kmeans_prelude(dim: int = 64, k: int = 8, iters: int = 2) -> str:
    """Unrolled Lloyd's in SQL (shared by the kmeans-IVF and kmeans-blocked
    near-dup oracles): assign_i = argmin squared-L2 (ties to the lowest
    cluster index), update_i = per-dim avg rounded to 9 dp, empty clusters
    keep the previous centroid; `afinal` = assignment from final centroids,
    `c{iters}` = the final centroids."""
    parts = [f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
             list_transform(v, x -> round(x, 9)) AS c
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))"""]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(f""",
    a{it} AS (
      SELECT vec_id, v, ci AS cluster FROM (
        SELECT e.vec_id, e.v, c.ci,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, {dim}),
                   i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.ci) AS rn
        FROM e, {prev} c) WHERE rn = 1),
    c{it}m AS (
      SELECT cluster AS ci, d, round(avg(v[d]), 9) AS cd
      FROM a{it}, range(1, {dim + 1}) r(d) GROUP BY cluster, d),
    c{it} AS (
      SELECT p.ci, coalesce(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN (
        SELECT ci, list(cd ORDER BY d) AS c FROM c{it}m GROUP BY ci) u
      USING (ci))""")
    last = f"c{iters}"
    parts.append(f""",
    afinal AS (
      SELECT vec_id, v, ci AS cluster FROM (
        SELECT e.vec_id, e.v, c.ci,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, {dim}),
                   i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.ci) AS rn
        FROM e, {last} c) WHERE rn = 1)""")
    return "".join(parts)


def sql_similarity_kmeans_ivf() -> str:
    qv = "[" + ",".join(repr(v) for v in _query_vec()) + "]"
    dim, iters, n_probe = 64, 2, 2
    last = f"c{iters}"
    return _sql_kmeans_prelude(dim=dim, k=8, iters=iters) + f""",
    probes AS (
      SELECT ci FROM (
        SELECT ci,
               list_sum(list_transform(generate_series(1, {dim}),
                 i -> c[i] * ({qv})[i]))
               / (sqrt(list_sum(list_transform(c, x -> x * x)))
                  * sqrt(list_sum(list_transform({qv}, x -> x * x)))) AS sim
        FROM {last})
      ORDER BY sim DESC, ci LIMIT {n_probe}),
    scored AS (
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, {dim}),
                     i -> v[i] * ({qv})[i]))
             / (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(list_sum(list_transform({qv}, x -> x * x)))), 6)
               AS cosine
      FROM afinal WHERE cluster IN (SELECT ci FROM probes))
    SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """


def q_similarity_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of every ANN path vs the exact brute-force top-10 (r3:
    the block/band boundaries trade recall for candidate-set size, and
    nothing measured the trade before — VERDICT r2 item 5). The twin
    recomputes each method AND the intersection entirely in SQL by
    composing the per-method oracle twins, so the recall NUMBERS
    themselves are cross-engine-verified."""
    from rdf_tabular_spark.ops.similarity import (
        brute_force_topk, ivf_topk, kmeans_ivf_topk, lsh_topk, recall_at_k)

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    q = _query_vec()
    brute = brute_force_topk(emb, q, k=10)
    out = None
    for name, adf in [
        ("ivf", ivf_topk(emb, q, k=10, n_probe=2)),
        ("kmeans_ivf", kmeans_ivf_topk(emb, q, k=10, n_clusters=8,
                                       iters=2, n_probe=2)),
        ("lsh", lsh_topk(emb, q, k=10, bits=8)),
    ]:
        r = recall_at_k(adf, brute, 10).select(
            F.lit(name).alias("method"),
            F.col("recall").alias("recall_at_10"))
        out = r if out is None else out.unionByName(r)
    return out


def sql_similarity_recall() -> str:
    return f"""
    WITH brute AS ({sql_similarity_topk()}),
         lsh AS ({sql_similarity_lsh()}),
         ivf AS ({sql_similarity_ivf()}),
         km AS ({sql_similarity_kmeans_ivf()})
    SELECT 'ivf' AS method,
           (SELECT round(count(*) / 10.0, 6)
            FROM ivf JOIN brute USING (vec_id)) AS recall_at_10
    UNION ALL
    SELECT 'kmeans_ivf',
           (SELECT round(count(*) / 10.0, 6)
            FROM km JOIN brute USING (vec_id))
    UNION ALL
    SELECT 'lsh',
           (SELECT round(count(*) / 10.0, 6)
            FROM lsh JOIN brute USING (vec_id))
    """


def q_dedup_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocked on LEARNED k-means clusters instead of a
    pre-existing label column (the round-1 gap: someone must produce the
    block column at 100 TB)."""
    from rdf_tabular_spark.ops.dedup import embedding_near_pairs_kmeans

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return embedding_near_pairs_kmeans(emb, threshold=0.2, n_clusters=8,
                                       iters=2)


def sql_dedup_embedding_kmeans() -> str:
    cos = ("list_sum(list_transform(generate_series(1, 64),"
           " i -> a.v[i] * b.v[i]))"
           " / (sqrt(list_sum(list_transform(a.v, x -> x * x)))"
           " * sqrt(list_sum(list_transform(b.v, x -> x * x))))")
    return _sql_kmeans_prelude(dim=64, k=8, iters=2) + f"""
    SELECT a.vec_id AS a, b.vec_id AS b, round({cos}, 6) AS cosine
    FROM afinal a JOIN afinal b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE {cos} >= 0.2
    """


def q_similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (ops/dedup.hard_negative_pairs):
    same-k-means-cluster pairs in the cosine band [0.1, 0.6), 4 hardest
    per anchor — blocked candidates, WindowGroupLimit per-anchor top-k.
    The oracle compares (anchor, negative, rank) — the SELECTION — not
    the raw score: engine float-summation order shifts a 64-term cosine
    by ~1e-7, which cannot flip the ranking between distinct pairs but
    does flip a fixed-point quantization of the score itself (found on
    this row: one pair sat 1e-7 from the micro-unit boundary)."""
    from rdf_tabular_spark.ops.dedup import hard_negative_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_pairs(emb, lo=0.1, hi=0.6, per_anchor=4).select(
        "anchor", "negative", "rank")


def sql_similarity_hard_negatives(lo: float = 0.1, hi: float = 0.6,
                                  per_anchor: int = 4) -> str:
    cos = ("list_sum(list_transform(generate_series(1, 64),"
           " i -> x.v[i] * y.v[i]))"
           " / (sqrt(list_sum(list_transform(x.v, e -> e * e)))"
           " * sqrt(list_sum(list_transform(y.v, e -> e * e))))")
    # band membership + ranking on the SAME half-up micro quantization
    # as ops/dedup.hard_negative_pairs (integer bounds computed here in
    # Python so both engines compare against identical literals)
    lo_micro, hi_micro = int(round(lo * 1e6)), int(round(hi * 1e6))
    return _sql_kmeans_prelude(dim=64, k=8, iters=2) + f""",
    band AS (
      SELECT anchor, negative, cm FROM (
        SELECT x.vec_id AS anchor, y.vec_id AS negative,
               CAST(floor(({cos}) * 1e6 + 0.5) AS BIGINT) AS cm
        FROM afinal x JOIN afinal y
          ON x.cluster = y.cluster AND x.vec_id <> y.vec_id)
      WHERE cm >= {lo_micro} AND cm < {hi_micro})
    SELECT anchor, negative, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
                ORDER BY cm DESC, negative ASC) AS rank
      FROM band)
    WHERE rank <= {per_anchor}
    """


def q_similarity_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (ops/similarity.negative_samples):
    4 md5-derived pseudo-random negatives per anchor over the dense id
    space — contrastive-training prep with no RNG, so replayable and
    layout-invariant; twin recomputes the same md5 arithmetic."""
    from rdf_tabular_spark.ops.similarity import negative_samples

    emb = _t(spark, sf_dir, "embeddings")
    return negative_samples(emb, k=4)


def sql_similarity_negatives(k: int = 4) -> str:
    return f"""
    WITH n AS (SELECT count(*) AS n FROM embeddings),
    cand AS (
      SELECT e.vec_id AS anchor, r.rank,
             CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || '|'
                                      || CAST(r.rank AS VARCHAR)
                                      || '|negs'), 1, 8)) AS BIGINT)
               % n.n AS neg_id
      FROM embeddings e
      CROSS JOIN n
      CROSS JOIN (SELECT unnest(generate_series(1, {k})) AS rank) r)
    SELECT c.anchor, CAST(c.rank AS INT) AS rank, c.neg_id,
           t.label AS neg_label
    FROM cand c JOIN embeddings t ON c.neg_id = t.vec_id
    WHERE c.neg_id <> c.anchor
    """


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: video frame-sampling as a sequence/explode
    expansion over the media metadata (no decode)."""
    from rdf_tabular_spark.ops.multimodal import attach_media_column, sample_frames

    media = attach_media_column(_t(spark, sf_dir, "documents"))
    return sample_frames(media, every_ms=1000)


def sql_multimodal_frames() -> str:
    return """
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(doc_id * 40 % 60000 AS INTEGER) AS duration_ms
      FROM documents)
    SELECT media_id,
           CAST(unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000)) AS INTEGER) AS frame_ts_ms
    FROM media WHERE kind = 'video'
    """


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over opaque binary
    payloads (decode stubbed deterministically; plumbing real)."""
    from rdf_tabular_spark.ops.multimodal import attach_media_column, extract_features

    media = attach_media_column(_t(spark, sf_dir, "documents"))
    return extract_features(media).select("media_id", "kind", "n_bytes")


def sql_multimodal_features() -> str:
    return """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
    FROM documents
    """


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (r3, de-stubbing the r2 weak spot): synthesize
    uncompressed-BMP payloads with id-derived dims/pixel value
    (ops/multimodal.attach_bmp_media), then actually parse every payload
    byte-for-byte in the Arrow mapInPandas path (decode_images). The twin
    recomputes the embedded (width, height, pixel mean) arithmetically —
    a hash-exact match proves decode recovered exactly what the encoder
    embedded (incl. skipping BMP row padding: widths hit non-multiple-
    of-4 strides and padding is zero, which would shift mean_pixel)."""
    from rdf_tabular_spark.ops.multimodal import attach_bmp_media, decode_images

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_bmp_media(docs))


def sql_multimodal_decode() -> str:
    return """
    SELECT doc_id AS media_id,
           CAST(5 + doc_id % 7 AS INT) AS width,
           CAST(4 + doc_id % 5 AS INT) AS height,
           CAST((5 + doc_id % 7) * (4 + doc_id % 5) * 3 AS BIGINT)
             AS n_pixel_bytes,
           CAST(doc_id % 200 + 10 AS DOUBLE) AS mean_pixel
    FROM documents
    """


def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (ops/similarity.pq_encode): 4 sub-block
    codebooks learned with the deterministic Lloyd's trainer, final
    encoding one map-only projection over broadcast literal centroids."""
    from rdf_tabular_spark.ops.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    out, _ = pq_encode(emb, m=4, k=8, iters=2, dim=64)
    return out


def _sql_pq_block(j: int, sub: int, k: int, iters: int) -> str:
    """One sub-block's unrolled Lloyd's chain (same formulation as
    _sql_kmeans_prelude, CTE names suffixed _b{j}, vectors sliced to the
    block's dims)."""
    lo, hi = j * sub + 1, (j + 1) * sub
    parts = [f"""
    e_b{j} AS (
      SELECT vec_id,
             list_transform(list_slice(embedding, {lo}, {hi}),
                            x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    c0_b{j} AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
             list_transform(v, x -> round(x, 9)) AS c
      FROM (SELECT vec_id, v FROM e_b{j} ORDER BY vec_id LIMIT {k}))"""]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}_b{j}"
        parts.append(f""",
    a{it}_b{j} AS (
      SELECT vec_id, v, ci AS cluster FROM (
        SELECT e.vec_id, e.v, c.ci,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, {sub}),
                   i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.ci) AS rn
        FROM e_b{j} e, {prev} c) WHERE rn = 1),
    c{it}m_b{j} AS (
      SELECT cluster AS ci, d, round(avg(v[d]), 9) AS cd
      FROM a{it}_b{j}, range(1, {sub + 1}) r(d) GROUP BY cluster, d),
    c{it}_b{j} AS (
      SELECT p.ci, coalesce(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN (
        SELECT ci, list(cd ORDER BY d) AS c FROM c{it}m_b{j} GROUP BY ci) u
      USING (ci))""")
    parts.append(f""",
    afinal_b{j} AS (
      SELECT vec_id, ci AS cluster FROM (
        SELECT e.vec_id, c.ci,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, {sub}),
                   i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.ci) AS rn
        FROM e_b{j} e, c{iters}_b{j} c) WHERE rn = 1)""")
    return "".join(parts)


def sql_embedding_pq(m: int = 4, k: int = 8, iters: int = 2,
                     dim: int = 64) -> str:
    sub = dim // m
    # each block chain starts with its own CTE name; concatenate them
    # into one WITH list
    chain = ",".join(_sql_pq_block(j, sub, k, iters) for j in range(m))
    joins = " ".join(
        f"JOIN afinal_b{j} a{j} USING (vec_id)" for j in range(1, m))
    codes = ", ".join(
        f"CAST(a{j}.cluster AS INT) AS code_{j}" for j in range(m))
    return f"""
    WITH {chain}
    SELECT a0.vec_id, {codes}
    FROM afinal_b0 a0 {joins}
    """


def q_embedding_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the PQ codes (ops/similarity.pq_adc_topk): the
    m×k lookup table rides as literals, scoring is map-only over the
    code table, top-k is TakeOrderedAndProject. The twin RE-LEARNS the
    codebooks (unrolled Lloyd's per block) and replays the lookup."""
    from rdf_tabular_spark.ops.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, _query_vec(), topk=10, m=4, k=8, iters=2,
                       dim=64)


def sql_embedding_pq_adc(m: int = 4, k: int = 8, iters: int = 2,
                         dim: int = 64, topk: int = 10) -> str:
    sub = dim // m
    qv = _query_vec()
    chain = ",".join(_sql_pq_block(j, sub, k, iters) for j in range(m))
    luts = ",".join(f"""
    lut{j} AS (
      SELECT ci, list_sum(list_transform(generate_series(1, {sub}),
               i -> c[i] * ([{",".join(repr(float(v)) for v in qv[j * sub:(j + 1) * sub])}])[i])) AS v
      FROM c{iters}_b{j})""" for j in range(m))
    joins = " ".join(
        f"JOIN afinal_b{j} a{j} USING (vec_id)" for j in range(1, m))
    lut_joins = " ".join(
        f"JOIN lut{j} ON a{j}.cluster = lut{j}.ci" for j in range(m))
    total = " + ".join(f"lut{j}.v" for j in range(m))
    return f"""
    WITH {chain},{luts}
    SELECT a0.vec_id, round({total}, 6) AS adc_score
    FROM afinal_b0 a0 {joins} {lut_joins}
    ORDER BY adc_score DESC, a0.vec_id ASC LIMIT {topk}
    """


def q_similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (ops/similarity.ivf_pq_topk — r4): coarse k-means prune
    to 2 probed clusters, then ADC over PQ codes of the candidates
    only — the FAISS IndexIVFPQ composition; neither the corpus nor
    any float vector is touched at query time."""
    from rdf_tabular_spark.ops.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return ivf_pq_topk(emb, _query_vec(), topk=10, n_clusters=8,
                       n_probe=2, m=4, k=8, iters=2, dim=64)


def sql_similarity_ivf_pq(m: int = 4, k: int = 8, iters: int = 2,
                          dim: int = 64, topk: int = 10,
                          n_probe: int = 2) -> str:
    sub = dim // m
    qv = _query_vec()
    qv_lit = "[" + ",".join(repr(v) for v in qv) + "]"
    chain = ",".join(_sql_pq_block(j, sub, k, iters) for j in range(m))
    luts = ",".join(f"""
    lut{j} AS (
      SELECT ci, list_sum(list_transform(generate_series(1, {sub}),
               i -> c[i] * ([{",".join(repr(float(v)) for v in qv[j * sub:(j + 1) * sub])}])[i])) AS v
      FROM c{iters}_b{j})""" for j in range(m))
    joins = " ".join(
        f"JOIN afinal_b{j} a{j} USING (vec_id)" for j in range(1, m))
    lut_joins = " ".join(
        f"JOIN lut{j} ON a{j}.cluster = lut{j}.ci" for j in range(m))
    total = " + ".join(f"lut{j}.v" for j in range(m))
    return (_sql_kmeans_prelude(dim=dim, k=8, iters=iters) + f""",
    probes AS (
      SELECT ci FROM (
        SELECT ci,
               list_sum(list_transform(generate_series(1, {dim}),
                 i -> c[i] * ({qv_lit})[i]))
               / (sqrt(list_sum(list_transform(c, x -> x * x)))
                  * sqrt(list_sum(list_transform({qv_lit}, x -> x * x)))) AS sim
        FROM c{iters})
      ORDER BY sim DESC, ci LIMIT {n_probe}),
    {chain},{luts}
    SELECT a0.vec_id, round({total}, 6) AS adc_score
    FROM afinal_b0 a0 {joins} {lut_joins}
    JOIN afinal coarse ON coarse.vec_id = a0.vec_id
    WHERE coarse.cluster IN (SELECT ci FROM probes)
    ORDER BY adc_score DESC, a0.vec_id ASC LIMIT {topk}
    """)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8-style quantization of the embedding column (FAISS-SQ8
    shape, ops/similarity.quantize_embeddings): per-dimension global
    ranges -> integer codes + per-vector worst reconstruction error. The
    twin replays the same range/scale arithmetic in DOUBLE (the engine
    promotes float32 to double exactly) — hash-exact codes and error."""
    from rdf_tabular_spark.ops.similarity import quantize_codes_str

    emb = _t(spark, sf_dir, "embeddings")
    return quantize_codes_str(emb)


def sql_embedding_quantize() -> str:
    return r"""
    WITH dims AS (
      SELECT d, MIN(v) AS lo, MAX(v) AS hi FROM (
        SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings) GROUP BY d),
    rng AS (SELECT list(lo ORDER BY d) AS los,
                   list(hi ORDER BY d) AS his FROM dims)
    SELECT vec_id,
           array_to_string(
             [CAST(CAST(CASE WHEN his[i] = los[i] THEN 0.0
                ELSE round((CAST(embedding[i] AS DOUBLE) - los[i]) * 255.0
                           / (his[i] - los[i]), 0)
                END AS INT) AS VARCHAR)
              for i in generate_series(1, len(embedding))], ',') AS codes,
           round(list_max(
             [abs(los[i]
                  + (CASE WHEN his[i] = los[i] THEN 0.0
                     ELSE round((CAST(embedding[i] AS DOUBLE) - los[i])
                                * 255.0 / (his[i] - los[i]), 0) END)
                    * (his[i] - los[i]) / 255.0
                  - CAST(embedding[i] AS DOUBLE))
              for i in generate_series(1, len(embedding))]), 6)
             AS max_abs_err
    FROM embeddings, rng
    """


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022, arXiv:2107.06499): maximal
    per-document token spans covered by an 8-gram occurring in >= 2
    distinct documents (ops/dedup.substring_duplicate_spans). The twin
    replicates gram hashing, the distinct-doc filter, and the
    gaps-and-islands merge in SQL — hash-exact span boundaries."""
    from rdf_tabular_spark.ops.dedup import substring_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return substring_duplicate_spans(docs, k=8, min_docs=2)


def sql_dedup_substring() -> str:
    return r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest([{'pos': i-1, 'g': md5(array_to_string(t[i:i+7], ' '))}
                     for i in generate_series(1, len(t) - 7)],
                    recursive := true)
      FROM toks),
    dup AS (SELECT g FROM grams GROUP BY g
            HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
    lagged AS (SELECT doc_id, pos,
                      LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
               FROM hits),
    isl AS (SELECT doc_id, pos,
                   SUM(CASE WHEN prev IS NULL OR pos > prev + 8
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM lagged)
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, island
    """


def q_dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable half of exact substring dedup: cut every duplicated
    span out of the normalized text (ops/dedup.remove_duplicate_spans) —
    documents fully covered by duplicated spans come out empty, clean
    documents pass through untouched. Hash-exact vs a SQL twin that
    re-derives spans and filters token positions with NOT EXISTS."""
    from rdf_tabular_spark.ops.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, k=8, min_docs=2)


def sql_dedup_substring_clean() -> str:
    return r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest([{'pos': i-1, 'g': md5(array_to_string(t[i:i+7], ' '))}
                     for i in generate_series(1, len(t) - 7)],
                    recursive := true)
      FROM toks),
    dup AS (SELECT g FROM grams GROUP BY g
            HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
    lagged AS (SELECT doc_id, pos,
                      LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
               FROM hits),
    isl AS (SELECT doc_id, pos,
                   SUM(CASE WHEN prev IS NULL OR pos > prev + 8
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM lagged),
    spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
              FROM isl GROUP BY doc_id, island),
    tok_pos AS (
      SELECT doc_id,
             unnest([{'pos': i-1, 'tok': t[i]}
                     for i in generate_series(1, len(t))],
                    recursive := true)
      FROM toks),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok FROM tok_pos tp
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = tp.doc_id
                          AND tp.pos >= s.s AND tp.pos < s.e)),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                   COUNT(*) AS n FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, len(t) AS n_all FROM toks)
    SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
           CAST(t.n_all - COALESCE(a.n, 0) AS BIGINT) AS n_removed_tokens
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """


def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode (r3): synthesize zlib-deflated PNG payloads with
    the same id-derived dims/pixel scheme as the BMP row
    (ops/multimodal.attach_png_media), then actually inflate + de-filter
    every payload in the Arrow mapInPandas path (decode_png via
    decode_images). A hash-exact match against the arithmetic twin proves
    the inflate/de-filter/channel logic recovered exactly what the
    encoder embedded."""
    from rdf_tabular_spark.ops.multimodal import attach_png_media, decode_images

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return decode_images(attach_png_media(docs))


def sql_multimodal_png() -> str:
    # identical embedded-parameter scheme to the BMP twin
    return sql_multimodal_decode()


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (r3): synthesize PCM-WAV payloads whose rate /
    frame-count / amplitude derive from the id
    (ops/multimodal.attach_wav_media), then parse every RIFF container
    and unpack every int16 sample in the Arrow mapInPandas path
    (decode_wav via decode_audio). The fixtures are ±amplitude square
    waves, so the decoded RMS is exactly the amplitude and the duration
    is frames·1000/rate — closed forms the twin recomputes without
    decoding; a hash-exact match proves real sample-domain decode."""
    from rdf_tabular_spark.ops.multimodal import attach_wav_media, decode_audio

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return decode_audio(attach_wav_media(docs))


def sql_multimodal_audio() -> str:
    return """
    SELECT doc_id AS media_id,
           CAST(1 AS INT) AS channels,
           CAST(8000 * (1 + doc_id % 2) AS INT) AS sample_rate,
           CAST(2000 + (doc_id % 5) * 400 AS BIGINT) AS n_frames,
           CAST((2000 + (doc_id % 5) * 400) * 1000.0
                / (8000 * (1 + doc_id % 2)) AS DOUBLE) AS duration_ms,
           CAST(500 + doc_id % 1000 AS DOUBLE) AS rms
    FROM documents
    """


# ---------------------------------------------------------------------------
# Source-code KG construction (north rule) — staged deterministic source,
# full DuckDB oracle (extraction regexes + linking + assembly replicated)
# ---------------------------------------------------------------------------

KG_ORACLE_FILES = 300


def _kg_synth_fingerprint() -> str:
    """Content fingerprint of the staged-corpus generator: hash of the
    kg/synth module source (the generator) so edits to make_content &co.
    never silently reuse a stale /tmp staging from an earlier run/round
    (ADVICE r2 — the polyglot stager already versions; this makes every
    kg stager content-addressed the same way)."""
    import hashlib
    import inspect

    from rdf_tabular_spark.kg import synth

    return hashlib.md5(inspect.getsource(synth).encode()).hexdigest()[:10]


def _kg_oracle_source_path() -> str:
    """Stage the deterministic synthetic source table (input_hint shape) as
    ONE parquet file both engines read. ~1 in 5 files get case-variant
    import spellings (``Requests``/``JSON``/``Numpy``) whose normalized form
    collides with the lowercase original — the entity-linking stage merges
    them (kg/link.py normalize_mention), so linking is *observable* in the
    oracle, and on this vocabulary the linker's output provably equals
    normalized-equality grouping (verified in tests), which plain SQL can
    replicate.

    Generation is pure Python (no Spark) so ``oracle_sql()`` can stage too —
    whichever side the driver calls first creates the file."""
    import hashlib
    import os
    import tempfile

    from rdf_tabular_spark.kg import synth

    path = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_kg_oracle_{KG_ORACLE_FILES}"
        f"_{_kg_synth_fingerprint()}.parquet")
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_repos = max(10, KG_ORACLE_FILES // 200)
    ext_for = {"python": "py", "ruby": "rb", "javascript": "js", "json": "json"}
    cols: dict[str, list] = {
        "repo": [], "path": [], "commit": [], "lang": [], "content": []}
    for i in range(KG_ORACLE_FILES):
        lang = synth.lang_for(i)
        content = synth.make_content(i, lang)
        if i % 5 == 0:
            content = (
                content.replace("import requests", "import Requests")
                .replace("require 'json'", "require 'JSON'")
                .replace("require('numpy')", "require('Numpy')"))
        cols["repo"].append(synth.repo_for(i, n_repos))
        cols["path"].append(
            f"src/{synth._h('d1', i) % 20:02d}/"
            f"{synth._h('d2', i) % 50:02d}/file_{i}.{ext_for[lang]}")
        cols["commit"].append(hashlib.sha1(f"commit|{i}".encode()).hexdigest())
        cols["lang"].append(lang)
        cols["content"].append(content)
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
    return path


def _kg_oracle_v2_path() -> str:
    """Snapshot v2 of the staged oracle source, derived deterministically
    from v1: files i%29==0 removed, i%13==0 changed (a lang-appropriate
    extra import appended; json files get a whitespace-only change — a
    sha change with no structural effect, which the delta path must still
    re-extract), plus 8 added python files in a new repo. Pure Python so
    ``oracle_sql()`` can stage it too."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_kg_oracle_v2b_{KG_ORACLE_FILES}"
        f"_{_kg_synth_fingerprint()}.parquet")
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    v1 = pq.read_table(_kg_oracle_source_path()).to_pydict()
    # names must be mutually shingle-distant AND distant from the v1
    # vocabulary: the LSH linker merges near-identical names (deltamod_0 /
    # deltamod_1 share 8/10 3-shingles -> one cluster) while the SQL twin
    # groups by exact normalized equality — the staged vocabulary must keep
    # the two equal (the round-1 oracle design invariant)
    mods = ["alphadelta", "betagamma", "omegazone"]
    extra_for = {
        "python": "\nimport {m}\n",
        "ruby": "\nrequire '{m}'\n",
        "javascript": "\nconst extra = require('{m}');\n",
        "json": "\n",
    }
    cols: dict[str, list] = {k: [] for k in v1}
    for i in range(len(v1["path"])):
        if i % 29 == 0:
            continue
        row = {k: v1[k][i] for k in v1}
        if i % 13 == 0:
            row["content"] = row["content"] + extra_for[row["lang"]].format(
                m=mods[i % 3])
        for k, v in row.items():
            cols[k].append(v)
    for j in range(8):
        cols["repo"].append("repo-delta")
        cols["path"].append(f"src/delta/new_{j}.py")
        cols["commit"].append(f"deltacommit{j:02d}")
        cols["lang"].append("python")
        cols["content"].append(
            f"import {mods[j % 2]}\n\ndef delta_fn_{j}(x):\n    return x\n")
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
    return path


WEB_ORACLE_DOCS = 2000

#: curated blocklist for the oracle corpus (3 of the 18 staged domains)
WEB_BLOCKLIST = ["badsite.com", "spam.co.uk", "tracker.org"]


def _web_synth_rows() -> list[tuple[str, str, str]]:
    """Deterministic synthetic web-docs corpus (doc_id, site, text) for
    the URL-curation and boilerplate oracles: the sf documents table
    contains no URLs or shared page chrome, so — like the staged KG
    source — a small staged corpus makes the operators observable. URLs
    vary scheme case, subdomain depth, ports/paths/queries/fragments,
    two-level public suffixes, glued sentence punctuation, and the
    userinfo / IPv4-literal corners; ~1 in 5 docs has no URL at all.
    Docs are multi-line (2-4 content lines); each of 12 sites owns two
    boilerplate lines (header/footer chrome) injected into ~70 % of its
    docs — above remove_boilerplate's default threshold, while every
    content line stays unique. Pure Python (hashlib-derived, no RNG
    state) so ``oracle_sql()`` can stage the identical file."""
    import hashlib

    def h(tag: str, i: int) -> int:
        return int(hashlib.md5(f"web|{tag}|{i}".encode()).hexdigest()[:8], 16)

    domains = [
        "example.com", "dataset.org", "research.net", "corpus.io",
        "openweb.dev", "library.ac.uk", "news.co.uk", "shop.com.au",
        "labs.co.jp", "mirror.edu", "wiki.info", "archive.org",
        "papers.net", "blog.me", "docs.dev",
    ] + WEB_BLOCKLIST
    subs = ["", "www.", "api.", "cdn.static.", "blog.", "m."]
    schemes = ["https://", "http://", "HTTPS://", "Http://"]
    tails = ["", "/", "/index.html", "/a/b?q=1&x=2", "/p#frag", ":8080/x",
             "/download.tar.gz"]
    puncts = ["", ".", ",", ";", ")", "]!", "?"]
    words = ["data", "spark", "corpus", "web", "crawl", "page", "filter",
             "token", "model", "train", "clean", "scale", "shuffle",
             "join", "scan", "text"]
    sites = [f"site{k:02d}" for k in range(12)]
    rows: list[tuple[str, str, str]] = []
    for i in range(WEB_ORACLE_DOCS):
        site = sites[h("site", i) % len(sites)]
        n_lines = 2 + h("nl", i) % 3
        lines = []
        for li in range(n_lines):
            # "doc {i} line {li}" tokens make every content line unique
            # corpus-wide, so boilerplate detection has zero false hits
            lines.append(" ".join(
                [f"d{i}l{li}"]
                + [words[h(f"w{li}.{j}", i) % len(words)]
                   for j in range(6 + h(f"len{li}", i) % 12)]))
        for j in range(h("n", i) % 5):
            url = (schemes[h(f"s{j}", i) % len(schemes)]
                   + subs[h(f"sub{j}", i) % len(subs)]
                   + domains[h(f"d{j}", i) % len(domains)]
                   + tails[h(f"t{j}", i) % len(tails)])
            li = h(f"ul{j}", i) % n_lines
            toks = lines[li].split(" ")
            toks.insert(h(f"p{j}", i) % (len(toks) + 1),
                        url + puncts[h(f"q{j}", i) % len(puncts)])
            lines[li] = " ".join(toks)
        if i % 211 == 0:
            lines[-1] += " http://user:pw@secure.example.org/path,"
        if i % 389 == 0:
            lines[-1] += (" http://192.168.%d.%d:8080/admin;"
                          % (h("ip1", i) % 256, h("ip2", i) % 256))
        if h("bp1", i) % 10 < 7:
            lines.insert(0, f"welcome to {site} subscribe to the newsletter")
        if h("bp2", i) % 10 < 7:
            lines.append(f"copyright {site} all rights reserved")
        rows.append((f"web_{i:05d}", site, "\n".join(lines)))
    return rows


def _web_oracle_path() -> str:
    """Stage the synthetic web-docs corpus as one parquet file both
    engines read; content-addressed on the generator source so edits
    never reuse a stale staging (ADVICE r2 convention)."""
    import hashlib
    import inspect
    import os
    import tempfile

    # hash the module-level inputs the generator reads by NAME too, or
    # editing them would silently reuse a stale staging (review r3)
    fp = hashlib.md5(
        (inspect.getsource(_web_synth_rows)
         + repr(WEB_BLOCKLIST)).encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_web_oracle_{WEB_ORACLE_DOCS}_{fp}.parquet")
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _web_synth_rows()
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                             "site": [r[1] for r in rows],
                             "text": [r[2] for r in rows]}), tmp)
    os.replace(tmp, path)
    return path


def q_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-grain extraction + host/registered-domain normalization
    (ops/urls.py, the C4/RefinedWeb curation shape): one
    regexp_extract_all projection + explode; host/domain are anchored
    regex projections on the short URL strings, never the doc body."""
    from rdf_tabular_spark.ops.urls import extract_urls

    return extract_urls(spark.read.parquet(_web_oracle_path()))


def _sql_url_parsed() -> str:
    """Shared CTE: staged web corpus -> (doc_id, url, host, domain) —
    the IDENTICAL RE2-safe patterns the Spark columns use, replayed in
    DuckDB (regexp_extract_all / string_split / negative list index)."""
    from rdf_tabular_spark.ops.urls import PUBLIC_SUFFIX_2

    sfx = ",".join(f"'{s}'" for s in PUBLIC_SUFFIX_2)
    return rf"""
    web AS (SELECT * FROM '{_web_oracle_path()}'),
    raw AS (
      SELECT doc_id,
             unnest(regexp_extract_all(
               text, '(?i)\bhttps?://[^\s<>"'']+')) AS raw_url
      FROM web),
    cleaned AS (
      SELECT doc_id,
             regexp_replace(raw_url, '[.,;:!?)\]]+$', '') AS url
      FROM raw),
    hosted AS (
      SELECT doc_id, url,
        regexp_replace(lower(regexp_extract(regexp_replace(regexp_replace(
          url, '(?i)^https?://', ''), '^[^/@?#]*@', ''), '^[^/:?#]+')),
          '^www\.', '') AS host
      FROM cleaned),
    labeled AS (
      SELECT doc_id, url, host, string_split(host, '.') AS ls FROM hosted),
    parsed AS (
      SELECT doc_id, url, host,
        CASE WHEN regexp_matches(host, '^[0-9.]+$') OR len(ls) < 2 THEN host
             WHEN len(ls) >= 3 AND (ls[-2] || '.' || ls[-1]) IN ({sfx})
               THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
             ELSE ls[-2] || '.' || ls[-1] END AS domain
      FROM labeled)
    """


def sql_url_extract() -> str:
    return f"WITH {_sql_url_parsed()} SELECT doc_id, url, host, domain FROM parsed"


def q_url_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain corpus mix (ops/urls.domain_mix): URL
    occurrences + distinct citing docs, one map-side-combined agg — the
    input a rebalance pass (ops/split.rebalance_mix) consumes."""
    from rdf_tabular_spark.ops.urls import domain_mix

    return domain_mix(spark.read.parquet(_web_oracle_path()))


def sql_url_domain_mix() -> str:
    return (f"WITH {_sql_url_parsed()} "
            "SELECT domain, count(*) AS n_urls, "
            "count(DISTINCT doc_id) AS n_docs FROM parsed GROUP BY domain")


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist document filter (ops/urls.blocklist_filter):
    drop every doc citing a blocked registered domain — a pure map-only
    per-row array predicate (zero shuffles); survivors keep their URL
    count so the row carries evidence the extraction ran."""
    from rdf_tabular_spark.ops.urls import blocklist_filter, url_array

    docs = spark.read.parquet(_web_oracle_path())
    kept = blocklist_filter(docs, WEB_BLOCKLIST)
    return kept.select(
        "doc_id", F.size(url_array(F.col("text"))).alias("n_urls"))


def sql_url_blocklist() -> str:
    blocked = ",".join(f"'{d}'" for d in WEB_BLOCKLIST)
    return rf"""
    WITH {_sql_url_parsed()}
    SELECT doc_id,
           len(regexp_extract_all(
             text, '(?i)\bhttps?://[^\s<>"'']+')) AS n_urls
    FROM web
    WHERE doc_id NOT IN (
      SELECT doc_id FROM parsed WHERE domain IN ({blocked}))
    """


def _sql_boilerplate_sets(threshold: float = 0.5, min_docs: int = 3) -> str:
    """Shared CTE chain: staged web corpus -> per-site boilerplate
    line-hash sets, replaying ops/boilerplate.py's detection (md5 line
    identity, distinct-doc counts, strict > threshold)."""
    return f"""
    web AS (SELECT * FROM '{_web_oracle_path()}'),
    lines AS (
      SELECT site, doc_id, unnest(string_split(text, chr(10))) AS line
      FROM web),
    pl AS (
      SELECT site, md5(line) AS line_md5, count(DISTINCT doc_id) AS n_docs
      FROM lines WHERE line <> '' GROUP BY site, md5(line)),
    tot AS (SELECT site, count(*) AS site_docs FROM web GROUP BY site),
    bp AS (
      SELECT site, line_md5, n_docs, site_docs
      FROM pl JOIN tot USING (site)
      WHERE n_docs >= {min_docs}
        AND CAST(n_docs AS DOUBLE) / site_docs > {threshold}),
    sets AS (SELECT site, list(line_md5) AS bps FROM bp GROUP BY site)
    """


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site boilerplate detection (ops/boilerplate.boilerplate_lines,
    the CCNet shape): lines present in > half a site's documents."""
    from rdf_tabular_spark.ops.boilerplate import boilerplate_lines

    return boilerplate_lines(spark.read.parquet(_web_oracle_path()))


def sql_boilerplate_lines() -> str:
    return (f"WITH {_sql_boilerplate_sets()} "
            "SELECT site, line_md5, n_docs, site_docs FROM bp")


def q_boilerplate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal applied (ops/boilerplate.remove_boilerplate):
    every site's chrome lines cut from every doc, map-only against the
    broadcast per-site hash sets; pure-chrome docs come back empty, not
    dropped."""
    from rdf_tabular_spark.ops.boilerplate import remove_boilerplate

    return remove_boilerplate(spark.read.parquet(_web_oracle_path()))


def sql_boilerplate_clean() -> str:
    flt = ("list_filter(string_split(w.text, chr(10)), "
           "x -> NOT list_contains(COALESCE(s.bps, CAST([] AS VARCHAR[])), "
           "md5(x)))")
    return f"""
    WITH {_sql_boilerplate_sets()}
    SELECT w.doc_id, w.site,
           array_to_string({flt}, chr(10)) AS text,
           len(string_split(w.text, chr(10))) - len({flt}) AS n_removed
    FROM web w LEFT JOIN sets s USING (site)
    """


# (lang, rule order within lang, kind, regex with groups 1=name [2=detail],
#  group count) — the numbered-group twins of kg/extract.py LANG_RULES; the
# oracle depends on rule ORDER because per-file row_idx counts structures in
# (rule, match) order, exactly like the extraction UDF's concat + cumcount.
_KG_SQL_RULES = [
    ("python", 0, "import", r"(?m)^import\s+([\w.]+)(?:\s+as\s+(\w+))?", 2),
    ("python", 1, "import", r"(?m)^from\s+([\w.]+)\s+import\s+([\w*, ]+)", 2),
    ("python", 2, "def", r"(?m)^\s*def\s+(\w+)\s*\(([^)]*)\)", 2),
    ("python", 3, "class", r"(?m)^\s*class\s+(\w+)", 1),
    ("ruby", 0, "import", r"(?m)^require\s+['\"]([\w./-]+)['\"]", 1),
    ("ruby", 1, "def", r"(?m)^\s*def\s+([\w?!]+)", 1),
    ("ruby", 2, "class", r"(?m)^\s*class\s+(\w+)", 1),
    ("javascript", 0, "import", r"require\(['\"]([\w./@-]+)['\"]\)", 1),
    ("javascript", 1, "import",
     r"(?m)^import\s+.*?from\s+['\"]([\w./@-]+)['\"]", 1),
    ("javascript", 2, "def", r"function\s+(\w+)\s*\(", 1),
    ("javascript", 3, "class", r"class\s+(\w+)", 1),
    ("json", 0, "dep", r"\"([\w./@-]+)\"\s*:\s*\"([~^]?[\d][\w.+-]*)\"", 2),
]

_KG = "http://rdf-tabular-spark.dev/kg#"
_KGI = "http://rdf-tabular-spark.dev/kg/"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _sql_kg_base(src: str | None = None) -> str:
    """Shared CTE prelude: staged source scan -> extraction (`ext`) ->
    linking labels (`labels`, = normalized-equality grouping with canonical
    = min mention, bit-identical to kg/link.py on this vocabulary).
    *src* overrides the staged parquet path (incremental oracle reads v2)."""
    src = src or _kg_oracle_source_path()
    per_rule = []
    for j, (lang, rule_no, kind, rx, n_groups) in enumerate(_KG_SQL_RULES):
        details = (f"regexp_extract_all(content, $${rx}$$, 2)"
                   if n_groups == 2 else "[]::VARCHAR[]")
        per_rule.append(f"""
      SELECT repo, path, '{kind}' AS kind, {rule_no} AS rule_no, ord,
             names[ord] AS name,
             CASE WHEN len(details) >= ord
                  THEN nullif(details[ord], '') END AS detail
      FROM (
        SELECT repo, path, names, details,
               unnest(generate_series(1, len(names))) AS ord
        FROM (
          SELECT repo, path,
                 regexp_extract_all(content, $${rx}$$, 1) AS names,
                 {details} AS details
          FROM kgsrc WHERE lang = '{lang}'))""")
    union = "\n      UNION ALL".join(per_rule)
    return f"""
    WITH kgsrc AS (SELECT * FROM read_parquet('{src}')),
    raw AS ({union}),
    ext AS (
      SELECT repo, path, kind, name, detail,
             CAST(row_number() OVER (PARTITION BY repo, path
                                     ORDER BY rule_no, ord) - 1 AS INT)
               AS row_idx
      FROM raw),
    mentions AS (
      SELECT DISTINCT name AS mention FROM ext
      WHERE kind IN ('import', 'dep')),
    labels AS (
      SELECT mention, min(mention) OVER (PARTITION BY norm) AS canonical
      FROM (SELECT mention,
                   regexp_replace(regexp_replace(lower(mention), '^\\./', ''),
                                  '[/._-]+', '.', 'g') AS norm
            FROM mentions)),
    canon AS (
      SELECT e.repo, e.path, e.kind,
             coalesce(l.canonical, e.name) AS name, e.detail
      FROM ext e LEFT JOIN labels l ON e.name = l.mention
      WHERE e.kind IN ('import', 'dep')),
    defs AS (
      SELECT repo, path, kind, name, detail, row_idx FROM ext
      WHERE kind NOT IN ('import', 'dep'))"""


def sql_kg_triples(src: str | None = None) -> str:
    """DuckDB twin of the full pipeline output (kg/assemble.py build_graph):
    edge triples from the (repo, path, ekey, name)-deduped stream, module
    metadata from the label map, symbol metadata from distinct sets, file
    bundles + repo types straight off the source."""
    f_iri = "'{0}file/' || repo || '/' || path".format(_KGI)
    return _sql_kg_base(src) + f""",
    edges AS (
      SELECT DISTINCT repo, path,
             CASE WHEN kind IN ('def', 'class') THEN 'defsym' ELSE kind END
               AS ekey,
             name
      FROM (SELECT repo, path, kind, name FROM canon
            UNION ALL SELECT repo, path, kind, name FROM defs))
    SELECT {f_iri} AS subj,
           CASE ekey WHEN 'import' THEN '{_KG}imports'
                     WHEN 'dep' THEN '{_KG}dependsOn'
                     ELSE '{_KG}defines' END AS pred,
           CASE WHEN ekey = 'defsym' THEN '{_KGI}sym/' || repo || '/' || name
                ELSE '{_KGI}mod/' || name END AS obj,
           TRUE AS obj_is_iri, CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM edges
    UNION ALL
    SELECT '{_KGI}mod/' || canonical, '{_RDF_TYPE}', '{_KG}Module',
           TRUE, NULL, NULL
    FROM (SELECT DISTINCT canonical FROM labels)
    UNION ALL
    SELECT DISTINCT '{_KGI}mod/' || canonical, '{_KG}mention', mention,
           FALSE, NULL, NULL
    FROM labels
    UNION ALL
    SELECT DISTINCT '{_KGI}mod/' || name, '{_KG}versionSpec', detail,
           FALSE, NULL, NULL
    FROM canon WHERE kind = 'dep' AND detail IS NOT NULL
    UNION ALL
    SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype, obj_lang
    FROM (
      SELECT '{_KGI}sym/' || repo || '/' || name AS subj,
             '{_RDF_TYPE}' AS pred,
             CASE WHEN kind = 'class' THEN '{_KG}Class'
                  ELSE '{_KG}Function' END AS obj,
             TRUE AS obj_is_iri, CAST(NULL AS VARCHAR) AS obj_datatype,
             CAST(NULL AS VARCHAR) AS obj_lang
      FROM (SELECT DISTINCT repo, name, kind FROM defs)
      UNION ALL
      SELECT '{_KGI}sym/' || repo || '/' || name, '{_KG}name', name,
             FALSE, NULL, NULL
      FROM (SELECT DISTINCT repo, name, kind FROM defs))
    UNION ALL
    SELECT DISTINCT '{_KGI}sym/' || repo || '/' || name, '{_KG}atIndex',
           CAST(row_idx AS VARCHAR), FALSE,
           'http://www.w3.org/2001/XMLSchema#integer', NULL
    FROM defs
    UNION ALL
    SELECT {f_iri}, '{_RDF_TYPE}', '{_KG}File', TRUE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}inRepo', '{_KGI}repo/' || repo, TRUE, NULL, NULL
    FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}path', path, FALSE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}lang', lang, FALSE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}commit', commit, FALSE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}sha256', sha256(content), FALSE,
           'http://www.w3.org/2001/XMLSchema#hexBinary', NULL
    FROM kgsrc
    UNION ALL
    SELECT '{_KGI}repo/' || repo, '{_RDF_TYPE}', '{_KG}Repository',
           TRUE, NULL, NULL
    FROM (SELECT DISTINCT repo FROM kgsrc)
    """


def sql_kg_entities() -> str:
    return _sql_kg_base() + f"""
    SELECT '{_KGI}mod/' || canonical AS iri, 'Module' AS kind,
           canonical AS canonical_key,
           string_agg(DISTINCT mention, '|' ORDER BY mention) AS aliases
    FROM labels GROUP BY canonical
    """


def sql_kg_sha_invariant() -> str:
    """The per-row invariant as a REAL oracle: the Spark side returns the
    graph's (file, kg:sha256) pairs; the twin recomputes sha256(content)
    from the source. A hash-exact match IS end-to-end preservation —
    stronger than the old empty-symmetric-difference check, which compared
    empty to empty."""
    src = _kg_oracle_source_path()
    return f"""
    SELECT '{_KGI}file/' || repo || '/' || path AS subj,
           sha256(content) AS sha256
    FROM read_parquet('{src}')
    """


def _kg_stream_source_dir() -> str:
    """The staged oracle source split into 3 parquet files so the streaming
    ingest (availableNow, maxFilesPerTrigger=1) delivers 3 micro-batches."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    d = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_kg_oracle_stream_{KG_ORACLE_FILES}")
    marker = os.path.join(d, "_STAGED")  # leading _: ignored by Spark listing
    if os.path.exists(marker):
        return d
    tbl = pq.read_table(_kg_oracle_source_path())
    tmp = f"{d}.{os.getpid()}.tmp"
    os.makedirs(tmp, exist_ok=True)
    n = tbl.num_rows
    bounds = [0, n // 3, 2 * n // 3, n]
    for j in range(3):
        pq.write_table(tbl.slice(bounds[j], bounds[j + 1] - bounds[j]),
                       os.path.join(tmp, f"part-{j}.parquet"))
    with open(os.path.join(tmp, "_STAGED"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, d)
    except OSError:  # concurrent stager won
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return d


def q_kg_streaming_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming incremental KG ingest, oracle-checked: the
    staged source streams in 3 micro-batches (availableNow, one file per
    trigger) through the idempotent set-semantic sink merge
    (streaming/incremental.py); the sink must equal the DISTINCT batch
    file-level + mention-level edge triple set, which the DuckDB twin
    computes from the same parquet. Entity linking stays a periodic batch
    job by design (a stream hasn't seen the global mention vocabulary)."""
    import os
    import tempfile

    from rdf_tabular_spark.streaming.incremental import run_incremental_ingest

    work = tempfile.mkdtemp(prefix="rdf_tabular_spark_kg_stream_q_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    q = run_incremental_ingest(
        spark, _kg_stream_source_dir(), sink, ckpt, max_files_per_trigger=1)
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "incremental KG ingest did not drain within 600s — the sink "
            "would be partial; failing instead of comparing garbage")
    from rdf_tabular_spark.streaming.incremental import read_sink

    return read_sink(spark, sink)


def sql_kg_streaming_triples() -> str:
    f_iri = "'{0}file/' || repo || '/' || path".format(_KGI)
    return _sql_kg_base() + f""",
    sedges AS (
      SELECT DISTINCT repo, path,
             CASE WHEN kind IN ('def', 'class') THEN 'defsym' ELSE kind END
               AS ekey,
             name
      FROM ext)
    SELECT {f_iri} AS subj,
           CASE ekey WHEN 'import' THEN '{_KG}imports'
                     WHEN 'dep' THEN '{_KG}dependsOn'
                     ELSE '{_KG}defines' END AS pred,
           CASE WHEN ekey = 'defsym' THEN '{_KGI}sym/' || repo || '/' || name
                ELSE '{_KGI}mod/' || name END AS obj,
           TRUE AS obj_is_iri, CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM sedges
    UNION ALL
    SELECT {f_iri}, '{_RDF_TYPE}', '{_KG}File', TRUE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}inRepo', '{_KGI}repo/' || repo, TRUE, NULL, NULL
    FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}path', path, FALSE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}lang', lang, FALSE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}commit', commit, FALSE, NULL, NULL FROM kgsrc
    UNION ALL
    SELECT {f_iri}, '{_KG}sha256', sha256(content), FALSE,
           'http://www.w3.org/2001/XMLSchema#hexBinary', NULL
    FROM kgsrc
    """


def _kg_pipeline(src: DataFrame):
    """extract -> annotate -> link -> canonical dedup over a source table of
    input_hint shape (repo, path, commit, lang, content [, content_sha256])."""
    from rdf_tabular_spark.kg import annotate, extract, link
    from rdf_tabular_spark import TRIPLE_COLUMNS

    if "content_sha256" not in src.columns:
        src = src.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    # extraction feeds both the triple stream and the mention stream —
    # persist so the mapInPandas UDF runs once (the checkpointed KGPipeline
    # gets this for free from its per-stage parquet writes)
    # layout="source": the production source table (Iceberg, 10^12 files)
    # is written sorted by (repo, path); extraction is row-local, so the
    # hot path never re-shuffles content. The checkpointed KGPipeline keeps
    # the explicit repartitionByRange where stage outputs are written.
    # The persisted cache is projected to the columns the graph stages
    # actually read (commit/lang/content_sha256 ride the src scan instead)
    # — cache bytes are heap churn, and heap bandwidth is the scaling
    # ceiling of the JVM-side stages.
    # DISK_ONLY: the cache serializes once to spark.local.dir (tmpfs here,
    # executor NVMe on a cluster) instead of living as columnar blocks in
    # the heap — heap bandwidth is the scaling ceiling of the JVM stages,
    # and the measured whole-job throughput is ~10% higher this way.
    from pyspark import StorageLevel

    # emit_file_rows: the extraction UDF also emits one per-file row
    # (kind='file', detail='commit|lang|sha256'), so the per-file triple
    # bundle derives from the SAME scan — without it the graph stage
    # re-reads every content byte for sha256 (a second 100 TB scan, the
    # single largest cost of the production job)
    extracted_all = extract.extract_structures(
        src.drop("content_sha256"), layout="source", carry_sha=False,
        emit_file_rows=True).select(
        "repo", "path", "kind", "name", "detail", "row_idx").persist(
        StorageLevel.DISK_ONLY)
    file_rows = extracted_all.filter(F.col("kind") == "file")
    extracted = extracted_all.filter(F.col("kind") != "file")
    mentions = extracted.filter(F.col("kind").isin("import", "dep")).select(
        F.col("name").alias("mention"))
    labels = link.link_mentions(mentions, 0.55)
    entities = link.entity_table(labels)
    # set semantics without any triple-level dedup shuffle — see
    # rdf_tabular_spark/kg/assemble.py
    from rdf_tabular_spark.kg.assemble import build_graph

    triples = build_graph(src, extracted, labels, file_rows=file_rows)
    return src, entities, triples


def _kg_run(spark: SparkSession, n_files: int = 300):
    from rdf_tabular_spark.kg import synth

    src = synth.synth_source_table(spark, n_files).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    return _kg_pipeline(src)


def _kg_oracle_run(spark: SparkSession):
    """The full pipeline over the STAGED oracle source (same parquet the
    DuckDB twin reads)."""
    src = spark.read.parquet(_kg_oracle_source_path()).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    return _kg_pipeline(src)


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, triples = _kg_oracle_run(spark)
    return triples


def q_kg_dict_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-dictionary encoding roundtrip (kg/termdict.py — VERDICT r4
    Next-round #2, RDF-3X's dictionary design): the oracle-scale graph
    is hash-encoded map-side to (s,p,o) int64 ids, the vocabulary gets
    DENSE 0..V-1 ids (md5-bucket rank — layout-invariant, no global
    sort), injectivity is checked, the triples are remapped onto the
    dense ids, and the sink decodes back to strings. Output must equal
    the string-path kg_triples hash-exactly — proving decode∘remap∘
    encode == identity, so the id-based hot path computes the same
    graph while its shuffles move 8-byte longs instead of IRIs."""
    from rdf_tabular_spark.kg import termdict

    _, _, triples = _kg_oracle_run(spark)
    triples = triples.localCheckpoint()
    enc = termdict.encode_triples(triples)
    vocab = termdict.vocabulary(triples).localCheckpoint()
    termdict.check_injective(vocab)
    dense = termdict.dense_ids(vocab)
    remapped = termdict.remap_dense(enc, dense)
    return termdict.decode_triples(
        remapped, dense.select("term", F.col("dense_id").alias("id")))


def q_kg_dict_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank run ENTIRELY on dictionary-encoded edges (int64 node
    ids — graph.pagerank_edges over termdict.edge_list_encoded): every
    iteration's contribution shuffle moves 8-byte keys. Ranks join the
    dictionary once at the end to decode node IRIs. Must equal the
    string-path kg_pagerank twin hash-exactly (rank is invariant under
    the node renaming; the decode restores the names)."""
    from rdf_tabular_spark.kg import graph, termdict

    _, _, triples = _kg_oracle_run(spark)
    triples = triples.localCheckpoint()
    vocab = termdict.vocabulary(triples).localCheckpoint()
    termdict.check_injective(vocab)
    enc = termdict.encode_triples(triples)
    ranks = graph.pagerank_edges(termdict.edge_list_encoded(enc))
    return (
        ranks.join(vocab, ranks.node == vocab.id)
        .select(F.col("term").alias("node"),
                F.round("rank", 6).alias("rank"))
    )


def q_kg_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped graph serialization (kg/materialize.subject_adjacency):
    per (subj, pred) the sorted '|'-joined object list — the
    deterministic form behind graph_json_lines, the rdf-tabular to_json
    analog for the assembled graph. One hash agg keyed by (subj, pred)."""
    from rdf_tabular_spark.kg.materialize import subject_adjacency

    _, _, triples = _kg_oracle_run(spark)
    return subject_adjacency(triples)


def sql_kg_adjacency() -> str:
    return f"""
    WITH t AS ({sql_kg_triples()})
    SELECT subj, pred, string_agg(obj, '|' ORDER BY obj) AS objs
    FROM t GROUP BY subj, pred
    """


def q_kg_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity table with the aliases array serialized '|'-joined — the
    driver's pandas canonicalizer can't sort list cells (round-1 red row)."""
    _, entities, _ = _kg_oracle_run(spark)
    return entities.select(
        "iri", "kind", "canonical_key",
        F.concat_ws("|", "aliases").alias("aliases"))


def q_kg_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree over the assembled dependency graph
    (kg/graph.py degrees — two hash aggs + one full-outer merge)."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.degrees(triples)


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the dependency graph (kg/graph.py).
    Ranks rounded to 6 decimals so float summation order (parallel Spark
    sum vs sequential DuckDB sum) canonicalizes away."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.pagerank(triples).select(
        "node", F.round("rank", 6).alias("rank"))


def _sql_kg_edges() -> str:
    """Shared CTE text: the dependency edge list + node set over the
    kg_triples twin (wrapped as a derived table; DuckDB allows a nested
    WITH inside a FROM subquery)."""
    return f"""
    kgq AS MATERIALIZED ({sql_kg_triples()}),
    gedges AS MATERIALIZED (
      SELECT subj AS src, obj AS dst FROM kgq
      WHERE obj_is_iri
        AND pred IN ('{_KG}imports', '{_KG}dependsOn', '{_KG}defines')),
    gnodes AS MATERIALIZED (
      SELECT src AS node FROM gedges UNION SELECT dst FROM gedges)
    """


def sql_kg_degrees() -> str:
    return f"""
    WITH {_sql_kg_edges()},
    outd AS (SELECT src AS node, COUNT(*) AS out_degree
             FROM gedges GROUP BY src),
    ind AS (SELECT dst AS node, COUNT(*) AS in_degree
            FROM gedges GROUP BY dst)
    SELECT n.node,
           COALESCE(outd.out_degree, 0) AS out_degree,
           COALESCE(ind.in_degree, 0) AS in_degree
    FROM gnodes n
    LEFT JOIN outd ON n.node = outd.node
    LEFT JOIN ind ON n.node = ind.node
    """


def q_kg_rdfs_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS TBox closure (kg/infer.py tbox_closure: semi-naive iteration
    on the vocabulary-sized ontology alone — rdfs5/rdfs11 transitivity,
    domain/range rows carried through)."""
    from rdf_tabular_spark.kg import infer

    return infer.tbox_closure(infer.ontology_df(spark))


def q_kg_rdfs_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-new RDFS-inferred triples over the assembled code KG
    (kg/infer.py: rdfs2/3/7/9 as single broadcast joins of the instance
    stream against the closed TBox; the 10^12-row side never shuffles)."""
    from rdf_tabular_spark.kg import infer

    _, _, triples = _kg_oracle_run(spark)
    # the rule pass references the asserted graph several times (edge
    # rules + type rules + the final anti-join); materialize it once —
    # the production job reads an already-written triple table anyway
    return infer.inferred_only(
        triples.localCheckpoint(), infer.ontology_df(spark))


def _sql_onto_closure() -> str:
    """Shared CTE text: the CODE_ONTOLOGY as VALUES + its recursive
    closure (`closed`) — generated from the same Python list the Spark
    side reads, so the twins cannot drift."""
    from rdf_tabular_spark.kg import infer

    vals = ",\n      ".join("('%s','%s','%s')" % t for t in infer.CODE_ONTOLOGY)
    return f"""
    onto(subj, pred, obj) AS (VALUES {vals}),
    hier AS (SELECT DISTINCT subj, pred, obj FROM onto
             WHERE pred IN ('{infer.SUBCLASS}', '{infer.SUBPROP}')),
    cl AS (
      SELECT subj, pred, obj FROM hier
      UNION
      SELECT cl.subj, cl.pred, h.obj
      FROM cl JOIN hier h ON cl.obj = h.subj AND cl.pred = h.pred
    ),
    closed AS (
      SELECT subj, pred, obj FROM cl
      UNION ALL
      SELECT subj, pred, obj FROM onto
      WHERE pred NOT IN ('{infer.SUBCLASS}', '{infer.SUBPROP}')
    )"""


def sql_kg_rdfs_closure() -> str:
    return f"""
    WITH RECURSIVE {_sql_onto_closure()}
    SELECT subj, pred, obj FROM closed
    """


def sql_kg_rdfs_infer() -> str:
    from rdf_tabular_spark.kg import infer

    # the recursive closure lives in a nested subquery: sql_kg_triples()
    # carries its own WITH, and DuckDB won't scope both under one outer
    # WITH RECURSIVE list
    return f"""
    WITH closed AS MATERIALIZED (SELECT * FROM ({sql_kg_rdfs_closure()})),
    kgt AS MATERIALIZED ({sql_kg_triples()}),
    subprop AS (SELECT subj AS p, obj AS q FROM closed
                WHERE pred = '{infer.SUBPROP}'),
    subclass AS (SELECT subj AS c, obj AS d FROM closed
                 WHERE pred = '{infer.SUBCLASS}'),
    domains AS (SELECT subj AS p, obj AS c FROM closed
                WHERE pred = '{infer.DOMAIN}'),
    ranges AS (SELECT subj AS p, obj AS c FROM closed
               WHERE pred = '{infer.RANGE}'),
    derived_edges AS (
      SELECT t.subj, sp.q AS pred, t.obj, t.obj_is_iri
      FROM kgt t JOIN subprop sp ON t.pred = sp.p),
    edges_all AS (
      SELECT subj, pred, obj, obj_is_iri FROM kgt
      UNION ALL SELECT subj, pred, obj, obj_is_iri FROM derived_edges),
    dom_types AS (
      SELECT e.subj, d.c AS obj
      FROM edges_all e JOIN domains d ON e.pred = d.p),
    rng_types AS (
      SELECT e.obj AS subj, r.c AS obj
      FROM edges_all e JOIN ranges r ON e.pred = r.p WHERE e.obj_is_iri),
    asserted_types AS (
      SELECT subj, obj FROM kgt WHERE pred = '{_RDF_TYPE}'),
    types_all AS (
      SELECT subj, obj FROM asserted_types
      UNION ALL SELECT subj, obj FROM dom_types
      UNION ALL SELECT subj, obj FROM rng_types),
    super_types AS (
      SELECT t.subj, sc.d AS obj
      FROM types_all t JOIN subclass sc ON t.obj = sc.c),
    inferred AS (
      SELECT DISTINCT subj, pred, obj FROM (
        SELECT subj, '{_RDF_TYPE}' AS pred, obj FROM dom_types
        UNION ALL SELECT subj, '{_RDF_TYPE}', obj FROM rng_types
        UNION ALL SELECT subj, '{_RDF_TYPE}', obj FROM super_types
        UNION ALL SELECT subj, pred, obj FROM derived_edges))
    SELECT i.subj, i.pred, i.obj, TRUE AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM inferred i
    WHERE NOT EXISTS (
      SELECT 1 FROM kgt t
      WHERE t.subj = i.subj AND t.pred = i.pred AND t.obj = i.obj)
    """


def q_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (kg/query.construct): the co-import graph as NEW
    triples — one bag-semantics BGP match, per-template projections,
    one set-dedup on the instantiated (narrow) triple columns."""
    from rdf_tabular_spark.kg import query as kq

    _, _, triples = _kg_oracle_run(spark)
    return kq.construct(
        triples,
        [("?f", _KG + "imports", "?m"), ("?g", _KG + "imports", "?m")],
        template=[("?f", _KG + "coImports", "?g"),
                  ("?f", _RDF_TYPE, _KG + "CoImporter")],
        filters=["f < g"])


def sql_kg_construct() -> str:
    return f"""
    WITH kgt AS MATERIALIZED ({sql_kg_triples()}),
    imp AS (SELECT subj, obj FROM kgt WHERE pred = '{_KG}imports'),
    sols AS (SELECT a.subj AS f, b.subj AS g
             FROM imp a JOIN imp b ON a.obj = b.obj
             WHERE a.subj < b.subj)
    SELECT DISTINCT subj, pred, obj, TRUE AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM (
      SELECT f AS subj, '{_KG}coImports' AS pred, g AS obj FROM sols
      UNION ALL
      SELECT f, '{_RDF_TYPE}', '{_KG}CoImporter' FROM sols)
    """


def q_kg_construct_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CONSTRUCT view maintenance == full recompute,
    cross-engine (kg/query.construct_incremental — r4 delta rule):
    a deterministic ~1/4 slice of the imports edges arrives as the
    delta; Spark materializes the co-imports view WITHOUT them, then
    extends it with the delta terms only (each term joins the
    delta-sized factor first, probing the old graph — the old graph
    never re-joins itself). The DuckDB twin recomputes the full view
    from scratch: identical graphs is the maintenance invariant."""
    from rdf_tabular_spark.kg import query as kq

    _, _, triples = _kg_oracle_run(spark)
    triples = triples.localCheckpoint()  # multi-referenced split base
    is_delta = ((F.col("pred") == _KG + "imports")
                & F.substring(F.md5(F.col("subj")), 1, 1).isin(
                    "0", "1", "2", "3"))
    old = triples.filter(~is_delta)
    delta = triples.filter(is_delta)
    pats = [("?f", _KG + "imports", "?m"), ("?g", _KG + "imports", "?m")]
    tmpl = [("?f", _KG + "coImports", "?g"),
            ("?f", _RDF_TYPE, _KG + "CoImporter")]
    old_view = kq.construct(old, pats, template=tmpl, filters=["f < g"])
    inc = kq.construct_incremental(old, delta, pats, tmpl,
                                   filters=["f < g"], old_view=old_view)
    return old_view.unionByName(inc)


def sql_kg_construct_incremental() -> str:
    # the maintenance invariant: incremental == full recompute
    return sql_kg_construct()


def q_kg_rdfs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental RDFS maintenance == full recompute, cross-engine:
    Spark materializes the graph WITHOUT the kg:defines triples, then
    extends it incrementally with them (kg/infer.rdfs_incremental — only
    the delta pays inference, per the single-premise monotonicity
    argument); the DuckDB twin recomputes the full materialization from
    scratch."""
    from rdf_tabular_spark.kg import infer

    _, _, triples = _kg_oracle_run(spark)
    triples = triples.localCheckpoint()  # multi-referenced (see above)
    onto = infer.ontology_df(spark)
    old = triples.filter(F.col("pred") != _KG + "defines")
    delta = triples.filter(F.col("pred") == _KG + "defines")
    base = infer.rdfs_materialize(old, onto, include_tbox=False)
    return infer.rdfs_incremental(base, delta, onto)


def sql_kg_rdfs_incremental() -> str:
    return f"""
    SELECT subj, pred, obj, obj_is_iri, obj_datatype, obj_lang
    FROM ({sql_kg_triples()})
    UNION ALL
    SELECT * FROM ({sql_kg_rdfs_infer()})
    """


def sql_kg_pagerank(damping: float = 0.85, iterations: int = 8) -> str:
    """Unrolled power iteration (one CTE per step) — exactly the
    kg/graph.py formulation: dangling mass dropped, fixed step count.
    Recursive CTEs with aggregation in the recursive term are non-standard
    SQL, so the loop is generated here instead."""
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(f"""
    r{i} AS MATERIALIZED (
      SELECT n.node,
             (1 - {damping}) / (SELECT n FROM nn) + COALESCE(c.contrib, 0)
               AS rank
      FROM gnodes n
      LEFT JOIN (
        SELECT w.dst, SUM({prev}.rank * w.w) AS contrib
        FROM w JOIN {prev} ON w.src = {prev}.node
        GROUP BY w.dst) c
      ON n.node = c.dst)""")
        prev = f"r{i}"
    return f"""
    WITH {_sql_kg_edges()},
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM gnodes),
    outd AS (SELECT src, COUNT(*) AS od FROM gedges GROUP BY src),
    w AS MATERIALIZED (SELECT e.src, e.dst, {damping} / outd.od AS w
          FROM gedges e JOIN outd ON e.src = outd.src),
    r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM gnodes),
    {",".join(steps)}
    SELECT node, round(rank, 6) AS rank FROM {prev}
    """


def q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (kg/graph.pagerank(sources=...) — r4):
    teleport mass concentrated on the two lexicographically-smallest
    graph nodes (a driver-sized seed probe, mirrored by the twin's
    ORDER BY ... LIMIT 2 subquery); ranks measure dependency-proximity
    to the seeds. Same loop shape and cost as global PageRank — the
    seed set is a literal isin predicate, no extra join."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    edges = graph.edge_list(triples)
    seeds = [r.node for r in
             edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct().orderBy("node").limit(2).collect()]
    return graph.pagerank(triples, iterations=6, sources=seeds).select(
        "node", F.round("rank", 6).alias("rank"))


def sql_kg_ppr(damping: float = 0.85, iterations: int = 6) -> str:
    """Unrolled personalized power iteration: CASE-selected teleport
    base over the seed subquery, otherwise identical to sql_kg_pagerank."""
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(f"""
    r{i} AS MATERIALIZED (
      SELECT n.node,
             (CASE WHEN n.node IN (SELECT node FROM seeds)
                   THEN (1 - {damping}) / (SELECT COUNT(*) FROM seeds)
                   ELSE 0 END) + COALESCE(c.contrib, 0) AS rank
      FROM gnodes n
      LEFT JOIN (
        SELECT w.dst, SUM({prev}.rank * w.w) AS contrib
        FROM w JOIN {prev} ON w.src = {prev}.node
        GROUP BY w.dst) c
      ON n.node = c.dst)""")
        prev = f"r{i}"
    return f"""
    WITH {_sql_kg_edges()},
    seeds AS MATERIALIZED (SELECT node FROM gnodes ORDER BY node LIMIT 2),
    outd AS (SELECT src, COUNT(*) AS od FROM gedges GROUP BY src),
    w AS MATERIALIZED (SELECT e.src, e.dst, {damping} / outd.od AS w
          FROM gedges e JOIN outd ON e.src = outd.src),
    r0 AS MATERIALIZED (
      SELECT node, CASE WHEN node IN (SELECT node FROM seeds)
                        THEN 1.0 / (SELECT COUNT(*) FROM seeds)
                        ELSE 0 END AS rank
      FROM gnodes),
    {",".join(steps)}
    SELECT node, round(rank, 6) AS rank FROM {prev}
    """


def q_kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (kg/graph.hits — r4): unnormalized
    integer-exact rounds (hub_0 = 1, so every intermediate sum is an
    integer in doubles — bit-identical across engines and partitionings),
    L1-normalized ONCE at the end; rounded to 6 decimals only to
    canonicalize the final exact division's print format."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.hits(triples, iterations=3).select(
        "node", F.round("hub", 6).alias("hub"),
        F.round("auth", 6).alias("auth"))


def sql_kg_hits(iterations: int = 3) -> str:
    """Unrolled HITS rounds (one auth + one hub CTE per round), same
    integer-exact formulation; normalize + round at the end."""
    steps = []
    prev_h = "h0"
    for i in range(1, iterations + 1):
        steps.append(f"""
    a{i} AS MATERIALIZED (
      SELECT n.node, COALESCE(s.s, 0) AS auth
      FROM gnodes n LEFT JOIN (
        SELECT e.dst, SUM({prev_h}.hub) AS s
        FROM gedges e JOIN {prev_h} ON e.src = {prev_h}.node
        GROUP BY e.dst) s
      ON n.node = s.dst)""")
        steps.append(f"""
    h{i} AS MATERIALIZED (
      SELECT n.node, COALESCE(s.s, 0) AS hub
      FROM gnodes n LEFT JOIN (
        SELECT e.src, SUM(a{i}.auth) AS s
        FROM gedges e JOIN a{i} ON e.dst = a{i}.node
        GROUP BY e.src) s
      ON n.node = s.src)""")
        prev_h = f"h{i}"
    last = iterations
    return f"""
    WITH {_sql_kg_edges()},
    h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM gnodes),
    {",".join(steps)}
    SELECT h.node,
           round(h.hub / (SELECT SUM(hub) FROM h{last}), 6) AS hub,
           round(a.auth / (SELECT SUM(auth) FROM a{last}), 6) AS auth
    FROM h{last} h JOIN a{last} a ON h.node = a.node
    """


def q_kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental path (kg/delta.py): extraction of snapshot v1 + delta
    re-extraction of only the added/changed v2 files -> full v2 graph.
    The oracle recomputes v2 from scratch, so a green row IS the
    incremental == full-recompute invariant, cross-engine."""
    from rdf_tabular_spark.kg import delta, extract

    v1 = spark.read.parquet(_kg_oracle_source_path())
    v2 = spark.read.parquet(_kg_oracle_v2_path())
    prev = extract.extract_structures(
        v1, layout="source", carry_sha=False, emit_file_rows=True)
    _, _, triples = delta.incremental_graph(prev, v2)
    return triples


def sql_kg_incremental() -> str:
    return sql_kg_triples(src=_kg_oracle_v2_path())


def q_kg_graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-level diff of the v1 vs v2 oracle graphs
    (kg/delta.graph_diff): added/removed rows via two anti-joins; the
    unchanged majority never materializes. The twin recomputes BOTH
    graph versions from the staged sources and diffs them in SQL."""
    from rdf_tabular_spark.kg.delta import graph_diff

    _, _, old = _kg_oracle_run(spark)
    v2 = spark.read.parquet(_kg_oracle_v2_path()).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    _, _, new = _kg_pipeline(v2)
    # each graph feeds BOTH anti-joins: materialize once per version
    # (production diffs already-written snapshot tables)
    return graph_diff(old.localCheckpoint(), new.localCheckpoint())


def sql_kg_graph_diff() -> str:
    return f"""
    WITH oldg AS MATERIALIZED (
      SELECT subj, pred, obj FROM ({sql_kg_triples()})),
    newg AS MATERIALIZED (
      SELECT subj, pred, obj
      FROM ({sql_kg_triples(src=_kg_oracle_v2_path())}))
    SELECT DISTINCT 'added' AS change, n.subj, n.pred, n.obj
    FROM newg n
    WHERE NOT EXISTS (SELECT 1 FROM oldg o
                      WHERE o.subj = n.subj AND o.pred = n.pred
                        AND o.obj = n.obj)
    UNION ALL
    SELECT DISTINCT 'removed', o.subj, o.pred, o.obj
    FROM oldg o
    WHERE NOT EXISTS (SELECT 1 FROM newg n
                      WHERE n.subj = o.subj AND n.pred = o.pred
                        AND n.obj = o.obj)
    """


def q_kg_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive triple-pattern (BGP) query over the assembled graph
    (kg/query.py): files importing a typed Module, with their repo —
    three patterns joined on shared variables, SELECT DISTINCT."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    return match_bgp(triples, [
        ("?f", _KG + "imports", "?m"),
        ("?m", _RDF_TYPE, _KG + "Module"),
        ("?f", _KG + "inRepo", "?r"),
    ], project=["f", "m", "r"])


def sql_kg_bgp() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT i.subj AS f, i.obj AS m, r.obj AS r
    FROM kgq i
    JOIN kgq t ON t.subj = i.obj
              AND t.pred = '{_RDF_TYPE}' AND t.obj = '{_KG}Module'
    JOIN kgq r ON r.subj = i.subj AND r.pred = '{_KG}inRepo'
    WHERE i.pred = '{_KG}imports'
    """


def q_kg_bgp_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property-path operators beyond ``pred+`` (kg/query.py r3):
    inverse (^imports walks module -> importing file) composed with
    alternation (imports|dependsOn) on a shared variable. ``pred*``
    (zero-or-more) is pytest-covered (test_bgp) — its zero-length node
    set has no natural single-query SQL twin."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    return match_bgp(triples, [
        ("?m", "^" + _KG + "imports", "?f"),
        ("?f", _KG + "imports|" + _KG + "dependsOn", "?x"),
    ], project=["m", "f", "x"])


def sql_kg_bgp_paths() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT i.obj AS m, i.subj AS f, a.obj AS x
    FROM kgq i
    JOIN kgq a ON a.subj = i.subj
              AND a.pred IN ('{_KG}imports', '{_KG}dependsOn')
    WHERE i.pred = '{_KG}imports'
    """


def q_kg_bgp_alt_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure over a path ALTERNATION — SPARQL ``(imports|dependsOn)+``
    (kg/query._compile_path_pattern, r4): the union of the two
    predicates' edge sets is closed ONCE by the semi-naive BFS, which
    differs from ``imports+|dependsOn+`` (union of per-predicate
    closures) whenever a walk alternates predicates — exactly the
    file -> module -> transitive-dependency reach question. Scale
    shape: two predicate-filtered scans -> union -> semi-naive
    reachability on the edge list only; the triple table itself never
    re-shuffles, and the inRepo anchor joins after the closure."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    return match_bgp(triples, [
        ("?f", "(" + _KG + "imports|" + _KG + "dependsOn)+", "?x"),
        ("?f", _KG + "inRepo", "?repo"),
    ], project=["f", "x", "repo"])


def sql_kg_bgp_alt_closure(max_hops: int = 10) -> str:
    # recursion bound matches kg/query.DEFAULT_PATH_MAX_HOPS; the
    # recursive closure lives in a nested subquery because
    # sql_kg_triples() carries its own WITH (DuckDB scoping rule,
    # same shape as sql_csvw_describe)
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    reach AS MATERIALIZED (
      SELECT src, dst FROM (
        WITH RECURSIVE e AS (
          SELECT DISTINCT subj AS src, obj AS dst FROM kgq
          WHERE obj_is_iri
            AND pred IN ('{_KG}imports', '{_KG}dependsOn')),
        rr(src, dst, hops) AS (
          SELECT src, dst, 1 FROM e
          UNION
          SELECT rr.src, e.dst, rr.hops + 1
          FROM rr JOIN e ON rr.dst = e.src WHERE rr.hops < {max_hops})
        SELECT DISTINCT src, dst FROM rr))
    SELECT DISTINCT reach.src AS f, reach.dst AS x, t.obj AS repo
    FROM reach JOIN kgq t
      ON t.subj = reach.src AND t.pred = '{_KG}inRepo'
    """


def q_kg_construct_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT WHERE shorthand (kg/sparql.py §16.2.4, r4): the
    pattern doubles as the template, echoing the matched subgraph —
    files with BOTH an import and a repo edge echo those two edge
    sets. Bound-term metadata rides into the output (term_meta
    projection), so the echo is byte-faithful to the source triples."""
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    return sparql(triples, f"""
        PREFIX kg: <{_KG}>
        CONSTRUCT WHERE {{ ?f kg:imports ?m ; kg:inRepo ?r }}
    """)


def sql_kg_construct_where() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    anchored AS (SELECT DISTINCT i.subj FROM kgq i
             JOIN kgq r ON r.subj = i.subj AND r.pred = '{_KG}inRepo'
             WHERE i.pred = '{_KG}imports')
    SELECT DISTINCT t.subj, t.pred, t.obj, t.obj_is_iri,
           t.obj_datatype, t.obj_lang
    FROM kgq t JOIN anchored b ON t.subj = b.subj
    WHERE t.pred IN ('{_KG}imports', '{_KG}inRepo')
    """


def q_kg_bgp_seq_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure over a path SEQUENCE — SPARQL ``(dependsOn/^dependsOn)+``
    (kg/query._compile_path_pattern tuple form, r4): co-dependency
    reachability — modules connected through chains of shared
    dependencies. The sequence compiles once into its composite
    (src, dst) pair set (one self-join of the predicate-filtered edge
    list on the shared dependency), then the same semi-naive BFS
    closes it. Parsed from query TEXT so the (mod, …) tuple form rides
    the full parser -> engine path; the inverse step composes INSIDE
    the closed group."""
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    return sparql(triples, f"""
        PREFIX kg: <{_KG}>
        SELECT ?m ?x WHERE {{ ?m (kg:dependsOn/^kg:dependsOn)+ ?x }}
    """)


def sql_kg_bgp_seq_closure(max_hops: int = 10) -> str:
    # composite edges = one self-join of the dependsOn edge list;
    # recursion bound matches kg/query.DEFAULT_PATH_MAX_HOPS (each
    # recursive hop is one WHOLE composite edge, same as the engine)
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT src AS m, dst AS x FROM (
      WITH RECURSIVE dep AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM kgq
        WHERE obj_is_iri AND pred = '{_KG}dependsOn'),
      e2 AS (
        SELECT DISTINCT a.src, b.src AS dst
        FROM dep a JOIN dep b ON a.dst = b.dst),
      rr(src, dst, hops) AS (
        SELECT src, dst, 1 FROM e2
        UNION
        SELECT rr.src, e2.dst, rr.hops + 1
        FROM rr JOIN e2 ON rr.dst = e2.src WHERE rr.hops < {max_hops})
      SELECT DISTINCT src, dst FROM rr)
    """


def q_kg_bgp_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence property path (kg/query.py r3 tuple form): co-import
    pairs via imports/^imports — the two-step chain through a fresh
    intermediate variable, inverse composed INSIDE the sequence. The
    twin is the classic self-join on the shared module."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    imp = _KG + "imports"
    return match_bgp(triples, [
        ("?a", ("/", imp, "^" + imp), "?b"),
    ], project=["a", "b"])


def sql_kg_bgp_sequence() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT x.subj AS a, y.subj AS b
    FROM kgq x JOIN kgq y ON x.obj = y.obj
    WHERE x.pred = '{_KG}imports' AND y.pred = '{_KG}imports'
    """


def q_kg_bgp_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP BY / HAVING / ORDER+LIMIT (kg/query.aggregate_bgp +
    solution_modifiers): top-5 repos by distinct imported modules. The
    ORDER BY+LIMIT compiles to TakeOrderedAndProject (per-partition
    top-k heap), never a global sort."""
    from rdf_tabular_spark.kg.query import aggregate_bgp, solution_modifiers

    _, _, triples = _kg_oracle_run(spark)
    agg = aggregate_bgp(triples, [
        ("?f", _KG + "imports", "?m"),
        ("?f", _KG + "inRepo", "?r"),
    ], group_by=["r"], aggs={"n_modules": "count(distinct m)",
                             "n_links": "count(*)"},
        having=["n_modules >= 2"])
    return solution_modifiers(
        agg, order_by=["n_modules DESC", "n_links DESC", "r"], limit=5)


def sql_kg_bgp_aggregate() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT r.obj AS r, count(DISTINCT i.obj) AS n_modules,
           count(*) AS n_links
    FROM kgq i JOIN kgq r ON r.subj = i.subj AND r.pred = '{_KG}inRepo'
    WHERE i.pred = '{_KG}imports'
    GROUP BY r.obj
    HAVING count(DISTINCT i.obj) >= 2
    ORDER BY n_modules DESC, n_links DESC, r
    LIMIT 5
    """


def q_kg_bgp_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL BIND (kg/query.match_bgp bind= — r4): bind the module's
    local name (the IRI tail after ``kg:mod/``) and its length as new
    variables, then FILTER on the bound value — the classic
    BIND-then-FILTER shape. Pure per-row projections: no shuffle, the
    expressions stay inside whole-stage codegen."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    start = len(_KGI + "mod/") + 1  # 1-based substring start of the tail
    return match_bgp(triples, [
        ("?f", _KG + "imports", "?m"),
    ], bind={"local": f"substring(m, {start})",
             "local_len": f"cast(length(substring(m, {start})) as bigint)"},
        filters=["local_len >= 4"],
        project=["f", "m", "local", "local_len"])


def sql_kg_bgp_bind() -> str:
    start = len(_KGI + "mod/") + 1
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT subj AS f, obj AS m,
           substring(obj, {start}) AS local,
           CAST(length(substring(obj, {start})) AS BIGINT) AS local_len
    FROM kgq
    WHERE pred = '{_KG}imports'
      AND length(substring(obj, {start})) >= 4
    """


def q_kg_bgp_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 sub-SELECT (kg/query.subquery_bgp — r4): the inner
    query aggregates distinct imported modules per file, the outer BGP
    attaches each file's repo, and the composition filters to files
    importing >= 3 modules. SPARQL evaluates the subquery bottom-up and
    joins on the projected shared variable (?f) — here the aggregated
    inner set is small next to the outer solution multiset, so AQE
    broadcasts it and the outer stream never shuffles."""
    from rdf_tabular_spark.kg.query import aggregate_bgp, subquery_bgp

    _, _, triples = _kg_oracle_run(spark)
    inner = aggregate_bgp(triples, [
        ("?f", _KG + "imports", "?m"),
    ], group_by=["f"], aggs={"n_imports": "cast(count(distinct m) as bigint)"})
    return subquery_bgp(triples, [
        ("?f", _KG + "inRepo", "?r"),
    ], sub=inner, filters=["n_imports >= 3"],
        project=["r", "f", "n_imports"])


def sql_kg_bgp_subquery() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT r.obj AS r, r.subj AS f, sub.n_imports
    FROM kgq r
    JOIN (
      SELECT subj AS f, CAST(count(DISTINCT obj) AS BIGINT) AS n_imports
      FROM kgq WHERE pred = '{_KG}imports' GROUP BY subj
    ) sub ON sub.f = r.subj
    WHERE r.pred = '{_KG}inRepo' AND sub.n_imports >= 3
    """


def q_kg_bgp_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP_CONCAT + SAMPLE aggregates (kg/query.aggregate_bgp —
    the agg layer takes any SQL aggregate): per file, the sorted
    ';'-joined list of imported modules and a deterministic SAMPLE
    (min — SPARQL leaves SAMPLE implementation-defined; min is the
    reproducible choice). Sorting inside the aggregate
    (sort_array(collect_list(...))) makes the concatenation
    order-insensitive to partitioning — the only way GROUP_CONCAT is
    deterministic on a distributed engine."""
    from rdf_tabular_spark.kg.query import aggregate_bgp

    _, _, triples = _kg_oracle_run(spark)
    return aggregate_bgp(triples, [
        ("?f", _KG + "imports", "?m"),
    ], group_by=["f"], aggs={
        "mods": "array_join(sort_array(collect_set(m)), ';')",
        "sample_mod": "min(m)",
        "n": "cast(count(distinct m) as bigint)",
    })


def sql_kg_bgp_group_concat() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT subj AS f,
           string_agg(DISTINCT obj, ';' ORDER BY obj) AS mods,
           min(obj) AS sample_mod,
           CAST(count(DISTINCT obj) AS BIGINT) AS n
    FROM kgq WHERE pred = '{_KG}imports'
    GROUP BY subj
    """


def q_kg_bgp_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION (kg/query.union_bgp): every file->module relationship
    regardless of edge kind (imports UNION dependsOn), set semantics."""
    from rdf_tabular_spark.kg.query import union_bgp

    _, _, triples = _kg_oracle_run(spark)
    return union_bgp(triples, [
        [("?f", _KG + "imports", "?m")],
        [("?f", _KG + "dependsOn", "?m")],
    ], project=["f", "m"])


def sql_kg_bgp_union() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT subj AS f, obj AS m FROM kgq
    WHERE pred IN ('{_KG}imports', '{_KG}dependsOn')
    """


def _kg_snapshot_table(spark: SparkSession) -> str:
    """Stage (once, cached) the two-snapshot table: v1 and v2 oracle
    corpora committed as OVERWRITE snapshots. Built in a private dir
    then one atomic rename — a concurrent stager can never observe (or
    extend) a half-staged table (review r3: the earlier
    commit-into-the-shared-path guard could double-commit v1 under a
    race and poison the cache permanently)."""
    import os
    import tempfile

    from rdf_tabular_spark.sources.snapshots import SnapshotTable

    base = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_kg_snaptab_{KG_ORACLE_FILES}"
        f"_{_kg_synth_fingerprint()}")
    if not os.path.exists(base):
        import shutil

        tmp = f"{base}.{os.getpid()}.tmp"
        t = SnapshotTable(tmp)
        t.commit(spark.read.parquet(_kg_oracle_source_path()),
                 mode="overwrite")
        t.commit(spark.read.parquet(_kg_oracle_v2_path()), mode="overwrite")
        try:
            os.rename(tmp, base)
        except OSError:  # lost the race; the winner's table is complete
            shutil.rmtree(tmp)
    return base


def q_kg_sparql_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constructor/hash builtins through the text front-end (kg/sparql
    — r4 tail): IRI minting from CONCAT, SHA256 fingerprints and a
    CONTAINS filter, all compiled to Spark SQL expressions inside the
    same projection (no extra exchange). The twin uses DuckDB's native
    sha256/concat — byte-identical hex and IRIs is the contract."""
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    return sparql(triples, f"""
        PREFIX kg: <{_KG}>
        SELECT ?f ?h ?u WHERE {{
            ?f kg:inRepo ?r
            BIND(SHA256(STR(?f)) AS ?h)
            BIND(IRI(CONCAT("urn:repo-of:", ?r)) AS ?u)
            FILTER(CONTAINS(?r, "repo"))
        }}
    """)


def sql_kg_sparql_builtins() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT subj AS f, sha256(subj) AS h, 'urn:repo-of:' || obj AS u
    FROM kgq
    WHERE pred = '{_KG}inRepo' AND obj LIKE '%repo%'
    """


def q_kg_sparql_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath dateTime accessors through the text front-end (kg/sparql —
    r4 tail): events timestamps become xsd:dateTime LEXICAL literals in
    a triple table, then HOURS/SECONDS/DAY/MONTH read components back
    out of the lexical form (the literal's own timezone, per spec §17.4.5
    — pure regexp projections, no session-timezone cast, no exchange
    beyond the GROUP BY). The twin recomputes the same components with
    substr arithmetic over the identical strftime rendering — a green
    row proves the accessors agree with position-exact string reads."""
    from rdf_tabular_spark.kg.sparql import sparql

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    triples = ev.select(
        F.concat(F.lit("ev:"), F.col("event_id")).alias("subj"),
        F.lit("ev:at").alias("pred"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        F.lit("xsd:dateTime").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"))
    out = sparql(triples, """
        SELECT ?h (COUNT(?e) AS ?n) (MIN(?s) AS ?min_sec) WHERE {
            ?e <ev:at> ?t .
            BIND(HOURS(?t) AS ?h)
            BIND(SECONDS(?t) AS ?s)
            FILTER(MONTH(?t) = 1 && DAY(?t) <= 7)
        } GROUP BY ?h
    """)
    return out.withColumn("n", F.col("n").cast("long"))


def sql_kg_sparql_datetime() -> str:
    return """
    WITH lex AS (
      SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS t FROM events
    )
    SELECT CAST(substr(t, 12, 2) AS INT) AS h,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(CAST(substr(t, 18, 9) AS DOUBLE)) AS min_sec
    FROM lex
    WHERE CAST(substr(t, 6, 2) AS INT) = 1
      AND CAST(substr(t, 9, 2) AS INT) <= 7
    GROUP BY 1
    """


def q_kg_time_travel_sparql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel SPARQL (sources/snapshots.py × kg/sparql.py — r4
    seam composition): the KG is rebuilt from a snapshot READ pinned at
    version 1 (the table's CURRENT version is v2) and queried through
    the SPARQL text front-end. The twin computes the same aggregate
    over the plain v1 staged parquet — a green row proves the
    time-travel read is byte-identical to the historical corpus all the
    way through pipeline + query."""
    from rdf_tabular_spark.kg.sparql import sparql
    from rdf_tabular_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(_kg_snapshot_table(spark))
    src = t.read(spark, 1).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    _, _, triples = _kg_pipeline(src)
    out = sparql(triples, f"""
        PREFIX kg: <{_KG}>
        SELECT ?repo (COUNT(?f) AS ?n_files) WHERE {{
            ?f kg:inRepo ?repo
        }} GROUP BY ?repo
    """)
    return out.withColumn("n_files", F.col("n_files").cast("long"))


def sql_kg_time_travel_sparql() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT obj AS repo, CAST(COUNT(*) AS BIGINT) AS n_files
    FROM kgq WHERE pred = '{_KG}inRepo'
    GROUP BY obj
    """


def q_kg_snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage seam end-to-end (sources/snapshots.py): the v1 and v2
    oracle corpora committed as OVERWRITE snapshots of one
    snapshot-manifest table, then the incremental graph built from
    snapshot READS (time travel for v1, current for v2). The oracle
    recomputes v2 from the plain staged parquet, so a green row proves
    incremental-through-the-table-layer == full recompute, cross-engine."""
    from rdf_tabular_spark.kg import delta, extract
    from rdf_tabular_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(_kg_snapshot_table(spark))
    prev = extract.extract_structures(
        t.read(spark, 1), layout="source", carry_sha=False,
        emit_file_rows=True)
    _, _, triples = delta.incremental_graph(prev, t.read(spark, 2))
    return triples


def sql_kg_snapshot_incremental() -> str:
    return sql_kg_triples(src=_kg_oracle_v2_path())


def q_kg_bgp_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS (kg/query.minus_bgp): importing files that define NO
    class — compiles to a left-anti join on the shared variable, the
    same shuffle shape as the FK-integrity check (J1)."""
    from rdf_tabular_spark.kg.query import minus_bgp

    _, _, triples = _kg_oracle_run(spark)
    return minus_bgp(
        triples,
        [("?f", _KG + "imports", "?m"), ("?f", _KG + "inRepo", "?r")],
        minus=[("?f", _KG + "defines", "?s"),
               ("?s", _RDF_TYPE, _KG + "Class")],
    )


def sql_kg_bgp_minus() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    req AS (
      SELECT DISTINCT i.subj AS f, i.obj AS m, r.obj AS r
      FROM kgq i JOIN kgq r ON r.subj = i.subj AND r.pred = '{_KG}inRepo'
      WHERE i.pred = '{_KG}imports'),
    cls AS (
      SELECT DISTINCT d.subj AS f
      FROM kgq d JOIN kgq t ON t.subj = d.obj
                AND t.pred = '{_RDF_TYPE}' AND t.obj = '{_KG}Class'
      WHERE d.pred = '{_KG}defines')
    SELECT req.f, req.m, req.r FROM req
    LEFT JOIN cls ON req.f = cls.f WHERE cls.f IS NULL
    """


def q_kg_bgp_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER NOT EXISTS (kg/query.exists_bgp): import edges
    whose module never appears as a dependsOn target — semi/anti-join
    semantics distinct from MINUS (a variable-disjoint group is a truth
    test here, a loud error there)."""
    from rdf_tabular_spark.kg.query import exists_bgp

    _, _, triples = _kg_oracle_run(spark)
    return exists_bgp(
        triples,
        [("?f", _KG + "imports", "?m")],
        exists=[("?f", _KG + "dependsOn", "?m")], negate=True)


def sql_kg_bgp_not_exists() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT i.subj AS f, i.obj AS m
    FROM kgq i
    WHERE i.pred = '{_KG}imports'
      AND NOT EXISTS (
        SELECT 1 FROM kgq d
        WHERE d.pred = '{_KG}dependsOn'
          AND d.subj = i.subj AND d.obj = i.obj)
    """


def q_kg_bgp_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES (kg/query.values_bgp): parameter-batch the import
    BGP with an inline module list — one broadcast join, one plan for
    N keys."""
    from rdf_tabular_spark.kg.query import values_bgp

    _, _, triples = _kg_oracle_run(spark)
    mods = [{"m": _KGI + "mod/requests"}, {"m": _KGI + "mod/numpy"},
            {"m": _KGI + "mod/os"}, {"m": _KGI + "mod/no-such-module"}]
    return values_bgp(
        triples,
        [("?f", _KG + "imports", "?m"), ("?f", _KG + "inRepo", "?r")],
        values=mods)


def sql_kg_bgp_values() -> str:
    mods = ",".join(
        f"('{_KGI}mod/{m}')" for m in
        ("requests", "numpy", "os", "no-such-module"))
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    vals(m) AS (VALUES {mods})
    SELECT DISTINCT i.subj AS f, i.obj AS m, r.obj AS r
    FROM kgq i
    JOIN kgq r ON r.subj = i.subj AND r.pred = '{_KG}inRepo'
    JOIN vals ON i.obj = vals.m
    WHERE i.pred = '{_KG}imports'
    """


def q_kg_bgp_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK (kg/query.ask): existence probes as 1-row boolean
    results — limit(1) short-circuits the scan, nothing materializes.
    One positive and one negative probe, labeled."""
    from rdf_tabular_spark.kg.query import ask

    _, _, triples = _kg_oracle_run(spark)
    pos = ask(triples, [("?f", _KG + "imports", _KGI + "mod/os")]) \
        .select(F.lit("imports-os").alias("probe"), "ask")
    neg = ask(
        triples,
        [("?f", _KG + "imports", _KGI + "mod/no-such-module")]) \
        .select(F.lit("imports-missing").alias("probe"), "ask")
    return pos.unionByName(neg)


def sql_kg_bgp_ask() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT 'imports-os' AS probe,
           EXISTS(SELECT 1 FROM kgq WHERE pred = '{_KG}imports'
                  AND obj = '{_KGI}mod/os') AS ask
    UNION ALL
    SELECT 'imports-missing' AS probe,
           EXISTS(SELECT 1 FROM kgq WHERE pred = '{_KG}imports'
                  AND obj = '{_KGI}mod/no-such-module') AS ask
    """


def q_kg_bgp_negated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated property set (SPARQL 1.1 §9.1 ``!(p1|...|pn)``,
    kg/query._compile_pattern): one filtered triple scan — the NOT IN
    predicate filter pushes into the scan, no join, no closure."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    banned = "|".join([_KG + "imports", _KG + "dependsOn", _KG + "defines",
                       _RDF_TYPE, _KG + "path", _KG + "lang",
                       _KG + "commit", _KG + "sha256"])
    return match_bgp(triples, [("?f", f"!({banned})", "?o")],
                     project=["f", "o"])


def sql_kg_bgp_negated() -> str:
    banned = ",".join(
        f"'{p}'" for p in
        (_KG + "imports", _KG + "dependsOn", _KG + "defines", _RDF_TYPE,
         _KG + "path", _KG + "lang", _KG + "commit", _KG + "sha256"))
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT subj AS f, obj AS o
    FROM kgq WHERE pred NOT IN ({banned})
    """


def q_kg_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with OPTIONAL (kg/query.py): dependency edges with the
    module's version spec left-joined — modules without one keep NULL."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    return match_bgp(triples, [
        ("?f", _KG + "dependsOn", "?m"),
    ], optional=[("?m", _KG + "versionSpec", "?v")],
        project=["f", "m", "v"])


def sql_kg_bgp_optional() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT d.subj AS f, d.obj AS m, v.obj AS v
    FROM kgq d
    LEFT JOIN kgq v ON v.subj = d.obj AND v.pred = '{_KG}versionSpec'
    WHERE d.pred = '{_KG}dependsOn'
    """


def q_kg_shacl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite validation report of the assembled KG (kg/shacl.py):
    per-shape constraint checks as slice-local aggregations/anti-joins.
    The shape set is deliberately strict (every File must import
    something; canonical Modules may carry one mention) so the report is
    non-vacuous — the violations REFLECT real graph properties and the
    twin recomputes them."""
    from rdf_tabular_spark.kg import shacl
    from rdf_tabular_spark.kg.annotate import KG

    _, _, triples = _kg_oracle_run(spark)
    xsd = "http://www.w3.org/2001/XMLSchema#"
    shapes = [
        {"name": "FileSha", "target_class": KG + "File",
         "property": KG + "sha256", "min_count": 1, "max_count": 1,
         "datatype": xsd + "hexBinary"},
        {"name": "FileImports", "target_class": KG + "File",
         "property": KG + "imports", "min_count": 1},
        {"name": "ModuleSingleMention", "target_class": KG + "Module",
         "property": KG + "mention", "max_count": 1},
        {"name": "ImportsTyped", "target_class": KG + "File",
         "property": KG + "imports", "class": KG + "Module"},
    ]
    return shacl.validate_shapes(triples.localCheckpoint(), shapes)


def sql_kg_shacl_report() -> str:
    xsd = "http://www.w3.org/2001/XMLSchema#"
    return f"""
    WITH kgt AS MATERIALIZED ({sql_kg_triples()}),
    types AS (SELECT subj, obj FROM kgt WHERE pred = '{_RDF_TYPE}'),
    files AS (SELECT DISTINCT subj AS focus FROM types
              WHERE obj = '{_KG}File'),
    mods AS (SELECT DISTINCT subj AS focus FROM types
             WHERE obj = '{_KG}Module'),
    sha AS (SELECT subj, obj_is_iri, obj_datatype FROM kgt
            WHERE pred = '{_KG}sha256'),
    imp AS (SELECT subj, obj, obj_is_iri FROM kgt
            WHERE pred = '{_KG}imports'),
    men AS (SELECT subj FROM kgt WHERE pred = '{_KG}mention')
    SELECT DISTINCT * FROM (
      SELECT f.focus, 'FileSha' AS shape, 'cardinality' AS constraint,
             CAST(COUNT(s.subj) AS VARCHAR) AS detail
      FROM files f LEFT JOIN sha s ON s.subj = f.focus
      GROUP BY f.focus HAVING COUNT(s.subj) < 1 OR COUNT(s.subj) > 1
      UNION ALL
      SELECT s.subj, 'FileSha', 'datatype',
             COALESCE(s.obj_datatype, 'plain')
      FROM sha s JOIN files f ON s.subj = f.focus
      WHERE s.obj_is_iri OR s.obj_datatype IS DISTINCT FROM '{xsd}hexBinary'
      UNION ALL
      SELECT f.focus, 'FileImports', 'cardinality',
             CAST(COUNT(i.subj) AS VARCHAR)
      FROM files f LEFT JOIN imp i ON i.subj = f.focus
      GROUP BY f.focus HAVING COUNT(i.subj) < 1
      UNION ALL
      SELECT m.focus, 'ModuleSingleMention', 'cardinality',
             CAST(COUNT(x.subj) AS VARCHAR)
      FROM mods m LEFT JOIN men x ON x.subj = m.focus
      GROUP BY m.focus HAVING COUNT(x.subj) > 1
      UNION ALL
      SELECT i.subj, 'ImportsTyped', 'class', i.obj
      FROM imp i
      JOIN files f ON i.subj = f.focus
      WHERE i.obj_is_iri AND NOT EXISTS (
        SELECT 1 FROM mods m WHERE m.focus = i.obj))
    """


def q_kg_void_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID property-partition statistics of the assembled graph
    (kg/materialize.void_statistics — one multi-distinct agg keyed by
    the vocabulary-sized predicate set)."""
    from rdf_tabular_spark.kg import materialize

    _, _, triples = _kg_oracle_run(spark)
    return materialize.void_statistics(triples)


def sql_kg_void_stats() -> str:
    return f"""
    SELECT pred, COUNT(*) AS n_triples,
           COUNT(DISTINCT subj) AS distinct_subjects,
           COUNT(DISTINCT obj) AS distinct_objects,
           round(SUM(CASE WHEN obj_is_iri THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS iri_object_frac
    FROM ({sql_kg_triples()})
    GROUP BY pred
    """


def q_kg_repo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo rollup straight off the triple table — the everyday
    consumer query (files, languages, distinct imported modules per
    repo), expressed as one grouped aggregation over pivoted predicates."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    files = match_bgp(triples, [("?f", _KG + "inRepo", "?r")])
    langs = match_bgp(triples, [("?f", _KG + "lang", "?l"),
                                ("?f", _KG + "inRepo", "?r")])
    mods = match_bgp(triples, [("?f", _KG + "imports", "?m"),
                               ("?f", _KG + "inRepo", "?r")])
    return (
        files.groupBy("r").agg(F.count("*").alias("n_files"))
        .join(langs.groupBy("r").agg(
            F.countDistinct("l").alias("n_langs")), "r")
        .join(mods.groupBy("r").agg(
            F.countDistinct("m").alias("n_modules")), "r", "left")
        .select("r", "n_files", "n_langs",
                F.coalesce("n_modules", F.lit(0)).alias("n_modules"))
    )


def sql_kg_repo_stats() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    files AS (SELECT DISTINCT subj AS f, obj AS r FROM kgq
              WHERE pred = '{_KG}inRepo'),
    langs AS (SELECT DISTINCT k.subj AS f, k.obj AS l, fi.r
              FROM kgq k JOIN files fi ON k.subj = fi.f
              WHERE k.pred = '{_KG}lang'),
    mods AS (SELECT DISTINCT k.subj AS f, k.obj AS m, fi.r
             FROM kgq k JOIN files fi ON k.subj = fi.f
             WHERE k.pred = '{_KG}imports')
    SELECT fi.r, COUNT(*) AS n_files, lc.n_langs,
           COALESCE(mc.n_modules, 0) AS n_modules
    FROM files fi
    JOIN (SELECT r, COUNT(DISTINCT l) AS n_langs FROM langs GROUP BY r) lc
      ON fi.r = lc.r
    LEFT JOIN (SELECT r, COUNT(DISTINCT m) AS n_modules
               FROM mods GROUP BY r) mc ON fi.r = mc.r
    GROUP BY fi.r, lc.n_langs, mc.n_modules
    """


def q_graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure (kg/graph.py reachability — semi-naive
    BFS, the SPARQL property-path ``pred{1,n}`` primitive the BGP layer
    composes with) over a deterministic deep graph derived from customer:
    n -> floor(n/2) (binary-tree parent, ~10 levels at sf0.01) plus
    n -> n-1 for n <= 60 (adds diamonds so the min-hops anti-join path is
    exercised, not just tree paths)."""
    from rdf_tabular_spark.kg.graph import reachability

    n = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("n"))
    tree = n.filter(F.col("n") >= 2).select(
        F.col("n").alias("src"),
        F.floor(F.col("n") / 2).cast("long").alias("dst"))
    chain = n.filter((F.col("n") >= 2) & (F.col("n") <= 60)).select(
        F.col("n").alias("src"), (F.col("n") - 1).alias("dst"))
    return reachability(tree.unionByName(chain), max_hops=4)


def sql_graph_reachability(max_hops: int = 4) -> str:
    return f"""
    WITH RECURSIVE e AS (
      SELECT c_custkey AS src, CAST(floor(c_custkey / 2) AS BIGINT) AS dst
      FROM customer WHERE c_custkey >= 2
      UNION
      SELECT c_custkey, c_custkey - 1
      FROM customer WHERE c_custkey BETWEEN 2 AND 60),
    r(src, dst, hops) AS (
      SELECT src, dst, 1 FROM e
      UNION
      SELECT r.src, e.dst, r.hops + 1
      FROM r JOIN e ON r.dst = e.src WHERE r.hops < {max_hops})
    SELECT src, dst, MIN(hops) AS hops FROM r GROUP BY src, dst
    """


def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances (kg/graph.sssp_hops — r4): the
    frontier starts at ONE node, so the work is proportional to the
    source's neighborhood, never the all-pairs closure (the per-pair
    sibling is graph_reachability). Same deterministic diamond graph:
    n -> floor(n/2) plus n -> n-1 for n <= 60; seeded at the deepest
    node, so the min-hops rule is exercised through both the tree parent
    and the chain shortcuts."""
    from rdf_tabular_spark.kg.graph import sssp_hops

    n = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("n"))
    tree = n.filter(F.col("n") >= 2).select(
        F.col("n").alias("src"),
        F.floor(F.col("n") / 2).cast("long").alias("dst"))
    chain = n.filter((F.col("n") >= 2) & (F.col("n") <= 60)).select(
        F.col("n").alias("src"), (F.col("n") - 1).alias("dst"))
    seed = n.agg(F.max("n")).collect()[0][0]  # deepest tree node
    return sssp_hops(tree.unionByName(chain), str(seed), max_hops=20) \
        .select("node", F.col("hops").cast("bigint").alias("hops"))


def sql_graph_sssp(max_hops: int = 20) -> str:
    return f"""
    WITH RECURSIVE e AS (
      SELECT CAST(c_custkey AS VARCHAR) AS src,
             CAST(CAST(floor(c_custkey / 2) AS BIGINT) AS VARCHAR) AS dst
      FROM customer WHERE c_custkey >= 2
      UNION
      SELECT CAST(c_custkey AS VARCHAR), CAST(c_custkey - 1 AS VARCHAR)
      FROM customer WHERE c_custkey BETWEEN 2 AND 60),
    seed AS (SELECT CAST(max(c_custkey) AS VARCHAR) AS node FROM customer),
    r(node, hops) AS (
      SELECT node, 0 FROM seed
      UNION
      SELECT e.dst, r.hops + 1
      FROM r JOIN e ON r.node = e.src WHERE r.hops < {max_hops})
    SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM r GROUP BY node
    """


def q_dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair list -> dedup clusters -> canonical election
    (ops/dedup.dedup_clusters over the embedding-cosine pairs): one row
    per vector with (cluster_id, keep); filter(keep) is the deduped corpus."""
    from rdf_tabular_spark.ops.dedup import dedup_clusters, embedding_near_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    pairs = embedding_near_pairs(emb, threshold=0.2, block_col="label")
    return dedup_clusters(emb, pairs, id_col="vec_id")


def sql_dedup_cluster_assign(iterations: int = 10) -> str:
    """Same unrolled min-label propagation as sql_kg_components, seeded
    from the embedding-cosine pair graph; ids compared as strings on both
    sides (dedup_clusters casts to string for type-agnostic min)."""
    steps = []
    prev = "l0"
    for i in range(1, iterations + 1):
        steps.append(f"""
    l{i} AS MATERIALIZED (
      SELECT l.node, LEAST(l.label, COALESCE(m.nl, l.label)) AS label
      FROM {prev} l
      LEFT JOIN (
        SELECT u.x, MIN({prev}.label) AS nl
        FROM und u JOIN {prev} ON u.y = {prev}.node
        GROUP BY u.x) m
      ON l.node = m.x)""")
        prev = f"l{i}"
    return f"""
    WITH emb AS (
      SELECT vec_id, label AS blk,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    p AS MATERIALIZED (
      SELECT CAST(a.vec_id AS VARCHAR) AS a, CAST(b.vec_id AS VARCHAR) AS b
      FROM emb a JOIN emb b ON a.blk = b.blk AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, len(a.v)),
                                    i -> a.v[i] * b.v[i]))
            / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
               * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.2),
    und AS MATERIALIZED (SELECT a AS x, b AS y FROM p
            UNION ALL SELECT b, a FROM p),
    l0 AS MATERIALIZED (
      SELECT node, node AS label
      FROM (SELECT a AS node FROM p UNION SELECT b FROM p)),
    {",".join(steps)}
    SELECT CAST(d.vec_id AS VARCHAR) AS vec_id,
           COALESCE(lf.label, CAST(d.vec_id AS VARCHAR)) AS cluster_id,
           CAST(d.vec_id AS VARCHAR)
             = COALESCE(lf.label, CAST(d.vec_id AS VARCHAR)) AS keep
    FROM embeddings d
    LEFT JOIN {prev} lf ON CAST(d.vec_id AS VARCHAR) = lf.node
    """


def q_dedup_cluster_elect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper election (ops/dedup.elect_canonical) on the
    embedding dedup clusters: keep each cluster's highest-L2-norm member
    (the quality proxy the embeddings table supports), min-id on ties —
    the curation-grade replacement for the positional min-id keeper."""
    from rdf_tabular_spark.ops.dedup import (
        dedup_clusters, elect_canonical, embedding_near_pairs)

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    pairs = embedding_near_pairs(emb, threshold=0.2, block_col="label")
    clustered = dedup_clusters(emb, pairs, id_col="vec_id")
    scores = emb.select(
        "vec_id",
        F.aggregate("embedding", F.lit(0.0),
                    lambda acc, x: acc + x * x).alias("score"))
    out = elect_canonical(clustered.select("vec_id", "cluster_id"),
                          scores, id_col="vec_id")
    return out.select("vec_id", "cluster_id",
                      F.round("score", 6).alias("score"), "keep")


def sql_dedup_cluster_elect() -> str:
    """Cluster-assign twin + arg-max-by-(score, min id) election via a
    row_number window; the norm replays Spark's ordered double fold."""
    return f"""
    WITH cl AS MATERIALIZED ({sql_dedup_cluster_assign()}),
    sc AS (
      SELECT CAST(vec_id AS VARCHAR) AS vec_id,
             list_sum(list_transform(
               embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS score
      FROM embeddings),
    j AS (
      SELECT cl.vec_id, cl.cluster_id, sc.score
      FROM cl JOIN sc USING (vec_id)),
    w AS (
      SELECT vec_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY score DESC, vec_id ASC) AS rn
      FROM j)
    SELECT j.vec_id, j.cluster_id, ROUND(j.score, 6) AS score,
           j.vec_id = k.keeper AS keep
    FROM j JOIN (SELECT cluster_id, vec_id AS keeper FROM w WHERE rn = 1) k
      USING (cluster_id)
    """


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splitting (ops/split.leakage_safe_split): dup clusters
    from the embedding pair graph, then the md5 split keyed on the CLUSTER
    id — near-duplicates can never straddle train/test."""
    from rdf_tabular_spark.ops.dedup import dedup_clusters, embedding_near_pairs
    from rdf_tabular_spark.ops.split import leakage_safe_split

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    pairs = embedding_near_pairs(emb, threshold=0.2, block_col="label")
    clustered = dedup_clusters(emb, pairs, id_col="vec_id")
    return leakage_safe_split(clustered).select("vec_id", "cluster_id", "split")


def sql_split_leakage_safe() -> str:
    return f"""
    WITH cl AS MATERIALIZED ({sql_dedup_cluster_assign()})
    SELECT vec_id, cluster_id,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT vec_id, cluster_id,
             CAST(('0x' || substr(md5(COALESCE(cluster_id, '__null__')
                                      || '|split'), 1, 8)) AS BIGINT)
               % 10000 AS b
      FROM cl)
    """


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4/Gopher-style keep/drop decision with auditable per-rule
    reasons (ops/text.quality_filter) — the reasons array serialized for
    the driver canon (arrays are unhashable in its pandas sort)."""
    from rdf_tabular_spark.ops.text import quality_filter

    docs = _t(spark, sf_dir, "documents")
    out = quality_filter(docs, min_stopword_ratio=0.05,
                         max_top_word_frac=0.12, max_dup_2gram_frac=0.2)
    return out.select(
        "doc_id", "keep",
        F.concat_ws("|", "drop_reasons").alias("reasons"))


def sql_text_quality_filter() -> str:
    """Composes the two PROVEN hash-exact feature twins (sql_text_quality,
    sql_text_repetition) and applies the same thresholds on the same 6-dp
    rounded ratios as ops/text.quality_filter."""
    return f"""
    WITH q AS MATERIALIZED ({sql_text_quality()}),
    rep AS MATERIALIZED ({sql_text_repetition()}),
    r AS (
      SELECT q.doc_id,
             concat_ws('|',
               CASE WHEN q.n_tokens NOT BETWEEN 10 AND 100000 THEN 'length' END,
               CASE WHEN q.punct_ratio > 0.2 THEN 'punct' END,
               CASE WHEN q.stopword_ratio < 0.05 THEN 'stopwords' END,
               CASE WHEN rep.top_word_frac > 0.12 THEN 'top_word' END,
               CASE WHEN rep.dup_2gram_frac > 0.2 THEN 'dup_2gram' END) AS reasons
      FROM q JOIN rep ON q.doc_id = rep.doc_id)
    SELECT doc_id, reasons = '' AS keep, reasons FROM r
    """


def _staging_key(src_file: str) -> str:
    """Source-identity fingerprint for /tmp staging dirs: path + size +
    mtime, so two datasets of equal row count can never share a stage
    (single home — review r2 found the derivation duplicated)."""
    import hashlib
    import os

    st = os.stat(src_file)
    return hashlib.md5(
        f"{os.path.abspath(src_file)}|{st.st_size}|{st.st_mtime_ns}"
        .encode()).hexdigest()[:12]


def _doc_stream_dir(sf_dir: str) -> str:
    """The sf documents table staged as 3 parquet files so the streaming
    dedup (availableNow, maxFilesPerTrigger=1) delivers 3 micro-batches.
    Same idempotent rename dance as _kg_stream_source_dir."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    src_file = f"{sf_dir}/documents.parquet"
    tbl = pq.read_table(src_file)
    key = _staging_key(src_file)
    d = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_docs_stream_{tbl.num_rows}_{key}")
    marker = os.path.join(d, "_STAGED")
    if os.path.exists(marker):
        return d
    tmp = f"{d}.{os.getpid()}.tmp"
    os.makedirs(tmp, exist_ok=True)
    n = tbl.num_rows
    bounds = [0, n // 3, 2 * n // 3, n]
    for j in range(3):
        pq.write_table(tbl.slice(bounds[j], bounds[j + 1] - bounds[j]),
                       os.path.join(tmp, f"part-{j}.parquet"))
    with open(os.path.join(tmp, "_STAGED"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, d)
    except OSError:  # concurrent stager won
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return d


def _event_stream_dir(sf_dir: str) -> str:
    """The events table staged TIME-SORTED into 3 parquet files — the
    per-user time-ordered arrival the streaming funnel's state-merge
    correctness argument requires (lexicographic file pickup ==
    event-time order)."""
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src_file = f"{sf_dir}/events.parquet"
    tbl = pq.read_table(src_file)
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    key = _staging_key(src_file)
    d = os.path.join(
        tempfile.gettempdir(),
        f"rdf_tabular_spark_events_stream_v2_{tbl.num_rows}_{key}")
    marker = os.path.join(d, "_STAGED")
    if os.path.exists(marker):
        return d
    tmp = f"{d}.{os.getpid()}.tmp"
    os.makedirs(tmp, exist_ok=True)
    n = tbl.num_rows
    bounds = [0, n // 3, 2 * n // 3, n]
    for j in range(3):
        p = os.path.join(tmp, f"part-{j}.parquet")
        pq.write_table(tbl.slice(bounds[j], bounds[j + 1] - bounds[j]), p)
        # FileStreamSource orders micro-batches by MODIFICATION TIME —
        # pin strictly increasing mtimes so batch pickup order matches
        # the event-time slicing (the funnel's arrival contract)
        os.utime(p, (1700000000 + j * 10, 1700000000 + j * 10))
    with open(os.path.join(tmp, "_STAGED"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, d)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return d


def _drained_stream_sink(spark: SparkSession, sf_dir: str, kind: str,
                         runner) -> DataFrame:
    """Run a Structured Streaming query to completion into a
    CONTENT-KEYED sink dir and return the drained sink. The dir is
    keyed on the staged source (same discipline as _event_stream_dir),
    so repeated correctness/bench invocations against the same input
    reuse the already-drained sink instead of leaking a fresh
    mkdtemp per run (ADVICE r4: the per-invocation work dirs — sink +
    checkpoint — accumulated unbounded temp data, and a failed
    awaitTermination orphaned the checkpoint). A failed drain now
    removes its .tmp work dir before raising; the committed dir is
    bounded at one per (kind, source-content) pair."""
    import os
    import shutil
    import tempfile

    src = _event_stream_dir(sf_dir)
    key = _staging_key(f"{sf_dir}/events.parquet")
    work = os.path.join(
        tempfile.gettempdir(), f"rdf_tabular_spark_{kind}_sink_{key}")
    marker = os.path.join(work, "_DRAINED")
    if os.path.exists(marker):
        return spark.read.parquet(os.path.join(work, "sink"))
    schema = spark.read.parquet(src).schema
    tmp = f"{work}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    try:
        q = runner(spark, src, os.path.join(tmp, "sink"),
                   os.path.join(tmp, "ckpt"), schema)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(f"{kind} stream did not drain within 600s")
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    # a streaming FILE sink leaves a _spark_metadata commit log whose
    # entries hold absolute .tmp paths — drop it before the rename (all
    # part files are committed once the drain returned; the dir is then
    # plain parquet)
    shutil.rmtree(os.path.join(tmp, "sink", "_spark_metadata"),
                  ignore_errors=True)
    with open(os.path.join(tmp, "_DRAINED"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, work)
    except OSError:  # lost a concurrent race — the winner's dir serves
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(os.path.join(work, "sink"))


def q_events_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (streaming/incremental.
    run_streaming_join — r4 tail 4): view→click pairs of the same user
    within 1 day, joined by Spark's native symmetric state join across
    3 time-sliced micro-batches (pairs CROSS batch boundaries through
    the join state). Drained sink must equal the twin's batch range
    join row-for-row."""
    from rdf_tabular_spark.streaming.incremental import run_streaming_join

    return _drained_stream_sink(spark, sf_dir, "ssjoin", run_streaming_join)


def sql_events_streaming_join(window_sec: int = 86_400) -> str:
    return f"""
    SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
           l.ts AS l_ts, r.ts AS r_ts
    FROM events l JOIN events r ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL {window_sec} SECONDS
    WHERE l.event_type = 'view' AND r.event_type = 'click'
    """


def q_events_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming strict-order funnel (streaming/incremental.
    run_streaming_funnel — r4): per-user conversion vectors maintained
    across 3 time-ordered micro-batches; conversions may CROSS batches
    (the state-merge evaluates batch stage arrays against the merged
    predecessor). The drained sink must equal the batch recurrence the
    twin computes from scratch."""
    from rdf_tabular_spark.streaming.incremental import \
        run_streaming_funnel

    return _drained_stream_sink(
        spark, sf_dir, "funnel",
        lambda s, src, sink, ckpt, schema: run_streaming_funnel(
            s, src, sink, ckpt, schema, ["view", "click", "purchase"]))


def sql_events_streaming_funnel() -> str:
    return """
    WITH base AS (
      SELECT DISTINCT user_id AS u FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    t1 AS (
      SELECT user_id AS u, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
      JOIN t1 ON e.user_id = t1.u AND e.ts > t1.t
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
      JOIN t2 ON e.user_id = t2.u AND e.ts > t2.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT base.u AS user, t1.t AS t_1, t2.t AS t_2, t3.t AS t_3
    FROM base
    LEFT JOIN t1 ON base.u = t1.u
    LEFT JOIN t2 ON base.u = t2.u
    LEFT JOIN t3 ON base.u = t3.u
    """


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming exact dedup, oracle-checked: documents arrive
    in 3 micro-batches; each batch min-merges (fingerprint -> min doc_id)
    into the sink (streaming/incremental.run_streaming_dedup). The merge
    is a commutative idempotent min-register, so the drained sink equals
    the batch GROUP BY — which is exactly what the DuckDB twin computes.
    Same 30-char prefix fingerprint as dedup_exact (real dup groups)."""
    import os
    import tempfile

    from rdf_tabular_spark.streaming.incremental import run_streaming_dedup

    src = _doc_stream_dir(sf_dir)
    schema = spark.read.parquet(src).schema
    work = tempfile.mkdtemp(prefix="rdf_tabular_spark_dedup_stream_q_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    q = run_streaming_dedup(spark, src, sink, ckpt, schema,
                            prefix_chars=30, max_files_per_trigger=1)
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "streaming dedup did not drain within 600s — the sink would "
            "be partial; failing instead of comparing garbage")
    from rdf_tabular_spark.streaming.incremental import read_sink

    return read_sink(spark, sink)


def sql_streaming_dedup() -> str:
    return r"""
    SELECT md5(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      1, 30)) AS fp,
           min(doc_id) AS doc_id
    FROM documents GROUP BY fp
    """


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (ops/text.ngram_lm_score): LM trained on
    the deterministic train split, every document scored under stupid
    backoff; per-term integer micro-nat quantization makes the per-doc
    aggregate partition-order-independent (double sums are not)."""
    from rdf_tabular_spark.ops.split import hash_split
    from rdf_tabular_spark.ops.text import ngram_lm_score

    docs = _t(spark, sf_dir, "documents")
    train = hash_split(docs).filter(F.col("split") == "train")
    return ngram_lm_score(docs, lm_docs=train)


def sql_text_lm_score() -> str:
    # 0.4*0.4 must be DOUBLE math (DuckDB would fold decimal literals
    # exactly to 0.16; Python/Spark doubles give 0.16000000000000003)
    return r"""
    WITH train AS (
      SELECT doc_id, text FROM documents
      WHERE CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                               '__null__') || '|split'),
                                 1, 8)) AS BIGINT) % 10000 < 9000),
    tok_lm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM train WHERE trim(text) <> ''),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(toks) AS w FROM tok_lm) GROUP BY w),
    big AS (
      SELECT w1, w2, count(*) AS c2 FROM (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM tok_lm, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE len(toks) >= 2)
      GROUP BY w1, w2),
    n AS (SELECT sum(c1) AS n_total FROM uni),
    tok_all AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents WHERE trim(text) <> ''),
    dbg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM tok_all, unnest(generate_series(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2),
    terms AS (
      SELECT dbg.doc_id,
             CAST(round(ln(
               CASE WHEN big.c2 IS NOT NULL THEN big.c2 / u1.c1
                    WHEN u2.c1 IS NOT NULL
                      THEN CAST(0.4 AS DOUBLE) * u2.c1 / n.n_total
                    ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) / n.n_total
               END) * 1e6) AS BIGINT) AS q
      FROM dbg
      LEFT JOIN big ON dbg.w1 = big.w1 AND dbg.w2 = big.w2
      LEFT JOIN uni u1 ON dbg.w1 = u1.w
      LEFT JOIN uni u2 ON dbg.w2 = u2.w
      CROSS JOIN n),
    per AS (
      SELECT doc_id, count(*) AS nb, sum(q) AS qs FROM terms GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(per.nb, 0) AS n_bigrams,
           round(per.qs / per.nb / 1e6, 6) AS lm_score
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per ON d.doc_id = per.doc_id
    """


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL document source (the interchange format LLM corpora ship
    in): the documents table staged as JSON Lines, read back with
    spark.read.json under an explicit schema (schema-on-read; never
    inference over 100 TB), compared hash-exact against the parquet
    ground truth the DuckDB twin reads — a cross-engine proof that the
    JSONL path preserves every value (escaping, unicode, NULLs)."""
    import json
    import os
    import tempfile

    import pyarrow.parquet as pq

    src_file = f"{sf_dir}/documents.parquet"
    key = _staging_key(src_file)
    path = os.path.join(tempfile.gettempdir(),
                        f"rdf_tabular_spark_docs_{key}.jsonl")
    if not os.path.exists(path):
        tbl = pq.read_table(src_file).to_pylist()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            for row in tbl:
                f.write(json.dumps(row, ensure_ascii=False,
                                   sort_keys=True) + "\n")
        os.replace(tmp, path)
    return spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(path).select("doc_id", "text", "lang", "source", "n_chars")


def sql_jsonl_roundtrip() -> str:
    return """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunker (ops/pack.chunk_documents): 32-token windows,
    8-token overlap (small enough that sf docs genuinely split — the
    128/32 default produced one chunk per doc, proving nothing about the
    overlap math) — map-only explode, no shuffle anywhere."""
    from rdf_tabular_spark.ops.pack import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


def sql_chunk_documents(chunk: int = 32, overlap: int = 8) -> str:
    stride = chunk - overlap
    return rf"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(COALESCE(text, '')),
                                              '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    f AS (
      SELECT doc_id, toks, len(toks) AS n
      FROM t WHERE len(toks) > 0 AND toks[1] <> ''),
    c AS (
      SELECT doc_id, toks, n,
             CAST(ceil(greatest(n - {overlap}, 1) / {stride}.0) AS INT)
               AS n_chunks
      FROM f)
    SELECT doc_id, CAST(k AS INT) AS chunk_idx,
           CAST(least({chunk}, n - k * {stride}) AS INT) AS n_tokens,
           array_to_string(toks[k * {stride} + 1 : k * {stride} + {chunk}],
                           ' ') AS chunk_text
    FROM c, unnest(generate_series(0, n_chunks - 1)) AS u(k)
    """


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (ops/bpe.bpe_train): 8 merges learned from
    the documents corpus; merges iterate over the word-frequency table
    (one corpus-scale agg total), each iteration = one vocab shuffle + a
    1-row collect. rows-only check: each step re-segments every word, an
    iterative fixpoint ANSI SQL can't express — correctness is pinned by
    the pure-Python reference parity tests (tests/test_bpe.py)."""
    from rdf_tabular_spark.ops.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count long")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization at scale (ops/bpe.bpe_encode, engine="udf"): the
    32k-merge-ready path — broadcast merge-rank map + Arrow-batched
    mapInPandas, zero shuffles, native word split. rows-only check: the
    min-rank merge loop is iterative per word; correctness is pinned by
    the three-way parity tests (udf == native folds == pure-Python
    reference, incl. 1k merges: tests/test_bpe.py)."""
    from rdf_tabular_spark.ops.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    return (
        bpe_encode(docs, merges, engine="udf")
        .select("doc_id", "n_bpe_tokens",
                F.concat_ws(" ", "bpe_tokens").alias("bpe_text"))
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup (ops/text.corpus_stats): per-language doc and
    token totals + quality_filter keep rate. All aggregates are integer
    sums; ratios derived after the agg — no order-dependent double sum."""
    from rdf_tabular_spark.ops.text import corpus_stats

    docs = _t(spark, sf_dir, "documents")
    return corpus_stats(docs, min_stopword_ratio=0.05,
                        max_top_word_frac=0.12, max_dup_2gram_frac=0.2)


def sql_corpus_stats() -> str:
    return f"""
    WITH q AS MATERIALIZED ({sql_text_quality()}),
    rep AS MATERIALIZED ({sql_text_repetition()}),
    dec AS (
      SELECT q.doc_id, rep.n_tokens,
             concat_ws('|',
               CASE WHEN q.n_tokens NOT BETWEEN 10 AND 100000 THEN 'length' END,
               CASE WHEN q.punct_ratio > 0.2 THEN 'punct' END,
               CASE WHEN q.stopword_ratio < 0.05 THEN 'stopwords' END,
               CASE WHEN rep.top_word_frac > 0.12 THEN 'top_word' END,
               CASE WHEN rep.dup_2gram_frac > 0.2 THEN 'dup_2gram' END)
               = '' AS keep
      FROM q JOIN rep ON q.doc_id = rep.doc_id)
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(dec.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN dec.keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(SUM(CASE WHEN dec.keep THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS keep_rate,
           round(SUM(dec.n_tokens) / COUNT(*), 6) AS mean_tokens
    FROM documents d JOIN dec ON d.doc_id = dec.doc_id
    GROUP BY d.lang
    """


def q_corpus_stats_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental == full invariant for dataset-card stats: the corpus
    arrives as 3 disjoint batches, each aggregated independently
    (corpus_stats_partial), the partials merged (integer sums — the
    algebraic property that makes the stats maintainable without ever
    re-scanning the corpus) and finalized. The oracle twin computes the
    stats over the WHOLE corpus in one pass — a green row IS the
    incremental-maintenance invariant, cross-engine."""
    from rdf_tabular_spark.ops.text import (
        corpus_stats_finalize, corpus_stats_merge, corpus_stats_partial)

    docs = _t(spark, sf_dir, "documents")
    kw = dict(min_stopword_ratio=0.05, max_top_word_frac=0.12,
              max_dup_2gram_frac=0.2)
    parts = [
        corpus_stats_partial(docs.filter(F.col("doc_id") % 3 == i), **kw)
        for i in range(3)
    ]
    return corpus_stats_finalize(corpus_stats_merge(*parts))


def q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length quantiles (ops/text
    corpus_length_quantiles): exact percentile here so DuckDB's
    quantile_cont (same linear interpolation, verified bit-equal) can
    check it; approx_percentile is the documented 100 TB path."""
    from rdf_tabular_spark.ops.text import corpus_length_quantiles

    docs = _t(spark, sf_dir, "documents")
    return corpus_length_quantiles(docs)


def sql_corpus_quantiles() -> str:
    return r"""
    WITH c AS (
      SELECT lang,
             len(list_filter(regexp_split_to_array(trim(COALESCE(text, '')),
                                                   '\s+'),
                             t -> t <> '')) AS n_tokens
      FROM documents)
    SELECT lang,
           round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
           round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
           round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
    FROM c GROUP BY lang
    """


def q_select_top_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group best-k selection (ops/text.top_k_per_group): the 3
    highest-quality docs per language, ties broken on doc_id — the SFT
    data-selection shape. Rank window partitioned by the group; no
    global sort."""
    from rdf_tabular_spark.ops.text import quality_score, top_k_per_group

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs).select("lang", "doc_id", "quality")
    return top_k_per_group(scored, k=3, group_col="lang",
                           order_col="quality", tiebreak_col="doc_id")


def q_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection (ops/split.select_token_budget
    — r4 tail 4): fill a 15k-token training budget with the
    highest-quality documents first, order = (quality DESC, md5(doc_id),
    doc_id), maximal prefix with cumulative tokens ≤ budget. The engine
    computes the set via two histogram rounds + one bounded-range window
    (no global sort); the twin IS the naive global cumulative window —
    two different algorithms, one answer."""
    from rdf_tabular_spark.ops.split import select_token_budget
    from rdf_tabular_spark.ops.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs).select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000).cast("long")
        .alias("quality_micro"),
        F.col("n_tokens").cast("long").alias("n_tokens"))
    return select_token_budget(scored, budget_tokens=15_000)


def sql_select_token_budget(budget: int = 15_000) -> str:
    return f"""
    WITH q AS MATERIALIZED ({sql_text_quality()}),
    s AS (
      SELECT doc_id,
             CAST(ROUND(quality * 1000000) AS BIGINT) AS quality_micro,
             CAST(n_tokens AS BIGINT) AS n_tokens
      FROM q),
    o AS (
      SELECT *, SUM(n_tokens) OVER (
        ORDER BY quality_micro DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM s)
    SELECT doc_id, quality_micro, n_tokens FROM o WHERE cum <= {budget}
    """


def sql_select_top_quality(k: int = 3) -> str:
    return f"""
    WITH q AS MATERIALIZED ({sql_text_quality()}),
    r AS (
      SELECT d.lang, q.doc_id, q.quality,
             row_number() OVER (PARTITION BY d.lang
                                ORDER BY q.quality DESC, q.doc_id) AS rank
      FROM q JOIN documents d ON q.doc_id = d.doc_id)
    SELECT lang, doc_id, quality, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {k}
    """


def q_similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN self-join (ops/similarity.knn_join): top-3 cosine
    neighbors for EVERY vector, blocked on the label column; per-query
    rank window partitioned by the query id (no global sort)."""
    from rdf_tabular_spark.ops.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return knn_join(emb, k=3, block_col="label")


def sql_similarity_knn_join(k: int = 3) -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    p AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_sum(list_transform(generate_series(1, len(a.v)),
                                           i -> a.v[i] * b.v[i]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
                   6) AS cosine
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
    SELECT a, b, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT a, b, cosine,
             row_number() OVER (PARTITION BY a
                                ORDER BY cosine DESC, b) AS rank
      FROM p)
    WHERE rank <= {k}
    """


def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Module co-import triangles through the DEGREE-ORIENTED plan (r3:
    per-key wedge fan-out bounded by O(sqrt|E|) — the web-scale shape;
    kg/graph.coimport_triangles orient=True). Output identical to the
    plain ordered-join plan; the twin enumerates via plain ordered SQL
    joins, so a green row proves the two plans agree cross-engine."""
    from rdf_tabular_spark.kg.graph import coimport_triangles

    _, _, triples = _kg_oracle_run(spark)
    return coimport_triangles(triples, min_files=2, orient=True)


def sql_kg_triangles() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    mods AS (
      SELECT DISTINCT subj AS src, obj AS dst FROM kgq
      WHERE obj_is_iri AND pred IN ('{_KG}imports', '{_KG}dependsOn')),
    p AS (
      SELECT x.dst AS a, y.dst AS b
      FROM mods x JOIN mods y ON x.src = y.src AND x.dst < y.dst
      GROUP BY x.dst, y.dst
      HAVING COUNT(*) >= 2)
    SELECT p1.a, p1.b, p2.b AS c
    FROM p p1
    JOIN p p2 ON p1.b = p2.a
    JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b
    """


def q_kg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per module on the co-import graph
    (kg/graph.clustering_coefficient — degree-oriented triangle plan,
    explode-count per vertex, broadcast degree join)."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.clustering_coefficient(triples, min_files=2)


def sql_kg_clustering() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    mods AS (
      SELECT DISTINCT subj AS src, obj AS dst FROM kgq
      WHERE obj_is_iri AND pred IN ('{_KG}imports', '{_KG}dependsOn')),
    p AS (
      SELECT x.dst AS a, y.dst AS b
      FROM mods x JOIN mods y ON x.src = y.src AND x.dst < y.dst
      GROUP BY x.dst, y.dst
      HAVING COUNT(*) >= 2),
    tri AS (
      SELECT p1.a, p1.b, p2.b AS c
      FROM p p1
      JOIN p p2 ON p1.b = p2.a
      JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b),
    deg AS (
      SELECT node, COUNT(*) AS degree
      FROM (SELECT a AS node FROM p UNION ALL SELECT b FROM p)
      GROUP BY node),
    tcnt AS (
      SELECT node, COUNT(*) AS triangles
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY node)
    SELECT deg.node, deg.degree,
           COALESCE(tcnt.triangles, 0) AS triangles,
           CASE WHEN deg.degree >= 2
                THEN round(2.0 * COALESCE(tcnt.triangles, 0)
                           / (deg.degree * (deg.degree - 1)), 6)
                ELSE 0.0 END AS clustering
    FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
    """


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-import graph (kg/graph.kcore, k=3): iterative
    peel with per-round work proportional to the surviving edge set."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.kcore(triples, k=3, min_files=2)


def sql_kg_kcore(k: int = 3, rounds: int = 20) -> str:
    """Unrolled peel (fixpoint rounds are identity once converged, so a
    fixed unroll >= the peel depth matches the iterate-to-fixpoint
    Spark plan — same convention as the components twin). rounds matches
    kg/graph.kcore's max_iter=20 so neither engine can silently stop
    short of the other on a deep peel; the Spark side additionally warns
    when it exits without converging."""
    steps = []
    prev = "e0"
    for i in range(1, rounds + 1):
        steps.append(f""",
    d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS degree FROM (
               SELECT a AS node FROM {prev}
               UNION ALL SELECT b FROM {prev}) GROUP BY node),
    low{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE degree < {k}),
    e{i} AS MATERIALIZED (
      SELECT a, b FROM {prev}
      WHERE a NOT IN (SELECT node FROM low{i})
        AND b NOT IN (SELECT node FROM low{i}))""")
        prev = f"e{i}"
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    mods AS (
      SELECT DISTINCT subj AS src, obj AS dst FROM kgq
      WHERE obj_is_iri AND pred IN ('{_KG}imports', '{_KG}dependsOn')),
    e0 AS MATERIALIZED (
      SELECT x.dst AS a, y.dst AS b
      FROM mods x JOIN mods y ON x.src = y.src AND x.dst < y.dst
      GROUP BY x.dst, y.dst
      HAVING COUNT(*) >= 2){"".join(steps)}
    SELECT node, degree AS core_degree FROM (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
      GROUP BY node)
    WHERE degree >= {k}
    """


def q_kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss of the co-import graph (kg/graph.ktruss, k=3 — r4): the
    edge-level tightening of k-core; every surviving edge closes ≥1
    triangle IN the truss. Peel rounds pinned to max_iter=10 matching
    the twin's unroll (same convention as kcore's 20/20); Spark warns
    loudly if the peel needs more."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.ktruss(triples, k=3, min_files=2, max_iter=10)


def sql_kg_ktruss(k: int = 3, rounds: int = 10) -> str:
    """Per round: ordered triangle enumeration over the surviving
    edges (a<b<c automatic — every edge stores a<b), explode into the
    3 member edges, per-edge support count, peel support < k-2."""
    steps = []
    prev = "e0"
    for i in range(1, rounds + 1):
        steps.append(f""",
    t{i} AS MATERIALIZED (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM {prev} e1
      JOIN {prev} e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN {prev} e3 ON e3.a = e1.b AND e3.b = e2.b),
    s{i} AS MATERIALIZED (
      SELECT a, b, COUNT(*) AS support FROM (
        SELECT a, b FROM t{i}
        UNION ALL SELECT a, c FROM t{i}
        UNION ALL SELECT b, c FROM t{i}) GROUP BY a, b),
    e{i} AS MATERIALIZED (
      SELECT e.a, e.b, COALESCE(s.support, 0) AS support
      FROM {prev} e LEFT JOIN s{i} s ON e.a = s.a AND e.b = s.b
      WHERE COALESCE(s.support, 0) >= {k - 2})""")
        prev = f"e{i}"
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    mods AS (
      SELECT DISTINCT subj AS src, obj AS dst FROM kgq
      WHERE obj_is_iri AND pred IN ('{_KG}imports', '{_KG}dependsOn')),
    e0 AS MATERIALIZED (
      SELECT x.dst AS a, y.dst AS b
      FROM mods x JOIN mods y ON x.src = y.src AND x.dst < y.dst
      GROUP BY x.dst, y.dst
      HAVING COUNT(*) >= 2){"".join(steps)}
    SELECT a AS mod_a, b AS mod_b, CAST(support AS BIGINT) AS support
    FROM {prev}
    """


def q_kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the dependency graph (kg/graph.py
    components — min-label propagation, component id = min node IRI)."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.components(triples)


def q_kg_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (kg/graph.label_propagation — r4): synchronous
    LPA over the dependency graph, 5 fixed rounds, most-frequent-neighbor
    label with smallest-label tiebreak. The synchronous update + total
    tie order make the labels a pure function of (graph, rounds), so the
    DuckDB twin replays the identical rule round for round."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.label_propagation(graph.edge_list(triples), iterations=5)


def sql_kg_label_propagation(iterations: int = 5) -> str:
    """Unrolled synchronous LPA: per round, neighbor-label counts then
    the (cnt DESC, label ASC) argmin via ROW_NUMBER — the same
    max-count/min-label rule as the Spark struct-min."""
    steps = []
    prev = "l0"
    for i in range(1, iterations + 1):
        steps.append(f"""
    c{i} AS (
      SELECT u.x AS node, l.label, COUNT(*) AS cnt
      FROM und u JOIN {prev} l ON u.y = l.node
      GROUP BY u.x, l.label),
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    return f"""
    WITH {_sql_kg_edges()},
    und AS MATERIALIZED (
      SELECT DISTINCT x, y FROM (
        SELECT src AS x, dst AS y FROM gedges
        UNION ALL SELECT dst, src FROM gedges)),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM gnodes),
    {",".join(steps)}
    SELECT node, label FROM {prev}
    """


def q_kg_charsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic sets of the assembled KG (kg/materialize.py
    characteristic_sets — Neumann & Moerkotte ICDE'11): subjects
    partitioned by their exact predicate set, the statistics structure
    behind star-join cardinality estimation. Two map-side-combinable
    aggs; the set identity is the sorted '|'-joined predicate list, so
    the group key is engine-portable."""
    from rdf_tabular_spark.kg.materialize import characteristic_sets

    _, _, triples = _kg_oracle_run(spark)
    return characteristic_sets(triples)


def q_kg_charsets_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained characteristic sets (kg/materialize.
    characteristic_sets_incremental — r4 tail 4): the v1 charset state
    merges the v1→v2 graph_diff (touched subjects only re-aggregate;
    the untouched majority anti-joins through), then the rows derive
    from the state. The twin computes v2's charsets from scratch — a
    green row IS the incremental == full invariant, cross-engine."""
    from rdf_tabular_spark.kg.delta import graph_diff
    from rdf_tabular_spark.kg.materialize import (
        characteristic_sets_from_state,
        characteristic_sets_incremental,
        charset_state,
    )

    _, _, old = _kg_oracle_run(spark)
    old_c = old.localCheckpoint()
    v2 = spark.read.parquet(_kg_oracle_v2_path()).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    _, _, new = _kg_pipeline(v2)
    diff = graph_diff(old_c, new)
    state2 = characteristic_sets_incremental(charset_state(old_c), diff)
    return characteristic_sets_from_state(state2)


def sql_kg_charsets_incremental() -> str:
    return sql_kg_charsets(src=_kg_oracle_v2_path())


def sql_kg_charsets(src: str | None = None) -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples(src=src) if src else sql_kg_triples()}),
    per_subj AS (
      SELECT subj, string_agg(DISTINCT pred, '|' ORDER BY pred) AS char_set,
             COUNT(*) AS n
      FROM kgq GROUP BY subj)
    SELECT char_set,
           CAST(len(string_split(char_set, '|')) AS INT) AS n_preds,
           COUNT(*) AS n_subjects,
           CAST(SUM(n) AS BIGINT) AS n_triples
    FROM per_subj GROUP BY char_set
    """


def q_kg_charsets_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-pattern cardinality from the characteristic-set catalog
    (kg/materialize.star_cardinality — r4 tail 4): subjects carrying
    BOTH kg:imports and kg:defines, answered from the vocabulary-sized
    stats table. The twin computes the TRUE count directly from the
    triple table — a green row proves the charset partition answers
    star counts exactly, which is the whole point of the structure."""
    from rdf_tabular_spark.kg.materialize import (
        characteristic_sets,
        star_cardinality,
    )

    _, _, triples = _kg_oracle_run(spark)
    return star_cardinality(characteristic_sets(triples),
                            [_KG + "imports", _KG + "defines"])


def sql_kg_charsets_estimate() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    per AS (
      SELECT subj, COUNT(*) AS n,
             BOOL_OR(pred = '{_KG}imports') AS has_i,
             BOOL_OR(pred = '{_KG}defines') AS has_d
      FROM kgq GROUP BY subj)
    SELECT CAST(COUNT(*) AS BIGINT) AS star_subjects,
           CAST(COALESCE(SUM(n), 0) AS BIGINT) AS covered_triples
    FROM per WHERE has_i AND has_d
    """


def q_kg_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-source hop-bounded betweenness centrality (kg/graph.betweenness
    — r4 tail 4): Brandes dependency accumulation from 8 deterministic
    md5-sampled pivots, ≤4 hops, with δ quantized to integer micro-units
    via the all-BIGINT recurrence (σ_v·(1e6+δ_w)) DIV σ_w — Spark DIV
    and DuckDB // agree exactly on positive BIGINTs, so the twin replays
    the identical arithmetic layer for layer."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.betweenness(graph.edge_list(triples),
                             k_sources=8, max_hops=4)


def sql_kg_betweenness(k_sources: int = 8, max_hops: int = 4,
                       seed: int = 7) -> str:
    """Unrolled layered BFS (σ path counts) + backward δ folds, all
    integer — the engine's early-exit on a drained frontier is safe to
    unroll past: an empty layer contributes empty joins, and the
    deepest layer's δ is 0 by construction on both sides."""
    fw = []
    for h in range(1, max_hops + 1):
        fw.append(f""",
    l{h} AS MATERIALIZED (
      SELECT f.root AS root, u.y AS node, {h} AS dist,
             CAST(SUM(f.sigma) AS BIGINT) AS sigma
      FROM l{h - 1} f JOIN und u ON f.node = u.x
      WHERE NOT EXISTS (SELECT 1 FROM v{h - 1} v
                        WHERE v.root = f.root AND v.node = u.y)
      GROUP BY f.root, u.y),
    v{h} AS MATERIALIZED (
      SELECT root, node FROM v{h - 1}
      UNION ALL SELECT root, node FROM l{h})""")
    bw = [f""",
    d{max_hops} AS MATERIALIZED (
      SELECT root, node, sigma, CAST(0 AS BIGINT) AS delta
      FROM l{max_hops})"""]
    for d in range(max_hops - 1, -1, -1):
        bw.append(f""",
    c{d} AS (
      SELECT v.root AS root, v.node AS node,
             CAST(SUM((v.sigma * (1000000 + w.delta)) // w.sigma) AS BIGINT)
               AS dsum
      FROM l{d} v
      JOIN und u ON v.node = u.x
      JOIN d{d + 1} w ON w.root = v.root AND w.node = u.y
      GROUP BY v.root, v.node),
    d{d} AS MATERIALIZED (
      SELECT l.root, l.node, l.sigma,
             CAST(COALESCE(c.dsum, 0) AS BIGINT) AS delta
      FROM l{d} l LEFT JOIN c{d} c
        ON c.root = l.root AND c.node = l.node)""")
    accs = " UNION ALL ".join(
        f"SELECT root, node, delta FROM d{d} WHERE node <> root"
        for d in range(0, max_hops))
    return f"""
    WITH {_sql_kg_edges()},
    und AS MATERIALIZED (
      SELECT DISTINCT x, y FROM (
        SELECT src AS x, dst AS y FROM gedges
        UNION ALL SELECT dst, src FROM gedges) WHERE x <> y),
    bnodes AS MATERIALIZED (SELECT DISTINCT x AS node FROM und),
    pivots AS MATERIALIZED (
      SELECT node FROM bnodes
      ORDER BY md5('btw|{seed}|' || node), node LIMIT {k_sources}),
    l0 AS MATERIALIZED (
      SELECT node AS root, node, 0 AS dist, CAST(1 AS BIGINT) AS sigma
      FROM pivots),
    v0 AS MATERIALIZED (SELECT root, node FROM l0)
    {''.join(fw)}{''.join(bw)},
    acc AS ({accs})
    SELECT n.node, CAST(COALESCE(s.bm, 0) AS BIGINT) AS betweenness_micro
    FROM bnodes n LEFT JOIN (
      SELECT node, SUM(delta) AS bm FROM acc GROUP BY node) s
      ON n.node = s.node
    """


def q_kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 5-round label-propagation partition over
    the dependency graph (kg/graph.modularity — r4 tail 4): exact
    integer formulation Q·4m² = 4m·Σe_c − Σd_c², plus floor(1e6·Q) via
    the portable integer floor (truncating DIV and flooring // agree
    once the exact positive mod is subtracted). No floats anywhere, so
    the cross-engine hash compares exact integers."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    edges = graph.edge_list(triples)
    labels = graph.label_propagation(edges, iterations=5)
    return graph.modularity(edges, labels)


def sql_kg_modularity() -> str:
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM (SELECT src, dst FROM ({sql_kg_degrees_edges()}) e)
      WHERE src <> dst),
    lp AS MATERIALIZED (SELECT * FROM ({sql_kg_label_propagation()}) t),
    mrow AS (SELECT COUNT(*) AS m FROM pairs),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
      GROUP BY node),
    dc AS (
      SELECT l.label, SUM(d.degree) AS d_c
      FROM deg d JOIN lp l ON d.node = l.node GROUP BY l.label),
    ec AS (
      SELECT la.label, COUNT(*) AS e_c
      FROM pairs p
      JOIN lp la ON p.a = la.node
      JOIN lp lb ON p.b = lb.node
      WHERE la.label = lb.label
      GROUP BY la.label),
    per_label AS (
      SELECT dc.label, dc.d_c, COALESCE(ec.e_c, 0) AS e_c
      FROM dc LEFT JOIN ec ON dc.label = ec.label),
    folded AS (
      SELECT COUNT(*) AS n_communities,
             CAST(MIN(m.m) AS BIGINT) AS m_edges,
             CAST(SUM(4 * m.m * e_c - d_c * d_c) AS BIGINT) AS q_numer
      FROM per_label, mrow m)
    SELECT CAST(n_communities AS BIGINT) AS n_communities, m_edges, q_numer,
           CAST((q_numer * 1000000
                 - (((q_numer * 1000000) % (4 * m_edges * m_edges)
                     + (4 * m_edges * m_edges)) % (4 * m_edges * m_edges)))
                // (4 * m_edges * m_edges) AS BIGINT) AS q_micro
    FROM folded
    """


def q_kg_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Louvain level from singletons (kg/graph.modularity_refine —
    r4 tail 4): 3 synchronous local-move rounds with the exact-integer
    gain f(c) = 4m·k_ic − 2·k_i·d̃_c; ties to the smallest community
    label. Pure function of (graph, rounds) — the twin replays the
    same rounds with the same integer objective."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.modularity_refine(graph.edge_list(triples), rounds=3)


def sql_kg_louvain(rounds: int = 3) -> str:
    steps = []
    prev = "lr0"
    for r in range(1, rounds + 1):
        steps.append(f""",
    dcr{r} AS (
      SELECT l.label, SUM(d.ki) AS d_c
      FROM deg d JOIN {prev} l ON d.node = l.node GROUP BY l.label),
    sz{r} AS (
      SELECT label, COUNT(*) AS csize FROM {prev} GROUP BY label),
    kic{r} AS (
      SELECT u.x AS node, l.label, COUNT(*) AS k
      FROM und u JOIN {prev} l ON u.y = l.node GROUP BY u.x, l.label),
    cand{r} AS (
      SELECT node, label, CAST(SUM(k) AS BIGINT) AS k FROM (
        SELECT node, label, k FROM kic{r}
        UNION ALL SELECT node, label, 0 FROM {prev}) GROUP BY node, label),
    sc{r} AS (
      SELECT c.node, c.label,
             2 * tm.m2 * c.k
               - 2 * d.ki * (dc.d_c - CASE WHEN c.label = l.label
                                           THEN d.ki ELSE 0 END) AS f
      FROM cand{r} c
      JOIN {prev} l ON l.node = c.node
      JOIN deg d ON d.node = c.node
      JOIN dcr{r} dc ON dc.label = c.label
      JOIN sz{r} sa ON sa.label = l.label
      JOIN sz{r} sc ON sc.label = c.label, m2row tm
      WHERE (c.label = l.label OR sa.csize = 1)
        AND NOT (c.label <> l.label AND sa.csize = 1
                 AND sc.csize = 1 AND c.label > l.label)),
    mv{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY f DESC, label) AS rn
        FROM sc{r}) WHERE rn = 1),
    cn{r} AS (SELECT label, MIN(node) AS c FROM mv{r} GROUP BY label),
    lr{r} AS MATERIALIZED (
      SELECT m.node, cn.c AS label
      FROM mv{r} m JOIN cn{r} cn ON cn.label = m.label)""")
        prev = f"lr{r}"
    return f"""
    WITH {_sql_kg_edges()},
    und AS MATERIALIZED (
      SELECT DISTINCT x, y FROM (
        SELECT src AS x, dst AS y FROM gedges
        UNION ALL SELECT dst, src FROM gedges) WHERE x <> y),
    deg AS MATERIALIZED (
      SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS ki
      FROM und GROUP BY x),
    m2row AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM und),
    lr0 AS MATERIALIZED (SELECT node, node AS label FROM deg)
    {''.join(steps)}
    SELECT node, label FROM {prev}
    """


def q_kg_louvain2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Louvain (kg/graph.louvain — r4 tail 4): level 1 =
    modularity_refine from singletons; contraction folds each
    community's internal weight into a self-loop; level 2 reruns the
    refinement on the weighted super-graph. The twin nests the level-1
    query verbatim, contracts in SQL, and replays the weighted rounds
    — same integer arithmetic at both levels."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.louvain(graph.edge_list(triples), levels=2, rounds=3)


def sql_kg_louvain2(rounds: int = 3) -> str:
    steps = []
    prev = "wl0"
    for r in range(1, rounds + 1):
        steps.append(f""",
    wdcr{r} AS (
      SELECT l.label, SUM(d.ki) AS d_c
      FROM wdeg d JOIN {prev} l ON d.node = l.node GROUP BY l.label),
    wsz{r} AS (
      SELECT label, COUNT(*) AS csize FROM {prev} GROUP BY label),
    wkic{r} AS (
      SELECT u.x AS node, l.label, CAST(SUM(u.w) AS BIGINT) AS k
      FROM wund u JOIN {prev} l ON u.y = l.node GROUP BY u.x, l.label),
    wcand{r} AS (
      SELECT node, label, CAST(SUM(k) AS BIGINT) AS k FROM (
        SELECT node, label, k FROM wkic{r}
        UNION ALL SELECT node, label, 0 FROM {prev}) GROUP BY node, label),
    wsc{r} AS (
      SELECT c.node, c.label,
             2 * tm.m2 * c.k
               - 2 * d.ki * (dc.d_c - CASE WHEN c.label = l.label
                                           THEN d.ki ELSE 0 END) AS f
      FROM wcand{r} c
      JOIN {prev} l ON l.node = c.node
      JOIN wdeg d ON d.node = c.node
      JOIN wdcr{r} dc ON dc.label = c.label
      JOIN wsz{r} sa ON sa.label = l.label
      JOIN wsz{r} sc ON sc.label = c.label, wm2 tm
      WHERE (c.label = l.label OR sa.csize = 1)
        AND NOT (c.label <> l.label AND sa.csize = 1
                 AND sc.csize = 1 AND c.label > l.label)),
    wmv{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY f DESC, label) AS rn
        FROM wsc{r}) WHERE rn = 1),
    wcn{r} AS (SELECT label, MIN(node) AS c FROM wmv{r} GROUP BY label),
    wl{r} AS MATERIALIZED (
      SELECT m.node, cn.c AS label
      FROM wmv{r} m JOIN wcn{r} cn ON cn.label = m.label)""")
        prev = f"wl{r}"
    return f"""
    WITH lv1 AS MATERIALIZED (SELECT * FROM ({sql_kg_louvain(rounds)}) t),
    pairs0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({sql_kg_degrees_edges()}) e
      WHERE src <> dst),
    ced AS MATERIALIZED (
      SELECT LEAST(la.label, lb.label) AS a,
             GREATEST(la.label, lb.label) AS b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM pairs0 p
      JOIN lv1 la ON p.a = la.node
      JOIN lv1 lb ON p.b = lb.node
      GROUP BY 1, 2),
    wund AS MATERIALIZED (
      SELECT a AS x, b AS y, w FROM ced WHERE a <> b
      UNION ALL SELECT b, a, w FROM ced WHERE a <> b),
    wdeg AS MATERIALIZED (
      SELECT node, CAST(SUM(k) AS BIGINT) AS ki FROM (
        SELECT x AS node, w AS k FROM wund
        UNION ALL SELECT a, 2 * w FROM ced WHERE a = b) GROUP BY node),
    wm2 AS (SELECT CAST(SUM(ki) AS BIGINT) AS m2 FROM wdeg),
    wl0 AS MATERIALIZED (SELECT node, node AS label FROM wdeg)
    {''.join(steps)}
    SELECT l1.node, up.label
    FROM lv1 l1 JOIN {prev} up ON up.node = l1.label
    """


def q_kg_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter lower bound by the double sweep (kg/graph.
    eccentricity_probe — r4 tail 4): BFS from the md5-sampled pivot,
    BFS again from the farthest node; ecc_peak is the Magnien et al.
    diameter lower bound. Twin = two recursive CTE sweeps with the
    identical farthest-node tiebreak."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.eccentricity_probe(graph.edge_list(triples), max_hops=8)


def sql_kg_eccentricity(max_hops: int = 8, seed: int = 7) -> str:
    # each sweep's WITH RECURSIVE lives INSIDE a derived table — an
    # outer-level RECURSIVE changes how DuckDB resolves the twin's own
    # nested WITHs (the csvw_describe twin's restriction)
    return f"""
    WITH {_sql_kg_edges()},
    und AS MATERIALIZED (
      SELECT DISTINCT x, y FROM (
        SELECT src AS x, dst AS y FROM gedges
        UNION ALL SELECT dst, src FROM gedges) WHERE x <> y),
    s1 AS MATERIALIZED (
      SELECT node FROM (SELECT DISTINCT x AS node FROM und)
      ORDER BY md5('ecc|{seed}|' || node), node LIMIT 1),
    d1 AS MATERIALIZED (
      SELECT node, MIN(hops) AS hops FROM (
        WITH RECURSIVE r1(node, hops) AS (
          SELECT node, 0 FROM s1
          UNION
          SELECT u.y, r1.hops + 1
          FROM r1 JOIN und u ON r1.node = u.x WHERE r1.hops < {max_hops})
        SELECT node, hops FROM r1) GROUP BY node),
    p1 AS MATERIALIZED (
      SELECT node, hops FROM d1 ORDER BY hops DESC, node LIMIT 1),
    d2 AS MATERIALIZED (
      SELECT node, MIN(hops) AS hops FROM (
        WITH RECURSIVE r2(node, hops) AS (
          SELECT node, 0 FROM p1
          UNION
          SELECT u.y, r2.hops + 1
          FROM r2 JOIN und u ON r2.node = u.x WHERE r2.hops < {max_hops})
        SELECT node, hops FROM r2) GROUP BY node),
    p2 AS MATERIALIZED (
      SELECT node, hops FROM d2 ORDER BY hops DESC, node LIMIT 1)
    SELECT (SELECT node FROM s1) AS start_node,
           (SELECT node FROM p1) AS peak_node,
           CAST((SELECT hops FROM p1) AS BIGINT) AS ecc_start,
           CAST((SELECT hops FROM p2) AS BIGINT) AS ecc_peak
    """


def q_kg_wsssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (kg/graph.weighted_sssp —
    r4 tail 4): bounded Bellman-Ford over the co-import graph with the
    integer affinity distance w = 1e6 DIV co_files (more shared
    importers = closer), 6 relaxation rounds, source = the module with
    the smallest md5('wsssp|'|node). All-integer min-plus — the twin
    relaxes the same 6 rounds (full relax ≡ the engine's improved-only
    frontier, which merely skips re-deriving known distances)."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    _, pairs = graph.coimport_pairs(triples, min_files=2)
    half = pairs.select(
        F.col("mod_a").alias("src"), F.col("mod_b").alias("dst"),
        F.expr("1000000 DIV co_files").alias("w"))
    wed = half.unionByName(half.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    source = (
        wed.select("src").distinct()
        .withColumn("_h", F.md5(F.concat(F.lit("wsssp|"), F.col("src"))))
        .orderBy("_h", "src").limit(1).collect()[0][0])
    return graph.weighted_sssp(wed, source, max_hops=6)


def sql_kg_wsssp(max_hops: int = 6) -> str:
    steps = []
    prev = "d0"
    for i in range(1, max_hops + 1):
        steps.append(f""",
    d{i} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT w.dst AS node, d.dist + w.w AS dist
        FROM {prev} d JOIN wedges w ON d.node = w.src) GROUP BY node)""")
        prev = f"d{i}"
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    mods AS (
      SELECT DISTINCT subj AS src, obj AS dst FROM kgq
      WHERE obj_is_iri AND pred IN ('{_KG}imports', '{_KG}dependsOn')),
    e0 AS MATERIALIZED (
      SELECT x.dst AS a, y.dst AS b, COUNT(*) AS co_files
      FROM mods x JOIN mods y ON x.src = y.src AND x.dst < y.dst
      GROUP BY x.dst, y.dst
      HAVING COUNT(*) >= 2),
    wedges AS MATERIALIZED (
      SELECT a AS src, b AS dst, 1000000 // co_files AS w FROM e0
      UNION ALL
      SELECT b, a, 1000000 // co_files FROM e0),
    srcrow AS (
      SELECT src AS node FROM (SELECT DISTINCT src FROM wedges)
      ORDER BY md5('wsssp|' || src), src LIMIT 1),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM srcrow)
    {''.join(steps)}
    SELECT node, dist FROM {prev}
    """


def q_kg_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the dependency graph (kg/graph.
    assortativity — r4 tail 4): Pearson degree correlation across
    edges with every denominator cleared to exact BIGINTs,
    r = (4M·P − S1²)/(2M·S2 − S1²); r_micro by the portable integer
    floor, NULL for degree-regular graphs."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.assortativity(graph.edge_list(triples))


def sql_kg_assortativity() -> str:
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({sql_kg_degrees_edges()}) e
      WHERE src <> dst),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
      GROUP BY node),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
             CAST(SUM(da.d * db.d) AS BIGINT) AS p,
             CAST(SUM(da.d + db.d) AS BIGINT) AS s1,
             CAST(SUM(da.d * da.d + db.d * db.d) AS BIGINT) AS s2
      FROM pairs
      JOIN deg da ON pairs.a = da.node
      JOIN deg db ON pairs.b = db.node)
    SELECT m_edges,
           CAST(4 * m_edges * p - s1 * s1 AS BIGINT) AS r_numer,
           CAST(2 * m_edges * s2 - s1 * s1 AS BIGINT) AS r_denom,
           CAST(CASE WHEN 2 * m_edges * s2 - s1 * s1 = 0 THEN NULL
             ELSE ((4 * m_edges * p - s1 * s1) * 1000000
               - ((((4 * m_edges * p - s1 * s1) * 1000000)
                    % (2 * m_edges * s2 - s1 * s1)
                   + (2 * m_edges * s2 - s1 * s1))
                  % (2 * m_edges * s2 - s1 * s1)))
               // (2 * m_edges * s2 - s1 * s1) END AS BIGINT) AS r_micro
    FROM folded
    """


def sql_kg_degrees_edges() -> str:
    """The gedges edge list as a standalone SELECT (for twins that need
    it inside a derived table where the shared WITH prelude cannot be
    spliced)."""
    return f"""
    WITH {_sql_kg_edges()}
    SELECT src, dst FROM gedges
    """


#: graph assignment for the dataset view of the KG: file/sym/repo
#: subjects belong to their repository's NAMED graph, shared module
#: metadata stays in the DEFAULT graph (same SQL dialect in Spark and
#: DuckDB — CASE + regexp_extract group 1)
_GRAPH_EXPR = (
    f"CASE WHEN subj LIKE '{_KGI}repo/%' THEN subj "
    f"WHEN regexp_extract(subj, '{_KGI}(?:file|sym)/([^/]+)', 1) <> '' "
    f"THEN concat('{_KGI}repo/', "
    f"regexp_extract(subj, '{_KGI}(?:file|sym)/([^/]+)', 1)) "
    "ELSE NULL END"
)


def q_kg_named_graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL dataset semantics (kg/dataset.py — r4): the triple table
    becomes a quad table (one NAMED graph per repository via with_graph,
    module metadata in the DEFAULT graph), then

        GRAPH ?g { ?f kg:imports ?m } . ?m kg:versionSpec ?v

    — a GRAPH-scoped pattern binding the graph IRI, joined against a
    default-graph pattern on the shared module variable. The graph term
    is one more equi-join column; a quad table written partitioned by
    graph prunes constant-graph queries to one repo's partition."""
    from rdf_tabular_spark.kg import dataset

    _, _, triples = _kg_oracle_run(spark)
    quads = dataset.with_graph(triples, _GRAPH_EXPR)
    return dataset.match_quads(quads, [
        ("?g", "?f", _KG + "imports", "?m"),
        (None, "?m", _KG + "versionSpec", "?v"),
    ], project=["g", "f", "m", "v"])


def sql_kg_named_graphs() -> str:
    return f"""
    WITH t AS ({sql_kg_triples()}),
    quads AS (SELECT {_GRAPH_EXPR} AS graph, subj, pred, obj FROM t),
    imp AS (SELECT graph AS g, subj AS f, obj AS m FROM quads
            WHERE graph IS NOT NULL AND pred = '{_KG}imports'),
    ver AS (SELECT subj AS m, obj AS v FROM quads
            WHERE graph IS NULL AND pred = '{_KG}versionSpec')
    SELECT DISTINCT g, f, m, v FROM imp JOIN ver USING (m)
    """


def q_kg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update (kg/update.py — r4): DELETE { ?f kg:lang ?l }
    INSERT { ?f kg:language ?l . ?f rdf:type kg:Document } WHERE
    { ?f kg:lang ?l } applied to the assembled graph — WHERE evaluated
    once against the PRE-state (spec §3.1.3), delete = broadcast
    anti-join of the graph against the delta, insert = set-union with
    existing rows winning on (s,p,o). Returns the updated graph."""
    from rdf_tabular_spark.kg import update

    _, _, triples = _kg_oracle_run(spark)
    return update.delete_insert(
        triples,
        where=[("?f", _KG + "lang", "?l")],
        delete_templates=[("?f", _KG + "lang", "?l")],
        insert_templates=[("?f", _KG + "language", "?l", False),
                          ("?f", _RDF_TYPE, _KGI + "class/Document", True)],
    )


def sql_kg_update() -> str:
    """Twin replays the same pre-state rule: solutions from the
    original graph, kept = graph minus instantiated deletes, inserts
    merged set-wise with kept rows winning on the (s,p,o) key."""
    return f"""
    WITH t AS ({sql_kg_triples()}),
    sols AS (SELECT subj AS f, obj AS l FROM t
             WHERE pred = '{_KG}lang'),
    kept AS (
      SELECT t.* FROM t
      LEFT JOIN sols d ON t.subj = d.f AND t.pred = '{_KG}lang'
                       AND t.obj = d.l
      WHERE d.f IS NULL),
    ins AS (
      SELECT DISTINCT f AS subj, '{_KG}language' AS pred, l AS obj,
             FALSE AS obj_is_iri, CAST(NULL AS VARCHAR) AS obj_datatype,
             CAST(NULL AS VARCHAR) AS obj_lang
      FROM sols
      UNION
      SELECT DISTINCT f, '{_RDF_TYPE}', '{_KGI}class/Document',
             TRUE, NULL, NULL
      FROM sols),
    fresh AS (
      SELECT i.* FROM ins i
      LEFT JOIN kept k ON i.subj = k.subj AND i.pred = k.pred
                       AND i.obj = k.obj
      WHERE k.subj IS NULL)
    SELECT * FROM kept UNION ALL SELECT * FROM fresh
    """


def q_kg_graph_management(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update graph management (kg/update.py — r4): over the
    repository-partitioned quad table (same dataset view as
    kg_named_graphs), ``ADD DEFAULT TO g1`` then ``MOVE g1 TO g2`` —
    g2's contents are replaced by g1's merged-with-default data and g1
    is dropped. g1/g2 are the two lexicographically-smallest named
    graphs (tiny driver probe: one IRI per repository, not per row).
    Returns the final default-graph + g2 quads. Scale: every selector
    is one predicate on the graph column (partition-pruned on a
    graph-partitioned table); the merge anti-join probes ONE graph."""
    from rdf_tabular_spark.kg import dataset, update

    _, _, triples = _kg_oracle_run(spark)
    quads = dataset.with_graph(triples, _GRAPH_EXPR)
    g1, g2 = [r.graph for r in dataset.named_graphs(quads)
              .orderBy("graph").limit(2).collect()]
    out = update.move_graph(update.add_graph(quads, None, g1), g1, g2)
    return (out.filter(F.col("graph").isNull() | (F.col("graph") == g2))
            .select("graph", "subj", "pred", "obj"))


def sql_kg_graph_management() -> str:
    """Twin replays ADD-then-MOVE as set algebra: g2' = g1 rows union
    (default rows anti-keyed against g1), default graph unchanged."""
    return f"""
    WITH t AS ({sql_kg_triples()}),
    quads AS (SELECT {_GRAPH_EXPR} AS graph, subj, pred, obj FROM t),
    gs AS (SELECT graph FROM quads WHERE graph IS NOT NULL
           GROUP BY graph ORDER BY graph LIMIT 2),
    dg AS (SELECT subj, pred, obj FROM quads WHERE graph IS NULL),
    g1r AS (SELECT subj, pred, obj FROM quads
            WHERE graph = (SELECT MIN(graph) FROM gs)),
    merged AS (
      SELECT * FROM g1r
      UNION ALL
      SELECT d.* FROM dg d
      WHERE NOT EXISTS (SELECT 1 FROM g1r r
                        WHERE r.subj = d.subj AND r.pred = d.pred
                          AND r.obj = d.obj))
    SELECT (SELECT MAX(graph) FROM gs) AS graph, subj, pred, obj
    FROM merged
    UNION ALL
    SELECT CAST(NULL AS VARCHAR), subj, pred, obj FROM dg
    """


def q_kg_bgp_term_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL term-metadata builtins (kg/query.match_bgp(term_meta=...)
    — r4): DATATYPE(?v) / isLiteral(?v) as plain column references —
    SELECT ?s ?p ?v (DATATYPE(?v) AS ?dt) WHERE { ?s ?p ?v
    FILTER(isLiteral(?v) && DATATYPE(?v) != '') }. The metadata rides
    the same scan projection as the term itself: no join, no UDF."""
    from rdf_tabular_spark.kg.query import match_bgp

    _, _, triples = _kg_oracle_run(spark)
    return match_bgp(
        triples, [("?s", "?p", "?v")], term_meta=["v"],
        filters=["NOT v__isiri", "v__datatype IS NOT NULL"],
        bind={"dt": "v__datatype"},
        project=["s", "p", "v", "dt"])


def sql_kg_bgp_term_meta() -> str:
    return f"""
    WITH t AS ({sql_kg_triples()})
    SELECT DISTINCT subj AS s, pred AS p, obj AS v, obj_datatype AS dt
    FROM t WHERE NOT obj_is_iri AND obj_datatype IS NOT NULL
    """


def q_kg_sparql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL text front-end (kg/sparql.py — r4): the query arrives as a
    SPARQL STRING and compiles onto the same BGP/OPTIONAL/FILTER plans
    the programmatic rows use — UNION of two edge predicates, a join on
    the shared subject, and a regex FILTER on the hot-repo IRI."""
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    return sparql(triples, f"""
        PREFIX kg: <{_KG}>
        SELECT ?f ?x WHERE {{
            {{ ?f kg:imports ?x }} UNION {{ ?f kg:dependsOn ?x }}
            ?f kg:inRepo ?r
            FILTER(CONTAINS(?r, "monorepo"))
        }}
    """)


def sql_kg_sparql_select() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT DISTINCT e.subj AS f, e.obj AS x
    FROM kgq e
    JOIN kgq r ON r.subj = e.subj AND r.pred = '{_KG}inRepo'
    WHERE e.pred IN ('{_KG}imports', '{_KG}dependsOn')
      AND r.obj LIKE '%monorepo%'
    """


def q_kg_sparql_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL text front-end, aggregate form (kg/sparql.py — r4):
    GROUP BY + COUNT + HAVING parsed from query text; HAVING compiles
    to a hidden boolean aggregate inside the same hash aggregation (no
    second pass over the solution multiset)."""
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    out = sparql(triples, f"""
        PREFIX kg: <{_KG}>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?m (COUNT(?f) AS ?n_importers) WHERE {{
            ?f kg:imports ?m . ?m rdf:type kg:Module
        }} GROUP BY ?m HAVING (COUNT(?f) >= 3)
    """)
    return out.withColumn("n_importers",
                          F.col("n_importers").cast("long"))


def sql_kg_sparql_aggregate() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()})
    SELECT i.obj AS m, CAST(COUNT(i.subj) AS BIGINT) AS n_importers
    FROM kgq i
    JOIN kgq t ON t.subj = i.obj
              AND t.pred = '{_RDF_TYPE}' AND t.obj = '{_KG}Module'
    WHERE i.pred = '{_KG}imports'
    GROUP BY i.obj HAVING COUNT(i.subj) >= 3
    """


def q_kg_sparql_expr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL expression aggregates + solution-level DISTINCT (r5 —
    VERDICT r4 #7): SUM over an expression argument (``SUM(?i * ?i)``)
    and ``COUNT(DISTINCT *)`` counting distinct SOLUTIONS (expanded
    against the in-scope variables; the r4 compiler mis-folded it to a
    constant). atIndex is xsd:integer, so i² sums are exact in double
    and order-independent — bit-identical cross-engine with no
    rounding canonicalization needed."""
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    out = sparql(triples, f"""
        PREFIX kg: <{_KG}>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?t (SUM(?i * ?i) AS ?ssq) (COUNT(DISTINCT *) AS ?n)
        WHERE {{ ?s kg:atIndex ?i . ?s rdf:type ?t }} GROUP BY ?t
    """)
    return out.withColumn("n", F.col("n").cast("long"))


def sql_kg_sparql_expr_agg() -> str:
    return f"""
    WITH kgq AS MATERIALIZED ({sql_kg_triples()}),
    sols AS (
      SELECT a.subj AS s, a.obj AS i, t.obj AS t
      FROM kgq a
      JOIN kgq t ON t.subj = a.subj AND t.pred = '{_RDF_TYPE}'
      WHERE a.pred = '{_KG}atIndex'
    )
    SELECT t, SUM(CAST(i AS DOUBLE) * CAST(i AS DOUBLE)) AS ssq,
           CAST(COUNT(DISTINCT (s, i, t)) AS BIGINT) AS n
    FROM sols GROUP BY t
    """


def q_kg_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL Update text front-end (kg/sparql.sparql_update — r4): a
    predicate rename arrives as an Update STRING; the variable insert
    template carries the bound term's metadata (mention objects are
    literals and stay literals), deletes/inserts apply with the
    kg/update.py pre-state + existing-wins semantics."""
    from rdf_tabular_spark.kg.sparql import sparql_update

    _, _, triples = _kg_oracle_run(spark)
    return sparql_update(triples, f"""
        PREFIX kg: <{_KG}>
        DELETE {{ ?m kg:mention ?x }} INSERT {{ ?m kg:alias ?x }}
        WHERE {{ ?m kg:mention ?x }}
    """)


def sql_kg_sparql_update() -> str:
    return f"""
    WITH t AS MATERIALIZED ({sql_kg_triples()}),
    kept AS (SELECT * FROM t WHERE pred <> '{_KG}mention'),
    ins AS (
      SELECT DISTINCT subj, '{_KG}alias' AS pred, obj,
             obj_is_iri, obj_datatype, obj_lang
      FROM t WHERE pred = '{_KG}mention')
    SELECT * FROM kept
    UNION ALL
    SELECT i.* FROM ins i
    LEFT JOIN kept k ON i.subj = k.subj AND i.pred = k.pred
                    AND i.obj = k.obj
    WHERE k.subj IS NULL
    """


def q_kg_ntriples_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples SOURCE (operators/ntriples.py parse path — r4, the
    inverse of the S11 sink; reference reader.rb:644-649 round-trips
    through rdf.rb's reader registry): Spark serializes the full KG to
    N-Triples text and re-parses it through the distributed map-only
    line parser (native framing regex + escape decode; \\u lines route
    through the Arrow detour). The DuckDB twin computes the triples
    directly — equality proves parse∘format == identity cross-engine
    over every real literal in the corpus (newlines, quotes, unicode,
    datatypes, langs, bnodes)."""
    from rdf_tabular_spark.operators.ntriples import (parse_ntriples_lines,
                                                      to_ntriples_lines)

    _, _, triples = _kg_oracle_run(spark)
    return parse_ntriples_lines(to_ntriples_lines(triples))


def sql_kg_ntriples_roundtrip() -> str:
    return sql_kg_triples()


def q_kg_smush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs smushing (kg/smush.py — r4, the north rule's
    'canonicalizes ... symbol entities into stable IRIs'): symbols
    sharing a kg:name literal across repos are linked sameAs via
    key-collision blocking, the general iterative closure elects the
    lexicographic-min canonical, and the graph is rewritten so every
    triple speaks about the canonical (term-identity set semantics;
    untouched stream never shuffles). The twin computes the star
    mapping closed-form — each symbol has exactly ONE name (the IRI
    embeds it), so classes are star-shaped and the iterative engine
    must land on the same fixpoint."""
    from rdf_tabular_spark.kg.annotate import KG
    from rdf_tabular_spark.kg.smush import sameas_from_shared_key, smush

    _, _, triples = _kg_oracle_run(spark)
    return smush(triples, pairs=sameas_from_shared_key(triples, KG + "name"))


def sql_kg_smush() -> str:
    return f"""
    WITH t AS MATERIALIZED ({sql_kg_triples()}),
    vals AS (
      SELECT subj, obj FROM t
      WHERE pred = '{_KG}name' AND NOT obj_is_iri),
    canon AS (
      SELECT obj, MIN(subj) AS canonical FROM vals GROUP BY obj),
    mapping AS (
      SELECT DISTINCT v.subj AS iri, c.canonical
      FROM vals v JOIN canon c ON v.obj = c.obj),
    smushed AS (
      SELECT COALESCE(ms.canonical, t.subj) AS subj, t.pred,
             CASE WHEN t.obj_is_iri THEN COALESCE(mo.canonical, t.obj)
                  ELSE t.obj END AS obj,
             t.obj_is_iri, t.obj_datatype, t.obj_lang
      FROM t
      LEFT JOIN mapping ms ON t.subj = ms.iri
      LEFT JOIN mapping mo ON t.obj = mo.iri AND t.obj_is_iri)
    SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype, obj_lang
    FROM smushed
    """


def _canon_graph(spark: SparkSession, sf_dir: str,
                 pn: str = "_:n", pr: str = "_:r",
                 pm: str = "_:m") -> DataFrame:
    """Deterministic bnode-bearing graph over nation/region: nation and
    region entities as blank nodes, plus per-nation automorphic marker
    pairs so non-trivial orbits are exercised. The prefix parameters
    produce renamed-but-isomorphic variants."""
    nat = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit(pn), F.col("n_nationkey").cast("string"))
        .alias("nb"),
        F.col("n_name"),
        F.concat(F.lit(pr), F.col("n_regionkey").cast("string"))
        .alias("rb"),
        F.concat(F.lit(pm), F.col("n_nationkey").cast("string"))
        .alias("mb"))
    reg = _t(spark, sf_dir, "region")

    def tri(s, p, o, iri):
        return (s.alias("subj"), F.lit(p).alias("pred"), o.alias("obj"),
                F.lit(iri).alias("obj_is_iri"),
                F.lit(None).cast("string").alias("obj_datatype"),
                F.lit(None).cast("string").alias("obj_lang"))

    parts = [
        nat.select(*tri(F.col("nb"), "kg:name", F.col("n_name"), False)),
        nat.select(*tri(F.col("nb"), "kg:inRegion", F.col("rb"), True)),
        nat.select(*tri(F.col("nb"), "kg:mark",
                        F.concat(F.col("mb"), F.lit("a")), True)),
        nat.select(*tri(F.col("nb"), "kg:mark",
                        F.concat(F.col("mb"), F.lit("b")), True)),
        nat.select(*tri(F.concat(F.col("mb"), F.lit("a")), "kg:kind",
                        F.lit("m"), False)),
        nat.select(*tri(F.concat(F.col("mb"), F.lit("b")), "kg:kind",
                        F.lit("m"), False)),
        reg.select(*tri(F.concat(F.lit(pr),
                                 F.col("r_regionkey").cast("string")),
                        "kg:rname", F.col("r_name"), False)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_kg_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed RDF canonicalization (kg/canon.py — r4): stable
    blank-node labels via 1-WL hash refinement, the RDFC-1.0 problem
    Spark-first (the reference's conformance comparisons are
    isomorphism-based: its specs use the rdf-isomorphic gem, and this
    repo's tests/ttl.py compare_graphs is the same check). Per-nation
    automorphic marker pairs exercise orbit disambiguation
    (orbit_size=2, within-orbit suffix by original label).
    ``exact_rounds=3`` pins the round count — colors re-hash each round
    even at the partition fixpoint, so the twin unrolls exactly 3
    rounds of the identical contribution grammar (sorted ','-joined
    contributions, md5(prev # sig))."""
    from rdf_tabular_spark.kg.canon import canonical_labels

    return canonical_labels(_canon_graph(spark, sf_dir), exact_rounds=3)


def _sql_wl(tname: str, p: str, rounds: int = 3) -> str:
    """CTE fragments (comma-terminated) running *rounds* of the
    kg/canon.py WL refinement over triples CTE *tname* (columns subj,
    pred, obj, iri) — identical contribution grammar: sorted
    ','-joined 'dirn|pred|' + ('b|'+nbr_color | ground tag), color =
    md5(prev # sig). Defines {p}lab (node, canon, orbit_size) and
    {p}canon (the relabeled triples)."""
    contrib = (f"e.dirn||'|'||e.pred||'|'||CASE WHEN e.nbr_is_b "
               f"THEN 'b|'||{p}c{{i}}.color ELSE e.ground END")
    rr = []
    for i in range(rounds):
        c = contrib.format(i=i)
        rr.append(f"""
    {p}s{i + 1} AS (
      SELECT e.node,
             string_agg({c}, ',' ORDER BY {c}) AS sig
      FROM {p}edges e LEFT JOIN {p}c{i} ON e.nbr = {p}c{i}.node
      GROUP BY e.node),
    {p}c{i + 1} AS (
      SELECT b.node,
             md5(b.color||'#'||COALESCE({p}s{i + 1}.sig, '')) AS color
      FROM {p}c{i} b
      LEFT JOIN {p}s{i + 1} ON b.node = {p}s{i + 1}.node)""")
    return f"""
    {p}edges AS MATERIALIZED (
      SELECT subj AS node, pred, obj AS nbr,
             (iri AND starts_with(obj, '_:')) AS nbr_is_b,
             'g|'||CAST(CAST(iri AS INT) AS VARCHAR)||'|'||obj||'||'
               AS ground,
             'o' AS dirn
      FROM {tname} WHERE starts_with(subj, '_:')
      UNION ALL
      SELECT obj, pred, subj, starts_with(subj, '_:'),
             'g|1|'||subj||'||', 'i'
      FROM {tname} WHERE iri AND starts_with(obj, '_:')),
    {p}c0 AS (
      SELECT DISTINCT node, '' AS color FROM (
        SELECT subj AS node FROM {tname} WHERE starts_with(subj, '_:')
        UNION ALL
        SELECT obj FROM {tname}
        WHERE iri AND starts_with(obj, '_:'))),
    {",".join(rr)},
    {p}lab AS (
      SELECT node,
             '_:c'||color||
               CASE WHEN cnt > 1 THEN '-'||CAST(rn AS VARCHAR)
                    ELSE '' END AS canon,
             CAST(cnt AS BIGINT) AS orbit_size
      FROM (
        SELECT node, color,
               COUNT(*) OVER (PARTITION BY color) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY color ORDER BY node)
                 AS rn
        FROM {p}c{rounds})),
    {p}canon AS (
      SELECT COALESCE(ls.canon, t.subj) AS subj, t.pred,
             CASE WHEN t.iri THEN COALESCE(lo.canon, t.obj)
                  ELSE t.obj END AS obj,
             t.iri
      FROM {tname} t
      LEFT JOIN {p}lab ls ON t.subj = ls.node
      LEFT JOIN {p}lab lo ON t.iri AND t.obj = lo.node),
    """


def sql_kg_canonicalize() -> str:
    return f"""
    WITH nat AS (
      SELECT '_:n'||n_nationkey AS nb, n_name,
             '_:r'||n_regionkey AS rb, '_:m'||n_nationkey AS mb
      FROM nation),
    t AS MATERIALIZED (
      SELECT nb AS subj, 'kg:name' AS pred, n_name AS obj,
             FALSE AS iri FROM nat
      UNION ALL SELECT nb, 'kg:inRegion', rb, TRUE FROM nat
      UNION ALL SELECT nb, 'kg:mark', mb||'a', TRUE FROM nat
      UNION ALL SELECT nb, 'kg:mark', mb||'b', TRUE FROM nat
      UNION ALL SELECT mb||'a', 'kg:kind', 'm', FALSE FROM nat
      UNION ALL SELECT mb||'b', 'kg:kind', 'm', FALSE FROM nat
      UNION ALL SELECT '_:r'||r_regionkey, 'kg:rname', r_name, FALSE
                 FROM region),
    {_sql_wl("t", "")}
    _end AS (SELECT 1)
    SELECT node, canon, orbit_size FROM lab
    """


def q_kg_graph_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isomorphism-invariant graph hash (kg/canon.graph_fingerprint —
    r4): the nation/region bnode graph and a fully-renamed isomorphic
    variant fingerprint to the SAME (n_triples, bit_xor-of-md5)
    integer — the snapshot-catalog content identity that makes "did
    this graph version really change?" one integer compare. The twin
    recomputes both fingerprints through the identical 3-round WL
    relabeling."""
    from rdf_tabular_spark.kg.canon import graph_fingerprint

    out = []
    for variant, prefixes in (("orig", ("_:n", "_:r", "_:m")),
                              ("renamed", ("_:zz", "_:q", "_:w"))):
        g = _canon_graph(spark, sf_dir, *prefixes)
        out.append(graph_fingerprint(g, exact_rounds=3).select(
            F.lit(variant).alias("variant"), "n_triples",
            "fingerprint"))
    return out[0].unionByName(out[1])


def _sql_canon_nat(pn: str, pr: str, pm: str) -> str:
    return f"""(
      SELECT '{pn}'||n_nationkey AS nb, n_name,
             '{pr}'||n_regionkey AS rb, '{pm}'||n_nationkey AS mb
      FROM nation)"""


_SQL_CANON_TRIPLES = """(
      SELECT nb AS subj, 'kg:name' AS pred, n_name AS obj,
             FALSE AS iri FROM {nat}
      UNION ALL SELECT nb, 'kg:inRegion', rb, TRUE FROM {nat}
      UNION ALL SELECT nb, 'kg:mark', mb||'a', TRUE FROM {nat}
      UNION ALL SELECT nb, 'kg:mark', mb||'b', TRUE FROM {nat}
      UNION ALL SELECT mb||'a', 'kg:kind', 'm', FALSE FROM {nat}
      UNION ALL SELECT mb||'b', 'kg:kind', 'm', FALSE FROM {nat}
      UNION ALL SELECT '{pr}'||r_regionkey, 'kg:rname', r_name, FALSE
                 FROM region)"""


def sql_kg_graph_fingerprint() -> str:
    fp = ("SELECT '{v}' AS variant, CAST(COUNT(*) AS BIGINT) AS "
          "n_triples, bit_xor(CAST(('0x'||substr(md5(line), 1, 15)) "
          "AS BIGINT)) AS fingerprint FROM ("
          "SELECT DISTINCT subj||'|'||pred||'|'||"
          "CAST(CAST(iri AS INT) AS VARCHAR)||'|'||obj||'||' AS line "
          "FROM {c}canon)")
    a_nat = _sql_canon_nat("_:n", "_:r", "_:m")
    b_nat = _sql_canon_nat("_:zz", "_:q", "_:w")
    return f"""
    WITH at AS MATERIALIZED {_SQL_CANON_TRIPLES.format(
        nat=a_nat, pr="_:r")},
    bt AS MATERIALIZED {_SQL_CANON_TRIPLES.format(
        nat=b_nat, pr="_:q")},
    {_sql_wl("at", "a")}
    {_sql_wl("bt", "b")}
    _end AS (SELECT 1)
    {fp.format(v="orig", c="a")}
    UNION ALL
    {fp.format(v="renamed", c="b")}
    """


def q_kg_canonical_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical N-Triples dump (kg/canon.canonical_ntriples — r4):
    the RDFC-1.0 deliverable — relabel bnodes canonically, serialize,
    total-order sort — computed over the RENAMED nation/region variant
    so the lines prove label independence: the twin serializes the
    ORIGINAL variant and must produce the identical text. TPC-H names
    need no N-Triples escaping, so the twin's plain quoting is exact
    (the Spark sink's escape ladder is covered by the ntriples
    roundtrip suite)."""
    from rdf_tabular_spark.kg.canon import canonical_ntriples

    g = _canon_graph(spark, sf_dir, "_:zz", "_:q", "_:w")
    return canonical_ntriples(g, exact_rounds=3)


def sql_kg_canonical_ntriples() -> str:
    a_nat = _sql_canon_nat("_:n", "_:r", "_:m")
    return f"""
    WITH at AS MATERIALIZED {_SQL_CANON_TRIPLES.format(
        nat=a_nat, pr="_:r")},
    {_sql_wl("at", "a")}
    _end AS (SELECT 1)
    SELECT DISTINCT subj||' <'||pred||'> '||
           CASE WHEN iri THEN obj ELSE '"'||obj||'"' END||' .' AS line
    FROM acanon ORDER BY line
    """


def q_kg_canon_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diff up to bnode isomorphism (kg/canon.canonical_diff —
    r4): version B renames EVERY blank node (the run-dependent label
    churn a real pipeline produces) and actually changes 5 nation
    names + adds 4 flag triples; the diff reports exactly the
    relabeled stars of the truly-changed nations and nothing for the
    ~17 merely-renamed ones. Twin runs the identical 3-round WL
    refinement over both versions and NOT-EXISTS set-diffs the
    canonical triples."""
    from rdf_tabular_spark.kg.canon import canonical_diff

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), "n_name")

    def star(pfx_n, pfx_m, name_col):
        nb = F.concat(F.lit(pfx_n), F.col("k").cast("string"))
        mb = F.concat(F.lit(pfx_m), F.col("k").cast("string"))

        def tri(s, p, o, iri):
            return (s.alias("subj"), F.lit(p).alias("pred"),
                    o.alias("obj"), F.lit(iri).alias("obj_is_iri"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                    F.lit(None).cast("string").alias("obj_lang"))

        return (nat.select(*tri(nb, "kg:name", name_col, False))
                .unionByName(nat.select(*tri(nb, "kg:mark", mb, True)))
                .unionByName(nat.select(*tri(mb, "kg:kind",
                                             F.lit("m"), False))))

    a = star("_:n", "_:m", F.col("n_name"))
    b = star("_:x", "_:y",
             F.when(F.col("k") % 5 == 0,
                    F.concat(F.col("n_name"), F.lit("!")))
             .otherwise(F.col("n_name")))
    flags = nat.filter(F.col("k") % 7 == 0).select(
        F.concat(F.lit("_:x"), F.col("k").cast("string")).alias("subj"),
        F.lit("kg:flag").alias("pred"), F.lit("fresh").alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"))
    return canonical_diff(a, b.unionByName(flags), exact_rounds=3)


def sql_kg_canon_diff() -> str:
    return f"""
    WITH nat AS (SELECT n_nationkey AS k, n_name FROM nation),
    at AS MATERIALIZED (
      SELECT '_:n'||k AS subj, 'kg:name' AS pred, n_name AS obj,
             FALSE AS iri FROM nat
      UNION ALL SELECT '_:n'||k, 'kg:mark', '_:m'||k, TRUE FROM nat
      UNION ALL SELECT '_:m'||k, 'kg:kind', 'm', FALSE FROM nat),
    bt AS MATERIALIZED (
      SELECT '_:x'||k AS subj, 'kg:name' AS pred,
             CASE WHEN k % 5 = 0 THEN n_name||'!' ELSE n_name END
               AS obj,
             FALSE AS iri FROM nat
      UNION ALL SELECT '_:x'||k, 'kg:mark', '_:y'||k, TRUE FROM nat
      UNION ALL SELECT '_:y'||k, 'kg:kind', 'm', FALSE FROM nat
      UNION ALL SELECT '_:x'||k, 'kg:flag', 'fresh', FALSE
                 FROM nat WHERE k % 7 = 0),
    {_sql_wl("at", "a")}
    {_sql_wl("bt", "b")}
    diff AS (
      SELECT 'added' AS change, b.subj, b.pred, b.obj, b.iri
      FROM bcanon b
      WHERE NOT EXISTS (
        SELECT 1 FROM acanon a
        WHERE a.subj = b.subj AND a.pred = b.pred
          AND a.obj = b.obj AND a.iri = b.iri)
      UNION ALL
      SELECT 'removed', a.subj, a.pred, a.obj, a.iri
      FROM acanon a
      WHERE NOT EXISTS (
        SELECT 1 FROM bcanon b
        WHERE b.subj = a.subj AND b.pred = a.pred
          AND b.obj = a.obj AND b.iri = a.iri))
    SELECT DISTINCT change, subj, pred, obj, iri AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM diff
    """


def _walk_graph(spark: SparkSession, sf_dir: str):
    """Layered part→supplier→nation→region edge list + part starts —
    multi-out-degree at the first hop (a part ships from several
    suppliers), single path after, sinks at regions."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    e = (li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        .alias("dst"))
        .unionByName(su.select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("n"), F.col("s_nationkey").cast("string"))
            .alias("dst")))
        .unionByName(na.select(
            F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("r"), F.col("n_regionkey").cast("string"))
            .alias("dst")))
        .distinct())
    starts = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("node")).distinct()
    return e, starts


def q_kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus (kg/walks.py — r4): deterministic
    md5-derived neighbor choice (the repo's engine-portable bucket
    convention, ops/split.py:13) over a layered part→supplier→nation→
    region graph; 2 walks per part, length 4. The twin unrolls the 3
    steps with the identical ranked-adjacency + md5-mod-degree pick."""
    from rdf_tabular_spark.kg.walks import random_walks

    e, starts = _walk_graph(spark, sf_dir)
    return random_walks(e, length=4, walks_per_node=2, seed=0,
                        starts=starts)


_WALK_SQL_BASE = """
    e AS MATERIALIZED (
      SELECT DISTINCT 'p'||l_partkey AS src, 's'||l_suppkey AS dst
      FROM lineitem
      UNION
      SELECT DISTINCT 's'||s_suppkey, 'n'||s_nationkey FROM supplier
      UNION
      SELECT DISTINCT 'n'||n_nationkey, 'r'||n_regionkey FROM nation),
    ranked AS MATERIALIZED (
      SELECT src, dst,
             CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1
                  AS BIGINT) AS idx
      FROM e),
    deg AS (SELECT src, MAX(idx) + 1 AS deg FROM ranked GROUP BY src),
    w0 AS (
      SELECT node AS start, CAST(wk.walk AS BIGINT) AS walk,
             node AS cur, node AS path
      FROM (SELECT DISTINCT 'p'||l_partkey AS node FROM lineitem),
           (SELECT UNNEST([0, 1]) AS walk) wk),
    {steps}
"""


def _walk_step_sql(t: int) -> str:
    pick = (f"CAST(('0x'||substr(md5(s.start||'|'||s.walk||'|{t}|'"
            f"||s.cur||'|0'), 1, 8)) AS BIGINT) % d.deg")
    return f"""
    w{t} AS (
      SELECT s.start, s.walk, COALESCE(r.dst, s.cur) AS cur,
             CASE WHEN r.dst IS NULL THEN s.path
                  ELSE s.path||'|'||r.dst END AS path
      FROM w{t - 1} s
      LEFT JOIN deg d ON s.cur = d.src
      LEFT JOIN ranked r ON r.src = s.cur AND r.idx = {pick})"""


def sql_kg_random_walks() -> str:
    steps = ",".join(_walk_step_sql(t) for t in (1, 2, 3))
    return ("WITH " + _WALK_SQL_BASE.format(steps=steps)
            + ' SELECT start, walk, path, cur AS "end" FROM w3')


def q_kg_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts from the walk
    corpus (kg/walks.skipgram_pairs) — the training multiset a
    word2vec-style node-embedding trainer consumes. Position-bounded
    self-join inside each walk, never across walks."""
    from rdf_tabular_spark.kg.walks import random_walks, skipgram_pairs

    e, starts = _walk_graph(spark, sf_dir)
    return skipgram_pairs(
        random_walks(e, length=4, walks_per_node=2, seed=0,
                     starts=starts), window=2)


def sql_kg_walk_pairs() -> str:
    steps = ",".join(_walk_step_sql(t) for t in (1, 2, 3))
    return ("WITH " + _WALK_SQL_BASE.format(steps=steps) + """,
    toks AS (
      SELECT start, walk,
             generate_subscripts(str_split(path, '|'), 1) AS pos,
             UNNEST(str_split(path, '|')) AS node
      FROM w3)
    SELECT a.node AS center, b.node AS context,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM toks a JOIN toks b
      ON a.start = b.start AND a.walk = b.walk
     AND b.pos - a.pos BETWEEN -2 AND 2 AND a.pos <> b.pos
    GROUP BY a.node, b.node
    """)


def q_kg_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec walks (kg/walks.node2vec_walks — r4) on
    the SYMMETRIZED part↔supplier graph, p=4 q=0.25 (outward bias,
    return discouraged): integer-micro-unit α weights, per-state
    cumulative interval draw, exactly the Grover-Leskovec §3.2 bias.
    The twin unrolls the 3 steps — candidate join, dist-1 edge flag,
    per-state cumulative window, interval pick."""
    from rdf_tabular_spark.kg.walks import node2vec_walks

    li = _t(spark, sf_dir, "lineitem")
    pe = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        .alias("dst"))
    e = pe.unionByName(pe.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))).distinct()
    starts = pe.select(F.col("src").alias("node")).distinct()
    return node2vec_walks(e, length=4, walks_per_node=2, p=4.0, q=0.25,
                          seed=0, starts=starts)


def sql_kg_node2vec_walks() -> str:
    wr, wn, wf = round(1e6 / 4.0), 1_000_000, round(1e6 / 0.25)

    def step(t: int) -> str:
        draw = (f"CAST(('0x'||substr(md5(start||'|'||walk||'|{t}|'"
                f"||cur||'|0'), 1, 8)) AS BIGINT) % tot")
        if t == 1:
            w = "CAST(1 AS BIGINT)"
        else:
            w = (f"CAST(CASE WHEN r.dst = s.prev THEN {wr} "
                 f"WHEN ef.near THEN {wn} ELSE {wf} END AS BIGINT)")
        flag = ("" if t == 1 else
                "  LEFT JOIN eflag ef ON s.prev = ef.eu "
                "AND r.dst = ef.ex\n")
        return f"""
    cand{t} AS (
      SELECT s.start, s.walk, s.cur, s.prev, s.path, r.dst, r.idx,
             {w} AS w
      FROM w{t - 1} s JOIN ranked r ON s.cur = r.src
    {flag}),
    cum{t} AS (
      SELECT *,
             SUM(w) OVER (PARTITION BY start, walk ORDER BY idx) AS hi,
             SUM(w) OVER (PARTITION BY start, walk) AS tot
      FROM cand{t}),
    win{t} AS (
      SELECT start, walk, dst AS nxt FROM cum{t}
      WHERE {draw} >= hi - w AND {draw} < hi),
    w{t} AS (
      SELECT s.start, s.walk, COALESCE(n.nxt, s.cur) AS cur,
             CASE WHEN n.nxt IS NOT NULL THEN s.cur
                  ELSE s.prev END AS prev,
             CASE WHEN n.nxt IS NOT NULL THEN s.path||'|'||n.nxt
                  ELSE s.path END AS path
      FROM w{t - 1} s
      LEFT JOIN win{t} n ON s.start = n.start AND s.walk = n.walk)"""

    steps = ",".join(step(t) for t in (1, 2, 3))
    return f"""
    WITH pe AS MATERIALIZED (
      SELECT DISTINCT 'p'||l_partkey AS src, 's'||l_suppkey AS dst
      FROM lineitem),
    e AS MATERIALIZED (
      SELECT src, dst FROM pe
      UNION SELECT dst, src FROM pe),
    ranked AS MATERIALIZED (
      SELECT src, dst,
             CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1
                  AS BIGINT) AS idx
      FROM e),
    eflag AS (SELECT src AS eu, dst AS ex, TRUE AS near FROM e),
    w0 AS (
      SELECT node AS start, CAST(wk.walk AS BIGINT) AS walk,
             node AS cur, CAST(NULL AS VARCHAR) AS prev, node AS path
      FROM (SELECT DISTINCT src AS node FROM pe),
           (SELECT UNNEST([0, 1]) AS walk) wk),
    {steps}
    SELECT start, walk, path, cur AS "end" FROM w3
    """


def q_events_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival temporal reachability (ops/temporal.py — r4):
    customer↔supplier contact edges timestamped by ship date (orders ⋈
    lineitem), sources = every 100th customer; a path may only take
    edges at ``ts >=`` its arrival — the contact-tracing semantics.
    ≤3 hops pinned both sides; the twin unrolls 3 min-relaxations
    (identity once converged)."""
    from rdf_tabular_spark.ops.temporal import earliest_arrival

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cs = (li.join(od, li["l_orderkey"] == od["o_orderkey"])
          .select(
              F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
              .alias("c"),
              F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
              .alias("s"),
              F.col("l_shipdate").cast("timestamp").alias("ts")))
    edges = (cs.select(F.col("c").alias("src"), F.col("s").alias("dst"),
                       "ts")
             .unionByName(cs.select(F.col("s").alias("src"),
                                    F.col("c").alias("dst"), "ts")))
    sources = (_t(spark, sf_dir, "customer")
               .filter(F.col("c_custkey") % 100 == 0)
               .select(F.concat(F.lit("c"),
                                F.col("c_custkey").cast("string"))
                       .alias("node")))
    return earliest_arrival(edges, sources, max_hops=3)


def sql_events_temporal_reach() -> str:
    relax = """
    r{i} AS MATERIALIZED (
      SELECT node, MIN(arrive) AS arrive FROM (
        SELECT node, arrive FROM r{p}
        UNION ALL
        SELECT e.dst AS node, MIN(e.ts) AS arrive
        FROM r{p} f JOIN e ON f.node = e.src AND e.ts >= f.arrive
        GROUP BY e.dst)
      GROUP BY node)"""
    steps = ",".join(relax.format(i=i, p=i - 1) for i in (1, 2, 3))
    return f"""
    WITH cs AS MATERIALIZED (
      SELECT 'c'||o.o_custkey AS c, 's'||l.l_suppkey AS s,
             CAST(l.l_shipdate AS TIMESTAMP) AS ts
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    e AS MATERIALIZED (
      SELECT DISTINCT c AS src, s AS dst, ts FROM cs
      UNION
      SELECT DISTINCT s, c, ts FROM cs),
    r0 AS (
      SELECT 'c'||c_custkey AS node,
             TIMESTAMP '1900-01-01 00:00:00' AS arrive
      FROM customer WHERE c_custkey % 100 = 0),
    {steps}
    SELECT node, arrive FROM r3
    """


def q_events_temporal_depart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-departure temporal reachability (ops/temporal.
    latest_departure — r4): the backward mirror of
    events_temporal_reach — MAX relaxation with ts <= depart toward a
    target set (every 100th supplier), ≤3 hops pinned both sides."""
    from rdf_tabular_spark.ops.temporal import latest_departure

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cs = (li.join(od, li["l_orderkey"] == od["o_orderkey"])
          .select(
              F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
              .alias("c"),
              F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
              .alias("s"),
              F.col("l_shipdate").cast("timestamp").alias("ts")))
    edges = (cs.select(F.col("c").alias("src"), F.col("s").alias("dst"),
                       "ts")
             .unionByName(cs.select(F.col("s").alias("src"),
                                    F.col("c").alias("dst"), "ts")))
    targets = (_t(spark, sf_dir, "supplier")
               .filter(F.col("s_suppkey") % 100 == 0)
               .select(F.concat(F.lit("s"),
                                F.col("s_suppkey").cast("string"))
                       .alias("node")))
    return latest_departure(edges, targets, max_hops=3)


def sql_events_temporal_depart() -> str:
    relax = """
    r{i} AS MATERIALIZED (
      SELECT node, MAX(depart) AS depart FROM (
        SELECT node, depart FROM r{p}
        UNION ALL
        SELECT e.src AS node, MAX(e.ts) AS depart
        FROM r{p} f JOIN e ON f.node = e.dst AND e.ts <= f.depart
        GROUP BY e.src)
      GROUP BY node)"""
    steps = ",".join(relax.format(i=i, p=i - 1) for i in (1, 2, 3))
    return f"""
    WITH cs AS MATERIALIZED (
      SELECT 'c'||o.o_custkey AS c, 's'||l.l_suppkey AS s,
             CAST(l.l_shipdate AS TIMESTAMP) AS ts
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    e AS MATERIALIZED (
      SELECT DISTINCT c AS src, s AS dst, ts FROM cs
      UNION
      SELECT DISTINCT s, c, ts FROM cs),
    r0 AS (
      SELECT 's'||s_suppkey AS node,
             TIMESTAMP '2100-01-01 00:00:00' AS depart
      FROM supplier WHERE s_suppkey % 100 = 0),
    {steps}
    SELECT node, depart FROM r3
    """


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel drop-off (ops/funnel.funnel_counts — r4):
    view → click → purchase, each stage counted at the earliest event
    strictly LATER than the previous stage's conversion. The twin
    chains three min-aggregations with the identical strictness."""
    from rdf_tabular_spark.ops.funnel import funnel_counts

    return funnel_counts(_t(spark, sf_dir, "events"),
                         ["view", "click", "purchase"])


def sql_events_funnel() -> str:
    return """
    WITH t1 AS (
      SELECT user_id AS u, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
      JOIN t1 ON e.user_id = t1.u AND e.ts > t1.t
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    t3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
      JOIN t2 ON e.user_id = t2.u AND e.ts > t2.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT CAST(1 AS INT) AS stage, 'view' AS stage_name,
           (SELECT COUNT(*) FROM t1) AS users
    UNION ALL
    SELECT CAST(2 AS INT), 'click', (SELECT COUNT(*) FROM t2)
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', (SELECT COUNT(*) FROM t3)
    """


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (ops/funnel.retention_cohorts — r4):
    cohort = Monday of the user's first-event week, distinct users per
    (cohort, week offset)."""
    from rdf_tabular_spark.ops.funnel import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"), max_weeks=12)


def sql_events_retention() -> str:
    return """
    WITH first AS (
      SELECT user_id AS u, MIN(date_trunc('week', ts)) AS cw
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w
      FROM events)
    SELECT CAST(cw AS TIMESTAMP) AS cohort_week,
           CAST(FLOOR((epoch(w) - epoch(cw)) / (7 * 86400)) AS INT)
             AS week_offset,
           CAST(COUNT(DISTINCT active.u) AS BIGINT) AS users
    FROM active JOIN first ON active.u = first.u
    WHERE FLOOR((epoch(w) - epoch(cw)) / (7 * 86400)) BETWEEN 0 AND 12
    GROUP BY cw, 2
    """


def q_kg_walk_ppmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k PPMI context features from the walk corpus
    (kg/walks.ppmi_features — r4): the closed-form SGNS stand-in
    (Levy & Goldberg '14), integer micro-nat PMI in a fixed term order
    so both engines rank identical integers."""
    from rdf_tabular_spark.kg.walks import (ppmi_features, random_walks,
                                            skipgram_pairs)

    e, starts = _walk_graph(spark, sf_dir)
    pairs = skipgram_pairs(
        random_walks(e, length=4, walks_per_node=2, seed=0,
                     starts=starts), window=2)
    return ppmi_features(pairs, top_k=5)


def sql_kg_walk_ppmi() -> str:
    steps = ",".join(_walk_step_sql(t) for t in (1, 2, 3))
    return ("WITH " + _WALK_SQL_BASE.format(steps=steps) + """,
    toks AS (
      SELECT start, walk,
             generate_subscripts(str_split(path, '|'), 1) AS pos,
             UNNEST(str_split(path, '|')) AS node
      FROM w3),
    pairs AS MATERIALIZED (
      SELECT a.node AS center, b.node AS context,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM toks a JOIN toks b
        ON a.start = b.start AND a.walk = b.walk
       AND b.pos - a.pos BETWEEN -2 AND 2 AND a.pos <> b.pos
      GROUP BY a.node, b.node),
    tot AS (SELECT SUM(n) AS nn FROM pairs),
    nc AS (SELECT center, SUM(n) AS nc FROM pairs GROUP BY center),
    nx AS (SELECT context, SUM(n) AS nx FROM pairs GROUP BY context),
    scored AS (
      SELECT p.center, p.context,
             CAST(ROUND((ln(CAST(p.n AS DOUBLE))
                         + ln(CAST(t.nn AS DOUBLE))
                         - ln(CAST(c.nc AS DOUBLE))
                         - ln(CAST(x.nx AS DOUBLE))) * 1e6) AS BIGINT)
               AS pmi_micro
      FROM pairs p CROSS JOIN tot t
      JOIN nc c ON p.center = c.center
      JOIN nx x ON p.context = x.context)
    SELECT center, context, pmi_micro,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT center, context, pmi_micro,
             ROW_NUMBER() OVER (PARTITION BY center
                                ORDER BY pmi_micro DESC, context) AS rank
      FROM scored WHERE pmi_micro > 0)
    WHERE rank <= 5
    """)


def q_kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH patterns in the SPARQL text front-end (kg/sparql.py — r4,
    dataset semantics over the quad table): the same query shape as
    kg_named_graphs arrives as a STRING — a GRAPH ?g scope binding the
    repo graph IRI joined against a default-graph pattern. Bare
    patterns over a quad table see the default graph only; the graph
    term compiles to one more equi-join column (kg/dataset.match_quads
    underneath)."""
    from rdf_tabular_spark.kg import dataset
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    quads = dataset.with_graph(triples, _GRAPH_EXPR)
    return sparql(quads, f"""
        PREFIX kg: <{_KG}>
        SELECT ?g ?f ?m ?v WHERE {{
          GRAPH ?g {{ ?f kg:imports ?m }}
          ?m kg:versionSpec ?v
        }}
    """)


def sql_kg_sparql_graph() -> str:
    return sql_kg_named_graphs()


def q_csvw_skolemize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF 1.1 §3.5 skolemization (operators/skolem.py — r4): the
    standard-mode CSVW envelope's deterministic blank nodes become
    well-known genid IRIs — one regexp projection per position,
    map-only. The twin applies the same prefix rewrite in SQL over the
    independently-recomputed envelope."""
    from rdf_tabular_spark.operators.skolem import skolemize

    return skolemize(q_csvw_triples_standard(spark, sf_dir), EX.rstrip("/"))


def sql_csvw_skolemize() -> str:
    gen = EX.rstrip("/") + "/.well-known/genid/"
    return f"""
    WITH t AS ({sql_csvw_triples_standard()})
    SELECT regexp_replace(subj, '^_:', '{gen}') AS subj, pred,
           CASE WHEN obj_is_iri THEN regexp_replace(obj, '^_:', '{gen}')
                ELSE obj END AS obj,
           obj_is_iri, obj_datatype, obj_lang
    FROM t
    """


def q_kg_turtle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle SOURCE (sources/turtle_source.py — r4, inverse of the
    subject-grouped Turtle sink): the full KG serializes to prefix-
    compacted Turtle blocks (one hash agg) and parses back through the
    Arrow-batched block parser (pname expansion, escape decode,
    datatype/lang recovery). The twin computes the triples directly —
    parse∘format == identity cross-engine through BOTH RDF text
    formats' grammars (the N-Triples twin covers the other)."""
    from rdf_tabular_spark.operators.turtle import (DEFAULT_PREFIXES,
                                                    to_turtle_blocks)
    from rdf_tabular_spark.sources.turtle_source import parse_turtle_blocks

    _, _, triples = _kg_oracle_run(spark)
    prefixes = dict(DEFAULT_PREFIXES)
    prefixes["kg"] = _KG
    return parse_turtle_blocks(to_turtle_blocks(triples, prefixes),
                               prefixes)


def sql_kg_turtle_roundtrip() -> str:
    return sql_kg_triples()


def q_kg_sparql_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM / FROM NAMED dataset clauses (kg/sparql.py — r4, SPARQL
    §13.2): the clause REPLACES the dataset — FROM <g1> becomes the
    default graph, FROM NAMED <g2> the only named graph; the query
    joins a default-graph pattern against a GRAPH ?g pattern on the
    shared module, yielding cross-repo shared-module pairs between the
    two biggest repo graphs. Graph selection is a bounded 2-row driver
    probe (count-ordered, graph tiebreak) on both engines."""
    from rdf_tabular_spark.kg import dataset
    from rdf_tabular_spark.kg.sparql import sparql

    _, _, triples = _kg_oracle_run(spark)
    quads = dataset.with_graph(triples, _GRAPH_EXPR)
    top = (quads.filter(F.col("graph").isNotNull())
           .groupBy("graph").count()
           .orderBy(F.desc("count"), "graph").limit(2).collect())
    g1, g2 = top[0]["graph"], top[-1]["graph"]
    return sparql(quads, f"""
        PREFIX kg: <{_KG}>
        SELECT ?f ?m ?f2 FROM <{g1}> FROM NAMED <{g2}> WHERE {{
          ?f kg:imports ?m .
          GRAPH ?g {{ ?f2 kg:imports ?m }}
        }}
    """)


def sql_kg_sparql_from() -> str:
    return f"""
    WITH t AS MATERIALIZED ({sql_kg_triples()}),
    quads AS (SELECT {_GRAPH_EXPR} AS graph, subj, pred, obj FROM t),
    top2 AS (
      SELECT graph, row_number() OVER (ORDER BY cnt DESC, graph) AS rk
      FROM (SELECT graph, count(*) AS cnt FROM quads
            WHERE graph IS NOT NULL
            GROUP BY graph ORDER BY cnt DESC, graph LIMIT 2)),
    imp1 AS (
      SELECT q.subj AS f, q.obj AS m FROM quads q
      JOIN top2 ON q.graph = top2.graph AND top2.rk = 1
      WHERE q.pred = '{_KG}imports'),
    imp2 AS (
      SELECT q.subj AS f2, q.obj AS m FROM quads q
      JOIN top2 ON q.graph = top2.graph AND top2.rk = 2
      WHERE q.pred = '{_KG}imports')
    SELECT DISTINCT f, m, f2 FROM imp1 JOIN imp2 USING (m)
    """


def q_kg_nquads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Quads sink+source (operators/ntriples.py — r4): the dataset
    (per-repo named graphs + default-graph metadata, kg/dataset model)
    serializes to N-Quads text (default-graph rows as plain triple
    lines per spec) and parses back through the same native-framing /
    Arrow-detour route as N-Triples. Twin computes the quads directly —
    parse∘format identity for the QUAD table."""
    from rdf_tabular_spark.kg.dataset import with_graph
    from rdf_tabular_spark.operators.ntriples import (parse_nquads_lines,
                                                      to_nquads_lines)

    _, _, triples = _kg_oracle_run(spark)
    quads = with_graph(triples, _GRAPH_EXPR)
    return parse_nquads_lines(to_nquads_lines(quads))


def sql_kg_nquads_roundtrip() -> str:
    return f"""
    WITH t AS ({sql_kg_triples()})
    SELECT subj, pred, obj, obj_is_iri, obj_datatype, obj_lang,
           {_GRAPH_EXPR} AS graph
    FROM t
    """


def q_kg_sparql_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF collections in SPARQL patterns (kg/sparql.py §4.2 sugar —
    r4): each order's lineitems become an ordered rdf:first/rdf:rest
    spine (the CSVW ordered-list emission shape, metadata.rb list
    columns), and ``?o kg:lineitems ( ?p )`` matches exactly the
    singleton lists — three desugared patterns self-joined on the
    triple table. Spine build is one shuffle on l_orderkey; all three
    projections reuse it."""
    from rdf_tabular_spark.kg.sparql import sparql

    rdf_ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    # testdata linenumbers are not unique per order — derive a dense
    # deterministic position (ties broken on part/supp keys)
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey")
    base = (li.withColumn("pos", F.row_number().over(w))
              .withColumn("n_items",
                          F.count(F.lit(1)).over(
                              Window.partitionBy("l_orderkey"))))
    node = F.concat(F.lit("urn:ol:"), F.col("l_orderkey"),
                    F.lit("/"), F.col("pos"))
    nxt = F.when(
        F.col("pos") < F.col("n_items"),
        F.concat(F.lit("urn:ol:"), F.col("l_orderkey"), F.lit("/"),
                 F.col("pos") + F.lit(1))
    ).otherwise(F.lit(rdf_ns + "nil"))
    head = base.where(F.col("pos") == 1).select(
        F.concat(F.lit("urn:o:"), F.col("l_orderkey")).alias("subj"),
        F.lit(_KG + "lineitems").alias("pred"), node.alias("obj"))
    firsts = base.select(
        node.alias("subj"), F.lit(rdf_ns + "first").alias("pred"),
        F.concat(F.lit("urn:p:"), F.col("l_partkey")).alias("obj"))
    rests = base.select(
        node.alias("subj"), F.lit(rdf_ns + "rest").alias("pred"),
        nxt.alias("obj"))
    triples = (
        head.unionByName(firsts).unionByName(rests)
        .withColumn("obj_is_iri", F.lit(True))
        .withColumn("obj_datatype", F.lit(None).cast("string"))
        .withColumn("obj_lang", F.lit(None).cast("string")))
    return sparql(triples, f"""
        PREFIX kg: <{_KG}>
        PREFIX rdf: <{rdf_ns}>
        SELECT ?o ?p WHERE {{ ?o kg:lineitems ( ?p ) }}
    """)


def sql_kg_sparql_lists() -> str:
    return """
    SELECT 'urn:o:' || l_orderkey AS o, 'urn:p:' || MIN(l_partkey) AS p
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(*) = 1
    """


def q_kg_owl_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-RL-lite property rules (kg/owl.py — r4): kg:importedBy /
    kg:definedIn arrive as owl:inverseOf axioms, and the chain
    ``definedIn ∘ inRepo ⊑ inRepo`` gives every symbol repo membership
    THROUGH the rule pipeline's own inverse output — the semi-naive
    fixpoint engine must land on the closed form the twin computes
    (this ontology's rule graph is acyclic, fixpoint = 2 rounds)."""
    from rdf_tabular_spark.kg.owl import owl_property_materialize

    _, _, triples = _kg_oracle_run(spark)
    return owl_property_materialize(
        triples,
        inverse=[(_KG + "imports", _KG + "importedBy"),
                 (_KG + "defines", _KG + "definedIn")],
        chains=[(_KG + "definedIn", _KG + "inRepo", _KG + "inRepo")])


def sql_kg_owl_closure() -> str:
    return f"""
    WITH t AS MATERIALIZED ({sql_kg_triples()}),
    imp_inv AS (
      SELECT DISTINCT obj AS subj, '{_KG}importedBy' AS pred,
             subj AS obj
      FROM t WHERE pred = '{_KG}imports' AND obj_is_iri),
    def_inv AS (
      SELECT DISTINCT obj AS subj, '{_KG}definedIn' AS pred,
             subj AS obj
      FROM t WHERE pred = '{_KG}defines' AND obj_is_iri),
    chain AS (
      SELECT DISTINCT d.subj, '{_KG}inRepo' AS pred, r.obj
      FROM def_inv d
      JOIN (SELECT subj, obj FROM t
            WHERE pred = '{_KG}inRepo' AND obj_is_iri) r
        ON d.obj = r.subj),
    inferred AS (
      SELECT * FROM imp_inv UNION SELECT * FROM def_inv
      UNION SELECT * FROM chain)
    SELECT subj, pred, obj, obj_is_iri, obj_datatype, obj_lang FROM t
    UNION ALL
    SELECT i.subj, i.pred, i.obj, TRUE AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM inferred i
    LEFT JOIN t ON i.subj = t.subj AND i.pred = t.pred AND i.obj = t.obj
    WHERE t.subj IS NULL
    """


def q_kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (kg/graph.predict_links — r4): common-neighbor
    count + Resource-Allocation index per co-imported module pair; the
    per-file weight is the integer (10^12 + deg div 2) div deg so the
    pair score is an exact BIGINT sum — no float-ln or accumulation-
    order drift between engines. File-keyed self-join, fan-out bounded
    by imports-per-file²."""
    from rdf_tabular_spark.kg.graph import predict_links

    _, _, triples = _kg_oracle_run(spark)
    return predict_links(triples, min_common=2)


def sql_kg_link_prediction() -> str:
    return f"""
    WITH t AS MATERIALIZED ({sql_kg_triples()}),
    mods AS (
      SELECT DISTINCT subj AS src, obj AS dst FROM t
      WHERE pred IN ('{_KG}imports', '{_KG}dependsOn') AND obj_is_iri),
    deg AS (SELECT src, COUNT(*) AS d FROM mods GROUP BY src),
    w AS (
      SELECT m.src, m.dst,
             (1000000000000 + deg.d // 2) // deg.d AS wgt
      FROM mods m JOIN deg ON m.src = deg.src)
    SELECT a.dst AS mod_a, b.dst AS mod_b,
           CAST(COUNT(*) AS BIGINT) AS common,
           CAST(SUM(a.wgt) AS BIGINT) AS ra_micro
    FROM w a JOIN w b ON a.src = b.src AND a.dst < b.dst
    GROUP BY a.dst, b.dst
    HAVING COUNT(*) >= 2
    """


def q_kg_shacl_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite r4 constraints (kg/shacl.py sh:pattern / sh:in /
    sh:minInclusive+maxInclusive): language allowlist, path-extension
    regex, and a numeric range on symbol indices — each a map-only
    filter on one predicate slice after the target semi-join; every
    shape produces real violations on this corpus (150 langs, 75
    paths, range hits on deep definition indices)."""
    from rdf_tabular_spark.kg.shacl import validate_shapes

    _, _, triples = _kg_oracle_run(spark)
    return validate_shapes(triples, [
        {"name": "LangAllowed", "target_class": _KG + "File",
         "property": _KG + "lang", "in": ["python", "ruby"]},
        {"name": "ScriptPath", "target_class": _KG + "File",
         "property": _KG + "path", "pattern": r"\.(py|rb|js)$"},
        {"name": "IdxRange", "target_class": _KG + "Function",
         "property": _KG + "atIndex",
         "min_inclusive": 0, "max_inclusive": 5},
    ])


def sql_kg_shacl_extended() -> str:
    return f"""
    WITH kgt AS MATERIALIZED ({sql_kg_triples()}),
    types AS (SELECT subj, obj FROM kgt WHERE pred = '{_RDF_TYPE}'),
    files AS (SELECT DISTINCT subj AS focus FROM types
              WHERE obj = '{_KG}File'),
    funcs AS (SELECT DISTINCT subj AS focus FROM types
              WHERE obj = '{_KG}Function')
    SELECT DISTINCT * FROM (
      SELECT v.subj AS focus, 'LangAllowed' AS shape, 'in' AS constraint,
             v.obj AS detail
      FROM kgt v JOIN files f ON v.subj = f.focus
      WHERE v.pred = '{_KG}lang' AND v.obj NOT IN ('python', 'ruby')
      UNION ALL
      SELECT v.subj, 'ScriptPath', 'pattern', v.obj
      FROM kgt v JOIN files f ON v.subj = f.focus
      WHERE v.pred = '{_KG}path' AND NOT v.obj_is_iri
        AND NOT regexp_matches(v.obj, '\\.(py|rb|js)$')
      UNION ALL
      SELECT v.subj, 'IdxRange', 'range', v.obj
      FROM kgt v JOIN funcs f ON v.subj = f.focus
      WHERE v.pred = '{_KG}atIndex' AND NOT v.obj_is_iri
        AND (TRY_CAST(v.obj AS DECIMAL(38,12)) IS NULL
             OR TRY_CAST(v.obj AS DECIMAL(38,12)) < 0
             OR TRY_CAST(v.obj AS DECIMAL(38,12)) > 5))
    """


def q_kg_owl_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OWL maintenance (kg/owl.owl_incremental — r4): the
    corpus splits 90/10 by an md5 row bucket, Spark closes the 90%
    base then maintains it under the 10% delta (semi-naive from the
    delta frontier — the closed graph never re-derives); the twin
    recomputes the FULL closure from scratch. A green row IS the
    incremental == full-recompute invariant, cross-engine (the same
    proof shape as kg_rdfs_incremental)."""
    from rdf_tabular_spark.kg.owl import (owl_incremental,
                                          owl_property_materialize)

    _, _, triples = _kg_oracle_run(spark)
    rules = dict(
        inverse=[(_KG + "imports", _KG + "importedBy"),
                 (_KG + "defines", _KG + "definedIn")],
        chains=[(_KG + "definedIn", _KG + "inRepo", _KG + "inRepo")])
    bucket = F.conv(F.substring(F.md5(F.concat_ws(
        "\x00", "subj", "pred", "obj")), 1, 8), 16, 10).cast("long") % 10
    base = triples.filter(bucket != 0)
    delta = triples.filter(bucket == 0)
    return owl_incremental(owl_property_materialize(base, **rules),
                           delta, **rules)


def sql_kg_owl_incremental() -> str:
    return sql_kg_owl_closure()


def q_kg_streaming_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CONSTRUCT view maintenance (streaming/incremental.
    run_streaming_construct — r4): the staged source streams one file
    per micro-batch; each batch extends the materialized co-imports
    view via the delta rule (kg/query.construct_incremental — only
    delta-sized join chains, the accumulated graph never re-joins
    itself). The twin computes the view from scratch over the same
    streaming-subset triples: drained view == full CONSTRUCT whatever
    the batch boundaries."""
    import os
    import tempfile

    from rdf_tabular_spark.streaming import run_streaming_construct

    pats = [("?f", _KG + "imports", "?m"), ("?g", _KG + "imports", "?m")]
    tmpl = [("?f", _KG + "coImports", "?g")]
    work = tempfile.mkdtemp(prefix="rdf_tabular_spark_kg_sconstruct_q_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    q = run_streaming_construct(
        spark, _kg_stream_source_dir(), sink, ckpt, pats, tmpl,
        filters=["f < g"], max_files_per_trigger=1)
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "streaming CONSTRUCT did not drain within 600s — the view "
            "would be partial; failing instead of comparing garbage")
    from rdf_tabular_spark.streaming.incremental import read_sink

    return read_sink(spark, os.path.join(sink, "view"))


def sql_kg_streaming_construct() -> str:
    return f"""
    WITH kgt AS MATERIALIZED ({sql_kg_streaming_triples()}),
    imp AS (SELECT subj, obj FROM kgt WHERE pred = '{_KG}imports'),
    sols AS (SELECT a.subj AS f, b.subj AS g
             FROM imp a JOIN imp b ON a.obj = b.obj
             WHERE a.subj < b.subj)
    SELECT DISTINCT f AS subj, '{_KG}coImports' AS pred, g AS obj,
           TRUE AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM sols
    """


def q_kg_streaming_rdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KG construction WITH reasoning (streaming/incremental.
    run_streaming_rdfs — r4): the staged source streams in micro-batches;
    each batch maintains an RDFS-CLOSED sink (first batch materializes,
    later ones run kg/infer.rdfs_incremental against the closed sink —
    delta-frontier only). The twin applies the same rdfs2/3/7/9 rules in
    SQL over the batch streaming-subset triples — the drained sink must
    equal the from-scratch closure whatever the delivery order."""
    import os
    import tempfile

    from rdf_tabular_spark.streaming import run_streaming_rdfs

    work = tempfile.mkdtemp(prefix="rdf_tabular_spark_kg_srdfs_q_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    q = run_streaming_rdfs(
        spark, _kg_stream_source_dir(), sink, ckpt,
        max_files_per_trigger=1)
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "streaming RDFS did not drain within 600s — the sink would "
            "be partial; failing instead of comparing garbage")
    from rdf_tabular_spark.streaming.incremental import read_sink

    return read_sink(spark, sink)


def sql_kg_streaming_rdfs() -> str:
    from rdf_tabular_spark.kg import infer

    return f"""
    WITH closed AS MATERIALIZED (SELECT * FROM ({sql_kg_rdfs_closure()})),
    kgt AS MATERIALIZED ({sql_kg_streaming_triples()}),
    subprop AS (SELECT subj AS p, obj AS q FROM closed
                WHERE pred = '{infer.SUBPROP}'),
    subclass AS (SELECT subj AS c, obj AS d FROM closed
                 WHERE pred = '{infer.SUBCLASS}'),
    domains AS (SELECT subj AS p, obj AS c FROM closed
                WHERE pred = '{infer.DOMAIN}'),
    ranges AS (SELECT subj AS p, obj AS c FROM closed
               WHERE pred = '{infer.RANGE}'),
    derived_edges AS (
      SELECT t.subj, sp.q AS pred, t.obj, t.obj_is_iri
      FROM kgt t JOIN subprop sp ON t.pred = sp.p),
    edges_all AS (
      SELECT subj, pred, obj, obj_is_iri FROM kgt
      UNION ALL SELECT subj, pred, obj, obj_is_iri FROM derived_edges),
    dom_types AS (
      SELECT e.subj, d.c AS obj
      FROM edges_all e JOIN domains d ON e.pred = d.p),
    rng_types AS (
      SELECT e.obj AS subj, r.c AS obj
      FROM edges_all e JOIN ranges r ON e.pred = r.p WHERE e.obj_is_iri),
    asserted_types AS (
      SELECT subj, obj FROM kgt WHERE pred = '{_RDF_TYPE}'),
    types_all AS (
      SELECT subj, obj FROM asserted_types
      UNION ALL SELECT subj, obj FROM dom_types
      UNION ALL SELECT subj, obj FROM rng_types),
    super_types AS (
      SELECT t.subj, sc.d AS obj
      FROM types_all t JOIN subclass sc ON t.obj = sc.c),
    inferred AS (
      SELECT DISTINCT subj, pred, obj FROM (
        SELECT subj, '{_RDF_TYPE}' AS pred, obj FROM dom_types
        UNION ALL SELECT subj, '{_RDF_TYPE}', obj FROM rng_types
        UNION ALL SELECT subj, '{_RDF_TYPE}', obj FROM super_types
        UNION ALL SELECT subj, pred, obj FROM derived_edges))
    SELECT subj, pred, obj, obj_is_iri, obj_datatype, obj_lang FROM kgt
    UNION ALL
    SELECT i.subj, i.pred, i.obj, TRUE AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM inferred i
    WHERE NOT EXISTS (
      SELECT 1 FROM kgt t
      WHERE t.subj = i.subj AND t.pred = i.pred AND t.obj = i.obj)
    """


def q_kg_streaming_owl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OWL maintenance (streaming/incremental.run_streaming_owl
    — r4): OWL property rules are MULTI-premise (the chain joins a delta
    fact against the closed sink), the case RDFS's single-premise
    incremental argument does not cover — kg/owl.owl_incremental's
    delta-frontier semi-naive loop handles it per micro-batch. The twin
    computes the closed form over the same staged parquet: drained
    streamed sink == from-scratch closure, whatever the file order."""
    import os
    import tempfile

    from rdf_tabular_spark.streaming import run_streaming_owl

    rules = dict(
        inverse=[(_KG + "imports", _KG + "importedBy"),
                 (_KG + "defines", _KG + "definedIn")],
        chains=[(_KG + "definedIn", _KG + "inRepo", _KG + "inRepo")])
    work = tempfile.mkdtemp(prefix="rdf_tabular_spark_kg_sowl_q_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    q = run_streaming_owl(
        spark, _kg_stream_source_dir(), sink, ckpt, rules,
        max_files_per_trigger=1)
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "streaming OWL did not drain within 600s — the sink would "
            "be partial; failing instead of comparing garbage")
    from rdf_tabular_spark.streaming.incremental import read_sink

    return read_sink(spark, sink)


def sql_kg_streaming_owl() -> str:
    return f"""
    WITH t AS MATERIALIZED ({sql_kg_streaming_triples()}),
    imp_inv AS (
      SELECT DISTINCT obj AS subj, '{_KG}importedBy' AS pred,
             subj AS obj
      FROM t WHERE pred = '{_KG}imports' AND obj_is_iri),
    def_inv AS (
      SELECT DISTINCT obj AS subj, '{_KG}definedIn' AS pred,
             subj AS obj
      FROM t WHERE pred = '{_KG}defines' AND obj_is_iri),
    chain AS (
      SELECT DISTINCT d.subj, '{_KG}inRepo' AS pred, r.obj
      FROM def_inv d
      JOIN (SELECT subj, obj FROM t
            WHERE pred = '{_KG}inRepo' AND obj_is_iri) r
        ON d.obj = r.subj),
    inferred AS (
      SELECT * FROM imp_inv UNION SELECT * FROM def_inv
      UNION SELECT * FROM chain)
    SELECT subj, pred, obj, obj_is_iri, obj_datatype, obj_lang FROM t
    UNION ALL
    SELECT i.subj, i.pred, i.obj, TRUE AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang
    FROM inferred i
    LEFT JOIN t ON i.subj = t.subj AND i.pred = t.pred AND i.obj = t.obj
    WHERE t.subj IS NULL
    """


def q_kg_link_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf mention rescoring (kg/link.py — r4, the north rule's
    'minhash-LSH blocking ... then Jaccard/tf-idf rescoring'): candidates
    from shared-shingle blocking (engine-portable, exact recall at the
    blocking bar, hot-shingle df cap) scored by idf-weighted Jaccard of
    the shingle sets in integer micro-nats — shared rare shingles count,
    shared stop-shingles barely do. Both Σ are exact BIGINT sums and the
    final ratio quantizes in pure integer arithmetic, so the scores are
    bit-identical across engines and partitionings."""
    from rdf_tabular_spark.kg import extract, link

    src = spark.read.parquet(_kg_oracle_source_path())
    ext = extract.extract_structures(src, layout="source", carry_sha=False)
    # ALL extracted names — module mentions AND defined symbols (the
    # north rule canonicalizes "repo/path/symbol entities")
    mentions = ext.select(F.col("name").alias("mention"))
    pairs = link.shingle_blocked_pairs(mentions, min_shared=2)
    return link.tfidf_rescore(mentions, pairs).filter(
        F.col("tfidf_micro") >= 150000)


def sql_kg_link_tfidf() -> str:
    """Twin replays blocking + idf-weighted Jaccard from the `mentions`
    CTE: same normalize, same 3-gram shingles, same df cap, same
    micro-nat idf quantization and integer ratio quantization."""
    return _sql_kg_base() + """,
    amentions AS (SELECT DISTINCT name AS mention FROM ext),
    mnorm AS (
      SELECT mention,
             '^' || regexp_replace(regexp_replace(lower(mention),
                     '^\\./', ''), '[/._-]+', '.', 'g') || '$' AS padded
      FROM amentions),
    msh AS (
      SELECT mention,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(length(padded) - 2, 1)),
               i -> substring(padded, CAST(i AS INT), 3)))) AS t
      FROM mnorm),
    sdf AS (SELECT t, COUNT(*) AS df FROM msh GROUP BY t),
    live AS (SELECT m.mention, m.t FROM msh m JOIN sdf USING (t)
             WHERE sdf.df <= 256),
    cand AS (
      SELECT a.mention AS a, b.mention AS b
      FROM live a JOIN live b USING (t)
      WHERE a.mention < b.mention
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    nn AS (SELECT COUNT(*) AS n FROM amentions),
    idf AS (
      SELECT t, CAST(round(ln(((SELECT n FROM nn) + 1)::DOUBLE
                              / (df + 1)) * 1e6) AS BIGINT) AS idf_micro
      FROM sdf),
    un AS (
      SELECT DISTINCT a, b, t FROM (
        SELECT c.a, c.b, s.t FROM cand c JOIN msh s ON s.mention = c.a
        UNION ALL
        SELECT c.a, c.b, s.t FROM cand c JOIN msh s ON s.mention = c.b)),
    fl AS (
      SELECT u.a, u.b, u.t,
             (sa.mention IS NOT NULL AND sb.mention IS NOT NULL) AS probe
      FROM un u
      LEFT JOIN msh sa ON sa.mention = u.a AND sa.t = u.t
      LEFT JOIN msh sb ON sb.mention = u.b AND sb.t = u.t),
    scored AS (
      SELECT a, b,
             SUM(CASE WHEN probe THEN i.idf_micro ELSE 0 END) AS num,
             SUM(i.idf_micro) AS den
      FROM fl JOIN idf i USING (t) GROUP BY a, b)
    SELECT a, b,
           CAST((2 * 1000000 * num + den) // (2 * den) AS BIGINT)
             AS tfidf_micro
    FROM scored WHERE (2 * 1000000 * num + den) // (2 * den) >= 150000
    """


def q_kg_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Module co-import affinity (kg/graph.py module_affinity): pairs of
    modules pulled in by >= 2 common files, with Jaccard affinity."""
    from rdf_tabular_spark.kg import graph

    _, _, triples = _kg_oracle_run(spark)
    return graph.module_affinity(triples, min_files=2)


def sql_kg_components(iterations: int = 10) -> str:
    """Unrolled min-label propagation, same formulation as
    link.connected_components (neighbor-min LEAST'd with own label).
    Early convergence on the Spark side is safe: converged steps are
    identity, so running all ``iterations`` steps here lands on the same
    labels."""
    steps = []
    prev = "l0"
    for i in range(1, iterations + 1):
        steps.append(f"""
    l{i} AS MATERIALIZED (
      SELECT l.node, LEAST(l.label, COALESCE(m.nl, l.label)) AS label
      FROM {prev} l
      LEFT JOIN (
        SELECT u.x, MIN({prev}.label) AS nl
        FROM und u JOIN {prev} ON u.y = {prev}.node
        GROUP BY u.x) m
      ON l.node = m.x)""")
        prev = f"l{i}"
    return f"""
    WITH {_sql_kg_edges()},
    und AS MATERIALIZED (SELECT src AS x, dst AS y FROM gedges
            UNION ALL SELECT dst, src FROM gedges),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM gnodes),
    {",".join(steps)}
    SELECT node, label AS component FROM {prev}
    """


def sql_kg_affinity() -> str:
    return f"""
    WITH kgq AS ({sql_kg_triples()}),
    mods AS (
      SELECT DISTINCT subj AS src, obj AS dst FROM kgq
      WHERE obj_is_iri AND pred IN ('{_KG}imports', '{_KG}dependsOn')),
    pairs AS (
      SELECT a.dst AS mod_a, b.dst AS mod_b, COUNT(*) AS co_files
      FROM mods a JOIN mods b ON a.src = b.src AND a.dst < b.dst
      GROUP BY a.dst, b.dst
      HAVING COUNT(*) >= 2),
    deg AS (SELECT dst AS m, COUNT(*) AS files FROM mods GROUP BY dst)
    SELECT mod_a, mod_b, co_files,
           round(CAST(co_files AS DOUBLE)
                 / (da.files + db.files - co_files), 6) AS jaccard
    FROM pairs
    JOIN deg da ON mod_a = da.m
    JOIN deg db ON mod_b = db.m
    """


KG_POLY_FILES = 240


def _kg_polyglot_source_path() -> str:
    """Staged source table for the polyglot extraction oracle: go / rust /
    java / toml files (synth.POLY_LANGS — deliberately NOT in the default
    synth mix so bench/scaling inputs stay round-comparable). Pure-Python
    staging, same idempotent rename dance as the kg oracle source."""
    import hashlib
    import os
    import tempfile

    from rdf_tabular_spark.kg import synth

    path = os.path.join(
        tempfile.gettempdir(),
        # key includes the language-mix size so extending POLY_LANGS
        # regenerates the stage instead of silently reusing the old one
        f"rdf_tabular_spark_kg_polyglot_{KG_POLY_FILES}"
        f"_{len(synth.POLY_LANGS)}.parquet")
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    ext_for = {"go": "go", "rust": "rs", "java": "java", "toml": "toml",
               "c": "c"}
    cols: dict[str, list] = {
        "repo": [], "path": [], "commit": [], "lang": [], "content": []}
    for i in range(KG_POLY_FILES):
        lang = synth.POLY_LANGS[i % len(synth.POLY_LANGS)]
        cols["repo"].append(synth.repo_for(i, 10))
        cols["path"].append(f"src/{i % 16:02d}/file_{i}.{ext_for[lang]}")
        cols["commit"].append(hashlib.sha1(f"pcommit|{i}".encode()).hexdigest())
        cols["lang"].append(lang)
        cols["content"].append(synth.make_content(i, lang))
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
    return path


# (lang, rule_no, kind, RE2/Python-common regex, name group #, detail
# group # or None) — numbered-group twins of extract.py LANG_RULES for the
# polyglot languages; rule ORDER pins row_idx exactly as in _KG_SQL_RULES.
_KG_POLY_SQL_RULES = [
    ("go", 0, "import", r'(?m)^import\s+(?:(\w+)\s+)?"([\w./-]+)"', 2, 1),
    ("go", 1, "def", r"(?m)^func\s+(?:\([^)]*\)\s+)?(\w+)\s*\(", 1, None),
    ("go", 2, "class", r"(?m)^type\s+(\w+)\s+(struct|interface)", 1, 2),
    ("rust", 0, "import", r"(?m)^use\s+([\w:]+)", 1, None),
    ("rust", 1, "def", r"(?m)^\s*(?:pub\s+)?fn\s+(\w+)", 1, None),
    ("rust", 2, "class", r"(?m)^(?:pub\s+)?(struct|enum)\s+(\w+)", 2, 1),
    ("java", 0, "import", r"(?m)^import\s+(?:static\s+)?([\w.]+);", 1, None),
    ("java", 1, "class", r"(?m)(class|interface)\s+(\w+)", 2, 1),
    ("java", 2, "def",
     r"(?m)(?:public|private|protected)\s+(?:static\s+)?[\w<>\[\]]+\s+(\w+)\s*\(",
     1, None),
    ("toml", 0, "dep", r'(?m)^([\w-]+)\s*=\s*"([^"]+)"', 1, 2),
    ("c", 0, "import", r'(?m)^\s*#\s*include\s*[<"]([\w./]+)[>"]', 1, None),
    ("c", 1, "def",
     r"(?m)^(?:static\s+)?(?:\w+\s+)+(\w+)\s*\([^;\n]*\)\s*\{", 1, None),
    ("c", 2, "class", r"(?m)^(?:typedef\s+)?(struct|union|enum)\s+(\w+)", 2, 1),
]


def q_kg_polyglot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction over the go/rust/java/toml staged source — the polyglot
    surface of the per-file tabular-structure extractor."""
    from rdf_tabular_spark.kg import extract

    src = spark.read.parquet(_kg_polyglot_source_path())
    return extract.extract_structures(
        src, layout="source", carry_sha=False).select(
        "repo", "path", "kind", "name", "detail",
        F.col("row_idx").cast("int").alias("row_idx"))


def sql_kg_polyglot() -> str:
    src = _kg_polyglot_source_path()
    per_rule = []
    for lang, rule_no, kind, rx, name_g, detail_g in _KG_POLY_SQL_RULES:
        details = (f"regexp_extract_all(content, $${rx}$$, {detail_g})"
                   if detail_g else "[]::VARCHAR[]")
        per_rule.append(f"""
      SELECT repo, path, '{kind}' AS kind, {rule_no} AS rule_no, ord,
             names[ord] AS name,
             CASE WHEN len(details) >= ord
                  THEN nullif(details[ord], '') END AS detail
      FROM (
        SELECT repo, path, names, details,
               unnest(generate_series(1, len(names))) AS ord
        FROM (
          SELECT repo, path,
                 regexp_extract_all(content, $${rx}$$, {name_g}) AS names,
                 {details} AS details
          FROM read_parquet('{src}') WHERE lang = '{lang}'))""")
    union = "\n      UNION ALL".join(per_rule)
    return f"""
    WITH raw AS ({union})
    SELECT repo, path, kind, name, detail,
           CAST(row_number() OVER (PARTITION BY repo, path
                                   ORDER BY rule_no, ord) - 1 AS INT)
             AS row_idx
    FROM raw
    """


def q_kg_sha_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row invariant, oracle-checked: the graph's (file, kg:sha256)
    pairs vs sha256(content) recomputed from the source by DuckDB. A
    hash-exact match proves the invariant end-to-end (the round-1 version
    returned an empty symmetric difference — vacuously green)."""
    from rdf_tabular_spark.kg import annotate

    _, _, triples = _kg_oracle_run(spark)
    return triples.filter(F.col("pred") == annotate.KG + "sha256").select(
        "subj", F.col("obj").alias("sha256"))


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full source-code→KG pipeline (extract → annotate →
    entity-link → canonicalize → dedup) on a deterministic synthetic source
    table of input_hint shape."""
    _, _, triples = _kg_run(spark, n_files=200)
    return triples


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness artifact covers a prefix of
    # this registry (~50 rows/round), so the LEAST-PROVEN rows come first.
    # Round-5 rotation (VERDICT r4, Next-round #1): (0) rows added THIS
    # round (zero history anywhere), (1) the 42 rows that had never
    # appeared in any driver artifact across r1-r4 (every one builder- and
    # judge-spot-green; this window closes full driver coverage of the
    # hash-capable registry -- only the 4 rows-only-by-design entries
    # bpe_merges/bpe_encode/dedup_minhash_lsh/dedup_simhash can't get a
    # hash record, and the first two of those sit inside this window for
    # the weaker rows-only record), (2) spot re-verification of the
    # north-rule core (triples/entities/sha-invariant/CSVW emission/
    # pagerank/dedup/smush) filling the window to ~50, then (3) everything
    # already driver-proven in r1-r4, oldest records first.
    return {
        # -- (0) NEW this round: zero history, most in need of a record --
        "kg_dict_roundtrip": q_kg_dict_roundtrip,
        "kg_dict_pagerank": q_kg_dict_pagerank,
        "kg_sparql_expr_agg": q_kg_sparql_expr_agg,
        # -- (1) never in any driver artifact r1-r4: close the loop --
        "chunk_documents": q_chunk_documents,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "similarity_knn_join": q_similarity_knn_join,
        "kg_polyglot": q_kg_polyglot,
        "dedup_substring": q_dedup_substring,
        "dedup_substring_clean": q_dedup_substring_clean,
        "embedding_quantize": q_embedding_quantize,
        "kg_bgp_sequence": q_kg_bgp_sequence,
        "events_session_window": q_events_session_window,
        "text_gopher_repetition": q_text_gopher_repetition,
        "multimodal_png": q_multimodal_png,
        "multimodal_audio": q_multimodal_audio,
        "similarity_recall": q_similarity_recall,
        "multimodal_decode": q_multimodal_decode,
        "kg_sparql_select": q_kg_sparql_select,
        "split_source_quota": q_split_source_quota,
        "split_rebalance_mix": q_split_rebalance_mix,
        "decon_fuzzy": q_decon_fuzzy,
        "kg_adjacency": q_kg_adjacency,
        "kg_bgp_paths": q_kg_bgp_paths,
        "kg_bgp_aggregate": q_kg_bgp_aggregate,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "kg_sparql_lists": q_kg_sparql_lists,
        "kg_bgp_seq_closure": q_kg_bgp_seq_closure,
        "kg_construct_where": q_kg_construct_where,
        "kg_construct_incremental": q_kg_construct_incremental,
        "kg_streaming_construct": q_kg_streaming_construct,
        "kg_time_travel_sparql": q_kg_time_travel_sparql,
        "kg_sparql_builtins": q_kg_sparql_builtins,
        "kg_sparql_datetime": q_kg_sparql_datetime,
        "kg_sparql_graph": q_kg_sparql_graph,
        "csvw_skolemize": q_csvw_skolemize,
        "kg_turtle_roundtrip": q_kg_turtle_roundtrip,
        "kg_sparql_from": q_kg_sparql_from,
        "kg_nquads_roundtrip": q_kg_nquads_roundtrip,
        "kg_owl_closure": q_kg_owl_closure,
        "kg_link_prediction": q_kg_link_prediction,
        "kg_shacl_extended": q_kg_shacl_extended,
        "kg_owl_incremental": q_kg_owl_incremental,
        "kg_streaming_rdfs": q_kg_streaming_rdfs,
        "kg_streaming_owl": q_kg_streaming_owl,
        # -- (2) spot re-checks of the north-rule core ---------------
        "kg_triples": q_kg_triples,
        "kg_entities": q_kg_entities,
        "kg_sha_invariant": q_kg_sha_invariant,
        "csvw_triples_minimal": q_csvw_triples_minimal,
        "csvw_triples_standard": q_csvw_triples_standard,
        "kg_pagerank": q_kg_pagerank,
        "dedup_exact": q_dedup_exact,
        "kg_smush": q_kg_smush,
        # -- (3) driver-proven r1-r4, refresh as the window allows ----
        "kg_charsets": q_kg_charsets,
        "kg_betweenness": q_kg_betweenness,
        "kg_modularity": q_kg_modularity,
        "select_token_budget": q_select_token_budget,
        "events_streaming_join": q_events_streaming_join,
        "kg_louvain": q_kg_louvain,
        "kg_wsssp": q_kg_wsssp,
        "kg_assortativity": q_kg_assortativity,
        "kg_louvain2": q_kg_louvain2,
        "kg_charsets_incremental": q_kg_charsets_incremental,
        "kg_charsets_estimate": q_kg_charsets_estimate,
        "kg_eccentricity": q_kg_eccentricity,
        "kg_canonicalize": q_kg_canonicalize,
        "kg_canon_diff": q_kg_canon_diff,
        "kg_random_walks": q_kg_random_walks,
        "kg_walk_pairs": q_kg_walk_pairs,
        "kg_graph_fingerprint": q_kg_graph_fingerprint,
        "kg_canonical_ntriples": q_kg_canonical_ntriples,
        "kg_walk_ppmi": q_kg_walk_ppmi,
        "kg_node2vec_walks": q_kg_node2vec_walks,
        "kg_ktruss": q_kg_ktruss,
        "events_temporal_reach": q_events_temporal_reach,
        "events_temporal_depart": q_events_temporal_depart,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "similarity_ivf_pq": q_similarity_ivf_pq,
        "events_streaming_funnel": q_events_streaming_funnel,
        "kg_bgp_alt_closure": q_kg_bgp_alt_closure,
        "csvw_multiline_frame": q_csvw_multiline_frame,
        "kg_bgp_ask": q_kg_bgp_ask,
        "kg_bgp_negated": q_kg_bgp_negated,
        "kg_bgp_bind": q_kg_bgp_bind,
        "kg_bgp_subquery": q_kg_bgp_subquery,
        "kg_bgp_group_concat": q_kg_bgp_group_concat,
        "graph_sssp": q_graph_sssp,
        "kg_label_propagation": q_kg_label_propagation,
        "kg_named_graphs": q_kg_named_graphs,
        "kg_update": q_kg_update,
        "kg_graph_management": q_kg_graph_management,
        "kg_hits": q_kg_hits,
        "kg_ppr": q_kg_ppr,
        "kg_link_tfidf": q_kg_link_tfidf,
        "kg_bgp_term_meta": q_kg_bgp_term_meta,
        "kg_sparql_aggregate": q_kg_sparql_aggregate,
        "kg_sparql_update": q_kg_sparql_update,
        "kg_ntriples_roundtrip": q_kg_ntriples_roundtrip,
        "corpus_quantiles": q_corpus_quantiles,
        "select_top_quality": q_select_top_quality,
        "corpus_stats_incremental": q_corpus_stats_incremental,
        "corpus_rollup": q_corpus_rollup,
        "pack_shard_stats": q_pack_shard_stats,
        "importance_weights": q_importance_weights,
        "importance_resample": q_importance_resample,
        "corpus_stats": q_corpus_stats,
        "kg_streaming_triples": q_kg_streaming_triples,
        "kg_degrees": q_kg_degrees,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_minhash_md5": q_dedup_minhash_md5,
        "dedup_simhash_md5": q_dedup_simhash_md5,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_kmeans": q_dedup_embedding_kmeans,
        "similarity_topk": q_similarity_topk,
        "similarity_ivf": q_similarity_ivf,
        "similarity_lsh": q_similarity_lsh,
        "similarity_kmeans_ivf": q_similarity_kmeans_ivf,
        "similarity_negatives": q_similarity_negatives,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_features": q_multimodal_features,
        "curation_pipeline": q_curation_pipeline,
        "decontaminate": q_decontaminate,
        "pack_sequences": q_pack_sequences,
        "events_sessionize": q_events_sessionize,
        "events_asof_orders": q_events_asof_orders,
        "events_windowed": q_events_windowed,
        "csvw_datatype_byte": q_csvw_datatype_byte,
        "agg_salted_counts": q_agg_salted_counts,
        "csvw_uax35_date": q_csvw_uax35_date,
        "csvw_uax35_number": q_csvw_uax35_number,
        "csvw_pk_violations": q_csvw_pk_violations,
        "csvw_fk_violations": q_csvw_fk_violations,
        "csvw_dialect_scan": q_csvw_dialect_scan,
        "csvw_list_split": q_csvw_list_split,
        "csvw_row_numbers": q_csvw_row_numbers,
        "csvw_json_rows": q_csvw_json_rows,
        "text_token_counts": q_text_token_counts,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "split_assign": q_split_assign,
        "split_stratified": q_split_stratified,
        "split_weighted_sample": q_split_weighted_sample,
        "text_vocab": q_text_vocab,
        "text_tfidf": q_text_tfidf,
        "text_oov_rate": q_text_oov_rate,
        "text_char_entropy": q_text_char_entropy,
        "text_pii": q_text_pii,
        "text_repetition": q_text_repetition,
        "kg_rdfs_closure": q_kg_rdfs_closure,
        "kg_rdfs_infer": q_kg_rdfs_infer,
        "kg_rdfs_incremental": q_kg_rdfs_incremental,
        "kg_construct": q_kg_construct,
        "kg_clustering": q_kg_clustering,
        "csvw_describe": q_csvw_describe,
        "csvw_turtle_blocks": q_csvw_turtle_blocks,
        "kg_void_stats": q_kg_void_stats,
        "kg_shacl_report": q_kg_shacl_report,
        "kg_bgp_not_exists": q_kg_bgp_not_exists,
        "embedding_pq_adc": q_embedding_pq_adc,
        "kg_bgp_values": q_kg_bgp_values,
        "kg_graph_diff": q_kg_graph_diff,
        "split_temperature_mix": q_split_temperature_mix,
        "kg_kcore": q_kg_kcore,
        "similarity_hard_negatives": q_similarity_hard_negatives,
        "range_point_join": q_range_point_join,
        "range_overlap_join": q_range_overlap_join,
        "embedding_pq": q_embedding_pq,
        "pack_shards": q_pack_shards,
        "boilerplate_lines": q_boilerplate_lines,
        "boilerplate_clean": q_boilerplate_clean,
        "url_extract": q_url_extract,
        "url_domain_mix": q_url_domain_mix,
        "url_blocklist": q_url_blocklist,
        "dedup_cluster_elect": q_dedup_cluster_elect,
        "kg_snapshot_incremental": q_kg_snapshot_incremental,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "kg_components": q_kg_components,
        "kg_affinity": q_kg_affinity,
        "kg_triangles": q_kg_triangles,
        "kg_incremental": q_kg_incremental,
        "kg_bgp": q_kg_bgp,
        "kg_bgp_optional": q_kg_bgp_optional,
        "kg_bgp_union": q_kg_bgp_union,
        "kg_bgp_minus": q_kg_bgp_minus,
        "kg_repo_stats": q_kg_repo_stats,
        "graph_reachability": q_graph_reachability,
        "dedup_cluster_assign": q_dedup_cluster_assign,
        "split_leakage_safe": q_split_leakage_safe,
        "text_quality_filter": q_text_quality_filter,
        "text_lm_score": q_text_lm_score,
        "streaming_dedup": q_streaming_dedup,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_canonicalize": sql_kg_canonicalize(),
        "kg_canon_diff": sql_kg_canon_diff(),
        "kg_random_walks": sql_kg_random_walks(),
        "kg_walk_pairs": sql_kg_walk_pairs(),
        "kg_graph_fingerprint": sql_kg_graph_fingerprint(),
        "kg_canonical_ntriples": sql_kg_canonical_ntriples(),
        "kg_walk_ppmi": sql_kg_walk_ppmi(),
        "kg_node2vec_walks": sql_kg_node2vec_walks(),
        "kg_ktruss": sql_kg_ktruss(),
        "events_temporal_reach": sql_events_temporal_reach(),
        "events_temporal_depart": sql_events_temporal_depart(),
        "events_funnel": sql_events_funnel(),
        "events_retention": sql_events_retention(),
        "similarity_ivf_pq": sql_similarity_ivf_pq(),
        "events_streaming_funnel": sql_events_streaming_funnel(),
        "csvw_multiline_frame": sql_csvw_multiline_frame(),
        "kg_bgp_ask": sql_kg_bgp_ask(),
        "kg_bgp_negated": sql_kg_bgp_negated(),
        "kg_bgp_bind": sql_kg_bgp_bind(),
        "kg_bgp_subquery": sql_kg_bgp_subquery(),
        "kg_bgp_group_concat": sql_kg_bgp_group_concat(),
        "graph_sssp": sql_graph_sssp(),
        "kg_label_propagation": sql_kg_label_propagation(),
        "kg_charsets": sql_kg_charsets(),
        "kg_betweenness": sql_kg_betweenness(),
        "kg_modularity": sql_kg_modularity(),
        "select_token_budget": sql_select_token_budget(),
        "events_streaming_join": sql_events_streaming_join(),
        "kg_louvain": sql_kg_louvain(),
        "kg_wsssp": sql_kg_wsssp(),
        "kg_assortativity": sql_kg_assortativity(),
        "kg_louvain2": sql_kg_louvain2(),
        "kg_charsets_incremental": sql_kg_charsets_incremental(),
        "kg_charsets_estimate": sql_kg_charsets_estimate(),
        "kg_eccentricity": sql_kg_eccentricity(),
        "kg_named_graphs": sql_kg_named_graphs(),
        "kg_update": sql_kg_update(),
        "kg_graph_management": sql_kg_graph_management(),
        "kg_hits": sql_kg_hits(),
        "kg_ppr": sql_kg_ppr(),
        "kg_link_tfidf": sql_kg_link_tfidf(),
        "kg_bgp_term_meta": sql_kg_bgp_term_meta(),
        "kg_sparql_select": sql_kg_sparql_select(),
        "kg_sparql_aggregate": sql_kg_sparql_aggregate(),
        "kg_sparql_update": sql_kg_sparql_update(),
        "kg_ntriples_roundtrip": sql_kg_ntriples_roundtrip(),
        "kg_smush": sql_kg_smush(),
        "kg_sparql_lists": sql_kg_sparql_lists(),
        "kg_bgp_seq_closure": sql_kg_bgp_seq_closure(),
        "kg_construct_where": sql_kg_construct_where(),
        "kg_construct_incremental": sql_kg_construct_incremental(),
        "kg_streaming_construct": sql_kg_streaming_construct(),
        "kg_time_travel_sparql": sql_kg_time_travel_sparql(),
        "kg_sparql_builtins": sql_kg_sparql_builtins(),
        "kg_sparql_datetime": sql_kg_sparql_datetime(),
        "kg_sparql_graph": sql_kg_sparql_graph(),
        "csvw_skolemize": sql_csvw_skolemize(),
        "kg_turtle_roundtrip": sql_kg_turtle_roundtrip(),
        "kg_sparql_from": sql_kg_sparql_from(),
        "kg_nquads_roundtrip": sql_kg_nquads_roundtrip(),
        "kg_owl_closure": sql_kg_owl_closure(),
        "kg_link_prediction": sql_kg_link_prediction(),
        "kg_shacl_extended": sql_kg_shacl_extended(),
        "kg_owl_incremental": sql_kg_owl_incremental(),
        "kg_streaming_rdfs": sql_kg_streaming_rdfs(),
        "kg_streaming_owl": sql_kg_streaming_owl(),
        "kg_rdfs_closure": sql_kg_rdfs_closure(),
        "kg_rdfs_infer": sql_kg_rdfs_infer(),
        "kg_rdfs_incremental": sql_kg_rdfs_incremental(),
        "kg_construct": sql_kg_construct(),
        "kg_clustering": sql_kg_clustering(),
        "csvw_describe": sql_csvw_describe(),
        "csvw_turtle_blocks": sql_csvw_turtle_blocks(),
        "kg_void_stats": sql_kg_void_stats(),
        "kg_shacl_report": sql_kg_shacl_report(),
        "corpus_rollup": sql_corpus_rollup(),
        "kg_bgp_not_exists": sql_kg_bgp_not_exists(),
        "embedding_pq_adc": sql_embedding_pq_adc(),
        "kg_bgp_values": sql_kg_bgp_values(),
        "kg_graph_diff": sql_kg_graph_diff(),
        "split_temperature_mix": sql_split_temperature_mix(),
        "kg_kcore": sql_kg_kcore(),
        "similarity_hard_negatives": sql_similarity_hard_negatives(),
        "range_point_join": sql_range_point_join(),
        "range_overlap_join": sql_range_overlap_join(),
        "embedding_pq": sql_embedding_pq(),
        "pack_shards": sql_pack_shards(),
        "pack_shard_stats": sql_pack_shard_stats(),
        "importance_weights": sql_importance_weights(),
        "importance_resample": sql_importance_resample(),
        "boilerplate_lines": sql_boilerplate_lines(),
        "boilerplate_clean": sql_boilerplate_clean(),
        "url_extract": sql_url_extract(),
        "url_domain_mix": sql_url_domain_mix(),
        "url_blocklist": sql_url_blocklist(),
        "dedup_cluster_elect": sql_dedup_cluster_elect(),
        "kg_snapshot_incremental": sql_kg_snapshot_incremental(),
        "dedup_lsh_recall": sql_dedup_lsh_recall(),
        "csvw_triples_minimal": sql_csvw_triples_minimal(),
        "csvw_triples_standard": sql_csvw_triples_standard(),
        "csvw_datatype_byte": sql_csvw_datatype_byte(),
        "agg_salted_counts": sql_agg_salted_counts(),
        "csvw_uax35_date": sql_csvw_uax35_date(),
        "csvw_uax35_number": sql_csvw_uax35_number(),
        "csvw_pk_violations": sql_csvw_pk_violations(),
        "csvw_fk_violations": sql_csvw_fk_violations(),
        "csvw_dialect_scan": sql_csvw_dialect_scan(),
        "csvw_list_split": sql_csvw_list_split(),
        "csvw_row_numbers": sql_csvw_row_numbers(),
        "csvw_json_rows": sql_csvw_json_rows(),
        "dedup_exact": sql_dedup_exact(),
        "dedup_ngram_jaccard": sql_dedup_ngram_jaccard(),
        "dedup_minhash_md5": sql_dedup_minhash_md5(),
        "dedup_simhash_md5": sql_dedup_simhash_md5(),
        "dedup_embedding": sql_dedup_embedding(),
        "text_token_counts": sql_text_token_counts(),
        "text_quality": sql_text_quality(),
        "text_langid": sql_text_langid(),
        "text_fingerprint": sql_text_fingerprint(),
        "split_assign": sql_split_assign(),
        "split_stratified": sql_split_stratified(),
        "split_weighted_sample": sql_split_weighted_sample(),
        "split_source_quota": sql_split_source_quota(),
        "split_rebalance_mix": sql_split_rebalance_mix(),
        "decon_fuzzy": sql_decon_fuzzy(),
        "kg_adjacency": sql_kg_adjacency(),
        "kg_bgp_paths": sql_kg_bgp_paths(),
        "kg_bgp_alt_closure": sql_kg_bgp_alt_closure(),
        "kg_bgp_aggregate": sql_kg_bgp_aggregate(),
        "text_vocab": sql_text_vocab(),
        "text_tfidf": sql_text_tfidf(),
        "text_oov_rate": sql_text_oov_rate(),
        "text_char_entropy": sql_text_char_entropy(),
        "text_pii": sql_text_pii(),
        "text_repetition": sql_text_repetition(),
        "decontaminate": sql_decontaminate(),
        "pack_sequences": sql_pack_sequences(),
        "curation_pipeline": sql_curation_pipeline(),
        "events_sessionize": sql_events_sessionize(),
        "events_asof_orders": sql_events_asof_orders(),
        "events_windowed": sql_events_windowed(),
        "similarity_topk": sql_similarity_topk(),
        "similarity_ivf": sql_similarity_ivf(),
        "similarity_lsh": sql_similarity_lsh(),
        "similarity_kmeans_ivf": sql_similarity_kmeans_ivf(),
        "similarity_recall": sql_similarity_recall(),
        "dedup_embedding_kmeans": sql_dedup_embedding_kmeans(),
        "similarity_negatives": sql_similarity_negatives(),
        "multimodal_frames": sql_multimodal_frames(),
        "multimodal_features": sql_multimodal_features(),
        "multimodal_decode": sql_multimodal_decode(),
        "dedup_substring": sql_dedup_substring(),
        "dedup_substring_clean": sql_dedup_substring_clean(),
        "embedding_quantize": sql_embedding_quantize(),
        "kg_bgp_sequence": sql_kg_bgp_sequence(),
        "events_session_window": sql_events_session_window(),
        "text_gopher_repetition": sql_text_gopher_repetition(),
        "multimodal_png": sql_multimodal_png(),
        "multimodal_audio": sql_multimodal_audio(),
        "kg_triples": sql_kg_triples(),
        # the dictionary roundtrip must reproduce the string-path graph
        # exactly, so its twin IS the kg_triples twin; likewise the
        # encoded pagerank replays the string-path pagerank twin
        "kg_dict_roundtrip": sql_kg_triples(),
        "kg_dict_pagerank": sql_kg_pagerank(),
        "kg_sparql_expr_agg": sql_kg_sparql_expr_agg(),
        "kg_streaming_triples": sql_kg_streaming_triples(),
        "kg_entities": sql_kg_entities(),
        "kg_degrees": sql_kg_degrees(),
        "kg_pagerank": sql_kg_pagerank(),
        "kg_components": sql_kg_components(),
        "kg_affinity": sql_kg_affinity(),
        "kg_triangles": sql_kg_triangles(),
        "kg_incremental": sql_kg_incremental(),
        "kg_bgp": sql_kg_bgp(),
        "kg_bgp_optional": sql_kg_bgp_optional(),
        "kg_bgp_union": sql_kg_bgp_union(),
        "kg_bgp_minus": sql_kg_bgp_minus(),
        "kg_repo_stats": sql_kg_repo_stats(),
        "graph_reachability": sql_graph_reachability(),
        "dedup_cluster_assign": sql_dedup_cluster_assign(),
        "split_leakage_safe": sql_split_leakage_safe(),
        "text_quality_filter": sql_text_quality_filter(),
        "text_lm_score": sql_text_lm_score(),
        "streaming_dedup": sql_streaming_dedup(),
        "corpus_stats": sql_corpus_stats(),
        # incremental path must land on the SAME full-corpus answer
        "corpus_stats_incremental": sql_corpus_stats(),
        "corpus_quantiles": sql_corpus_quantiles(),
        "select_top_quality": sql_select_top_quality(),
        "chunk_documents": sql_chunk_documents(),
        "jsonl_roundtrip": sql_jsonl_roundtrip(),
        "similarity_knn_join": sql_similarity_knn_join(),
        "kg_polyglot": sql_kg_polyglot(),
        "kg_sha_invariant": sql_kg_sha_invariant(),
        # dedup_minhash_lsh / dedup_simhash: Spark-internal hash functions
        # (murmur3 / xxhash64) have no DuckDB twin -> rows-only check
        # (their portable md5 variants below ARE oracle-checked).
        # bpe_merges: iterative re-segmentation has no ANSI-SQL twin ->
        # rows-only; pinned by Python-reference parity in tests/test_bpe.py.
    }
