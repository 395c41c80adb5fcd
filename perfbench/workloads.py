"""The benchmark workloads: seeded input, one product call, output check,
and the traced layer-by-layer replay of that call.

Every workload object follows the same protocol, driven by ``run.py``:

- ``generate()``: make the seeded input under the work directory;
- ``prepare(k)``: per-call input hygiene (fresh paths, cleared caches);
- ``call(spark, inp)``: the product call, from input to written sink;
- ``check(inp)``: raise if the written output is wrong; else return
  ``(input rows, output records)``;
- ``warm_up(spark)``: the set-up calls that warm the JVM;
- ``min_calls``: the fewest timed calls of a run;
- ``trace(spark, tracer)``: replay the call through each layer's public
  function under its own span, and return per-layer metrics;
- ``layers``: the layers of the workload's own product call;
- ``trace_scaling(spark, tracer)``: the replay of those layers only, run
  at local[1] for the per-layer 1->4 speedups.
"""

from __future__ import annotations

import glob
import os
import shutil

import gen
from spans import SINK_ROWS, StatusStore

CSV_ROWS = 20_000
#: the CSV of a traced run, whose five forced prefixes are replayed at
#: local[4] and again at local[1] within the run's time limit
TRACE_CSV_ROWS = 5_000
#: the CSV of the warm-up calls
WARMUP_CSV_ROWS = 3_000
KG_FILES = 4_000
KG_FAMILIES = 1_500
#: the source table of the KG build's warm-up
SMALL_KG_FILES = 300
SMALL_KG_FAMILIES = 150
#: executor counters that add up over a layer's stages
EXECUTOR = ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


def noop(df) -> None:
    """Evaluate every column of *df* without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files
               if not f.startswith("."))


def _part_lines(path: str):
    for fn in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(fn, encoding="utf-8") as f:
            yield from f.read().splitlines()


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(fn).num_rows
               for fn in glob.glob(os.path.join(path, "*.parquet")))


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class CsvInput:
    """A seeded lineitem CSV and the expectations derived from it."""

    SAMPLE = 64

    def __init__(self, work: str, seed: int, n_rows: int):
        self.seed, self.n_rows = seed, n_rows
        self.dir = os.path.join(
            work, "inputs",
            f"csv-s{seed}-n{n_rows}-{gen.generator_hash()}")

    def generate(self) -> None:
        rows = gen.lineitem_rows(self.seed, self.n_rows)
        _reset(self.dir)
        self.master = os.path.join(self.dir, "lineitem.csv")
        with open(self.master, "w", encoding="utf-8") as f:
            f.write(gen.lineitem_csv(rows))
        self.total_triples = sum(gen.triples_per_row(r) for r in rows)
        self.sample = {i: rows[i] for i in gen.sample_indexes(
            self.seed, self.n_rows, self.SAMPLE)}

    def copy_to(self, path: str) -> str:
        """A fresh copy of the CSV: every call pays the per-path probe, as
        every CLI invocation on a new file does."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        shutil.copyfile(self.master, path)
        return path

    def check_ntriples(self, out: str) -> int:
        want = {line for r in self.sample.values()
                for line in gen.expected_ntriples(r)}
        n = 0
        for line in _part_lines(out):
            n += 1
            want.discard(line)
        if n != self.total_triples:
            raise AssertionError(
                f"{n} N-Triples lines, expected {self.total_triples}")
        if want:
            raise AssertionError(f"{len(want)} expected lines missing, "
                                 f"e.g. {sorted(want)[0]}")
        return n


class KgInput:
    """A seeded source-code table written as parquet."""

    PARTS = 8

    def __init__(self, work: str, seed: int, n_files: int, n_families: int):
        self.seed, self.n_files, self.n_families = seed, n_files, n_families
        self.dir = os.path.join(
            work, "inputs",
            f"kg-s{seed}-n{n_files}-f{n_families}-{gen.generator_hash()}")

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(gen.kg_source(self.seed, self.n_files,
                                       self.n_families))
        _reset(self.dir)
        per = -(-self.n_files // self.PARTS)
        for i in range(self.PARTS):
            pq.write_table(table.slice(i * per, per),
                           os.path.join(self.dir, f"part-{i:05d}.parquet"))


# --- csv2rdf ------------------------------------------------------------------

class Csv2Rdf:
    name = "csv2rdf"
    #: the median of two calls halves the CPU noise of the JIT settling
    min_calls = 2

    def __init__(self, work: str, seed: int, traced: bool):
        self.work = work
        self.input = CsvInput(work, seed,
                              TRACE_CSV_ROWS if traced else CSV_ROWS)
        self.warm = CsvInput(work, seed, WARMUP_CSV_ROWS)

    def generate(self) -> None:
        self.input.generate()

    def prepare(self, k, csv: CsvInput | None = None) -> dict:
        run = _reset(os.path.join(self.work, "runs", f"{self.name}-{k}"))
        csv = csv or self.input
        return {"csv": csv.copy_to(os.path.join(run, "lineitem.csv")),
                "out": os.path.join(run, "out.nt"), "input": csv}

    def call(self, spark, inp: dict) -> None:
        from rdf_tabular_spark import reader
        from rdf_tabular_spark.operators.ntriples import write_ntriples

        res = reader.to_triples(spark, gen.METADATA, base=gen.BASE,
                                url_map={gen.TABLE_URL: inp["csv"]})
        write_ntriples(res.triples, inp["out"])

    def check(self, inp: dict) -> tuple[int, int]:
        return inp["input"].n_rows, inp["input"].check_ntriples(inp["out"])

    def warm_up(self, spark) -> None:
        """Two calls on a small CSV: the JIT keeps speeding calls up
        through the third call of a session, whatever the input size."""
        self.warm.generate()
        for k in range(2):
            inp = self.prepare(f"warmup-{k}", self.warm)
            self.call(spark, inp)
            self.check(inp)

    def trace(self, spark, tracer) -> dict:
        inp = self.prepare("traced")
        return trace_csvw(spark, tracer, self.input, inp["csv"],
                          os.path.dirname(inp["out"]))

    layers = ["csvw.metadata", "sources.csv_source", "operators.cells",
              "operators.emit", "operators.dedup", "operators.ntriples"]

    trace_scaling = trace


def trace_csvw(spark, tracer, csv: CsvInput, csv_path: str,
               out_dir: str) -> dict:
    """csv2rdf replayed layer by layer.

    The CSVW layers fuse into one codegen stage, so each layer is forced on
    its own (``<layer>.force``) and its wall time is the growth over the
    previous forced prefix: scan, +cells, +emit, +dedup, +sink."""
    from rdf_tabular_spark import TRIPLE_COLUMNS
    from rdf_tabular_spark.csvw.metadata import (
        merge_embedded_titles, parse_metadata)
    from rdf_tabular_spark.operators.cells import build_cells
    from rdf_tabular_spark.operators.dedup import dedupe_triples
    from rdf_tabular_spark.operators.emit import emit_table_triples
    from rdf_tabular_spark.operators.ntriples import write_ntriples
    from rdf_tabular_spark.sources.csv_source import read_table

    span = tracer.span
    with span("csvw.metadata"):
        table = parse_metadata(gen.METADATA, base=gen.BASE).tables[0]
    with span("sources.csv_source"):
        with span("sources.csv_source.call"):
            scan = read_table(spark, table, csv_path)
        table = merge_embedded_titles(table, scan.header_titles)
        with span("sources.csv_source.force"):
            noop(scan.df)
    with span("operators.cells"):
        cells = build_cells(scan.df, table)
        with span("operators.cells.force"):
            noop(cells)
    with span("operators.emit"):
        emitted = emit_table_triples(cells, table)
        with span("operators.emit.force"):
            noop(emitted)
    with span("operators.dedup"):
        triples = dedupe_triples(emitted).select(*TRIPLE_COLUMNS)
        with span("operators.dedup.force"):
            noop(triples)
    nt_out = os.path.join(out_dir, "out.nt")
    with span("operators.ntriples"):
        with span("operators.ntriples.force"):
            write_ntriples(triples, nt_out)
    # layer -> the layer whose forced prefix it extends
    extends = {"sources.csv_source": None,
               "operators.cells": "sources.csv_source",
               "operators.emit": "operators.cells",
               "operators.dedup": "operators.emit",
               "operators.ntriples": "operators.dedup"}

    st = StatusStore(spark)
    m = {"csvw.metadata.compile_s": tracer.wall("csvw.metadata")}
    for layer, prev in extends.items():
        for k, v in _fused_layer(tracer, st, layer, prev).items():
            m[f"{layer}.{k}"] = v

    cs = st.layer(["sources.csv_source.call"])
    m["sources.csv_source.call_s"] = tracer.wall("sources.csv_source.call")
    m["sources.csv_source.jobs"] = cs["jobs"]
    scan_sql = st.sql_metrics(st.layer(["sources.csv_source.force"])["job_ids"])
    m["sources.csv_source.rows_out"] = _rows_written(scan_sql)
    n_cols = sum(1 for c in table.columns if not c.virtual)
    m["operators.cells.cells_typed"] = m["sources.csv_source.rows_out"] * n_cols
    emit_sql = st.sql_metrics(st.layer(["operators.emit.force"])["job_ids"])
    m["operators.emit.triples_out"] = _rows_written(emit_sql)
    m["operators.emit.triples_per_row"] = (
        m["operators.emit.triples_out"]
        / max(m["sources.csv_source.rows_out"], 1))
    dd_sql = st.sql_metrics(st.layer(["operators.dedup.force"])["job_ids"])
    m["operators.dedup.rows_in"] = m["operators.emit.triples_out"]
    m["operators.dedup.rows_out"] = _rows_written(dd_sql)
    m["operators.dedup.yield"] = (m["operators.dedup.rows_out"]
                                  / max(m["operators.dedup.rows_in"], 1))
    m["operators.ntriples.bytes_written"] = _dir_bytes(nt_out)
    csv.check_ntriples(nt_out)
    m["_product_wall_s"] = (m["csvw.metadata.compile_s"] + sum(
        m[f"{layer}.wall_s"] for layer in extends))
    return m


def _rows_written(sql: dict) -> int:
    """Rows reaching the sink of a forced prefix."""
    return int(sql.get(SINK_ROWS, 0))


def _fused_layer(tracer, st, layer: str, prev: str | None) -> dict:
    """Metrics of one layer of a fused chain: its span minus the forced
    prefix that ended at *prev*, and the same difference of the executor
    counters."""
    own = st.layer([layer, layer + ".call", layer + ".force"])
    out = {"wall_s": tracer.wall(layer)}
    cum = {k: own[k] for k in EXECUTOR}
    if prev is not None:
        before = st.layer([prev + ".force"])
        out["wall_s"] -= tracer.wall(prev + ".force")
        cum = {k: v - before[k] for k, v in cum.items()}
    out.update(cum)
    out["task_skew"] = own["task_skew"]
    return out


# --- kg_build -------------------------------------------------------------------

class KgBuild:
    name = "kg_build"
    min_calls = 1

    def __init__(self, work: str, seed: int, traced: bool):
        self.work = work
        self.input = KgInput(work, seed, KG_FILES, KG_FAMILIES)
        self.small_kg = KgInput(work, seed, SMALL_KG_FILES, SMALL_KG_FAMILIES)
        self.expected_counts: tuple[int, int] | None = None

    def generate(self) -> None:
        self.input.generate()

    def prepare(self, k) -> dict:
        run = _reset(os.path.join(self.work, "runs", f"{self.name}-{k}"))
        return {"checkpoint": os.path.join(run, "checkpoint")}

    def call(self, spark, inp: dict) -> None:
        from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

        pipe = KGPipeline(spark, KGConfig(checkpoint_dir=inp["checkpoint"],
                                          source_path=self.input.dir))
        inp["results"] = pipe.run()
        inp["pipe"] = pipe

    def check(self, inp: dict) -> tuple[int, int]:
        from rdf_tabular_spark.kg import link

        pipe = inp["pipe"]
        rows = {d["stage"]: d["rows"] for d in pipe.lineage}
        if rows["labels"] <= link.SMALL_VOCAB:
            raise AssertionError(
                f"vocabulary {rows['labels']} <= {link.SMALL_VOCAB}: the "
                "distributed link path did not run")
        if not pipe.verify_invariant(inp["results"]):
            raise AssertionError("sha256 invariant violated")
        counts = (rows["graph"], rows["entities"])
        if self.expected_counts is None:
            self.expected_counts = counts
        elif counts != self.expected_counts:
            raise AssertionError(
                f"(triples, entities) {counts} != {self.expected_counts}")
        return rows["source"], rows["graph"]

    def warm_up(self, spark) -> None:
        """One build of the small source table: it compiles the same
        stages in a fraction of a full build's time (its link runs on the
        driver), which keeps a run within its time limit."""
        from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

        self.small_kg.generate()
        run = _reset(os.path.join(self.work, "runs", f"{self.name}-warmup"))
        KGPipeline(spark, KGConfig(checkpoint_dir=os.path.join(
            run, "checkpoint"), source_path=self.small_kg.dir)).run()

    def trace(self, spark, tracer) -> dict:
        m = trace_kg(spark, tracer, self.input,
                     os.path.join(self.work, "runs", "traced-kg"))
        if m["kg.link.path"] != 1:
            raise AssertionError("the distributed link path did not run")
        return m

    layers = ["kg.pipeline", "kg.extract", "kg.link", "kg.assemble"]

    def trace_scaling(self, spark, tracer) -> dict:
        return trace_kg(spark, tracer, self.input,
                        os.path.join(self.work, "runs", "traced-kg-1"),
                        stages_only=True)


def trace_kg(spark, tracer, inp: KgInput, run_dir: str,
             stages_only: bool = False) -> dict:
    """The KG build replayed stage by stage through each layer's public
    function, each stage checkpointed to parquet as ``KGPipeline.run``
    does; then, unless *stages_only*, the candidate-pair count."""
    from pyspark.sql import functions as F

    from rdf_tabular_spark.kg import extract, link
    from rdf_tabular_spark.kg.assemble import build_graph
    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

    cp = _reset(run_dir)
    cfg = KGConfig(checkpoint_dir=cp, source_path=inp.dir)
    pipe = KGPipeline(spark, cfg)
    span = tracer.span

    def stage(name: str, df):
        path = os.path.join(cp, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    with span("kg.pipeline"):
        src = stage("source", pipe.source())
    with span("kg.extract"):
        extracted = stage("extract", extract.extract_structures(
            src.drop("content_sha256"), cfg.range_partitions))
    with span("kg.link"):
        mentions = extracted.filter(
            F.col("kind").isin("import", "dep")).select(
            F.col("name").alias("mention"))
        with span("kg.link.call"):
            labels = link.link_mentions(mentions, cfg.jaccard_threshold)
        labels = stage("labels", labels)
        stage("entities", link.entity_table(labels))
    with span("kg.assemble"):
        stage("graph", build_graph(src, extracted, labels))

    st = StatusStore(spark)
    m: dict = {}
    for layer in ("kg.pipeline", "kg.extract", "kg.link", "kg.assemble"):
        own = st.layer([layer, layer + ".call"])
        m[f"{layer}.wall_s"] = tracer.wall(layer)
        for k in (*EXECUTOR, "task_skew"):
            m[f"{layer}.{k}"] = own[k]
    m["kg.pipeline.source_s"] = m.pop("kg.pipeline.wall_s")
    py = st.sql_metrics(st.layer(["kg.extract"])["job_ids"])
    m["kg.extract.python_s"] = py.get(
        ("MapInPandas", "time to run Python workers"), 0.0)
    m["kg.extract.python_bytes_sent"] = py.get(
        ("MapInPandas", "data sent to Python workers"), 0.0)
    m["kg.extract.python_bytes_returned"] = py.get(
        ("MapInPandas", "data returned from Python workers"), 0.0)
    m["kg.extract.rows_out"] = _parquet_rows(os.path.join(cp, "extract"))
    m["kg.link.vocab"] = _parquet_rows(os.path.join(cp, "labels"))
    # the in-process path runs one query, the vocabulary probe; the
    # distributed path also runs the LSH join and the propagation loop
    link_call = st.layer(["kg.link.call"])
    m["kg.link.path"] = int(st.executions(link_call["job_ids"]) > 1)
    m["kg.link.entities"] = _parquet_rows(os.path.join(cp, "entities"))
    m["kg.link.jobs"] = st.layer(["kg.link", "kg.link.call"])["jobs"]
    m["kg.assemble.triples_out"] = _parquet_rows(os.path.join(cp, "graph"))
    m["kg.pipeline.checkpoint_bytes"] = _dir_bytes(cp)
    m["_product_wall_s"] = sum(m[k] for k in (
        "kg.pipeline.source_s", "kg.extract.wall_s", "kg.link.wall_s",
        "kg.assemble.wall_s"))
    if not stages_only:
        with span("kg.link.pairs"):  # a count outside the kg.link layer
            m["kg.link.pairs"] = link.candidate_pairs(
                mentions.select("mention").distinct(),
                cfg.jaccard_threshold).count()
    return m


WORKLOADS = {w.name: w for w in (Csv2Rdf, KgBuild)}
