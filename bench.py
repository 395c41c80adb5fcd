"""Benchmark harness (driver contract).

Default: runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default: the
usable core count) and prints ONE JSON line::

    {"metric": "headline_suite_best_sum", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1,
     "kg_triples": N, "kg_triples_per_sec": N}

``--scaling SF [--pair N,M] [--stage full_ids|extract]`` mode (run manually,
results recorded in BASELINE.md): runs the north-rule KG job at two
parallelism levels (default local[2] vs local[8], the physically-backed
N-vs-4N stand-in) in fresh confined JVMs and prints throughput at both
plus the scaling efficiency.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def _mk_spark(cpus: int, confine_jvm: bool = False):
    """*confine_jvm*: pin GC threads and ActiveProcessorCount to the
    simulated core count. local[N] on a 32-core host otherwise hands the
    low-core config ~20 free GC/JIT threads, flattering it and corrupting
    the N-vs-4N comparison — a real N-core executor JVM has N cores for
    everything. Scaling runs set this; the headline suite doesn't."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        # bench inputs are O(100 MB); the default 128 MB split would cap
        # scans at a few tasks no matter the core count (at production
        # scale splits are plentiful). NOTE splits only take effect at
        # ROW-GROUP boundaries — the staged multi-file copies from
        # ensure_split_sf_dir are what actually widen single-file tables;
        # the low openCost keeps those small files one-task-each instead
        # of bin-packed back onto a few cores.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "128k")
    )
    if confine_jvm:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={cpus} -XX:ConcGCThreads={max(1, cpus // 4)} "
            f"-XX:ActiveProcessorCount={cpus}")
    if os.path.isdir("/dev/shm"):
        # shuffle spill on tmpfs: the sandbox /tmp sits on a shared virtual
        # disk whose throughput, not CPU, becomes the ceiling for the
        # shuffle-heavy stages (a real cluster provisions shuffle disks)
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .appName("rdf_tabular_spark-bench")
        .getOrCreate()
    )


# headline subset of __spark_entry__.queries(): the ones that do real work
# at sf0.1 (tiny-dimension CSVW demos excluded)
BENCH_QUERIES = [
    "csvw_uax35_number",
    "csvw_uax35_date",
    "csvw_pk_violations",
    "csvw_fk_violations",
    "csvw_list_split",
    "csvw_row_numbers",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_pii",
    "decontaminate",
    "pack_sequences",
    "similarity_topk",
]

KG_FILES_PER_SF = 200_000  # n_files = KG_FILES_PER_SF * sf

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def ensure_split_sf_dir(spark, sf_dir: str, parts: int = 32) -> str:
    """Stage the sf tables once into *parts*-file copies (same rows, same
    schema) and return the staged dir.

    The driver's sf tables are single-file, SINGLE-ROW-GROUP parquet
    (lineitem sf0.1: 600k rows, one group), and a row group is the unit
    of scan parallelism — ``maxPartitionBytes`` cannot split one, so
    every map-heavy query was effectively timed on ONE core regardless
    of the session's core count (found r3: csvw_uax35_number spent 10.7 s
    evaluating 600k typed cells serially). A production 100 TB input is
    thousands of files / row groups wide; the staged copy gives the bench
    scans the same property, exactly as :func:`ensure_kg_source` already
    does for the KG source table. Row CONTENT is identical, so every
    query computes the same (order-insensitive, force_eval-hashed)
    result; only the scan layout changes."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(os.environ.get("SPARK_GRAFT_TMP", "/tmp"),
                        f"sfbench_{tag}_{parts}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        for t in SF_TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(src):
                continue
            spark.read.parquet(src).repartition(parts).write.mode(
                "overwrite").parquet(os.path.join(path, f"{t}.parquet"))
        with open(marker, "w"):
            pass
    return path


def ensure_kg_source(spark, n_files: int) -> str:
    """Materialize the deterministic synthetic source table (input_hint
    shape) to parquet once; the timed job reads it like the production
    Iceberg source table. Also the 'same input' for the scaling runs.

    Written with a FIXED partition count (not the writer's parallelism):
    a low-core writer would otherwise produce 2 one-row-group files, and
    since a parquet row group is the unit of split parallelism, every later
    reader — whatever its core count — would scan 2-wide. A production
    Iceberg source table has file counts >> cores; the bench input must
    too, or the scan becomes a hidden serial term that poisons the
    N-vs-4N scaling measurement."""
    path = os.path.join(
        os.environ.get("SPARK_GRAFT_TMP", "/tmp"), f"kg_source_{n_files}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from rdf_tabular_spark.kg import synth

        synth.synth_source_table(spark, n_files, partitions=64).write.mode(
            "overwrite").parquet(path)
    return path


def kg_job(spark, n_files: int, stage: str = "full_forced"):
    """The north-rule job: source table -> extract -> triples -> link ->
    canonical graph. Returns (n_rows, wall_s); source materialization is
    not timed (it is the input, not the pipeline).

    *stage*="full_forced" evaluates every output column of the triple
    stream (:func:`force_eval`); "full_ids" does the same for the 8B/term
    id triples of kg/termdict.py — the pair that discriminates the
    dictionary design's memory-bus claim. A plain COUNT is no basis: it
    lets Catalyst prune the output columns, so its plan holds neither
    url_encode (IRI construction) nor xxhash64 (id encoding).
    *stage*="extract" times only the scan + mapInPandas extraction — the
    stage that dominates a real 100 TB run (content bytes >> extracted
    rows) and whose scaling is CPU-bound rather than bound by the one
    shared memory bus of a single sandbox box."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from rdf_tabular_spark.kg.pipeline import build_kg

    if stage not in ("full_forced", "full_ids", "extract"):
        raise ValueError(f"unknown stage {stage!r}")
    src_path = ensure_kg_source(spark, n_files)
    src = spark.read.parquet(src_path)
    # the pipeline persists its extraction stage; Spark's cache manager
    # matches canonicalized plans, so without this a repeated timing run
    # would silently skip extraction and time a different computation
    spark.catalog.clearCache()
    t0 = time.time()
    if stage == "extract":
        from rdf_tabular_spark.kg import extract

        n = extract.extract_structures(src).count()
        return n, time.time() - t0
    triples = build_kg(src)["triples"]
    if stage == "full_ids":
        from rdf_tabular_spark.kg import termdict

        triples = termdict.encode_triples(triples)
    return force_eval(triples), time.time() - t0


def force_eval(df) -> int:
    """Evaluate a query FULLY and return its row count. ``df.count()``
    lets Catalyst prune the final projection, so a map-only operator
    (text quality, langid, decode, ...) times the SCAN, not the compute
    (found r3: the curation pipeline was 16x its 'count' time once a
    filter forced the expressions). One aggregate over
    count + bit_xor(xxhash64(*cols)) forces every output column
    JVM-side and ships two scalars to the driver."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]
    return row["n"]


def _suite_pass(spark, entry, sf_dir: str, n_files: int) -> tuple[dict, int]:
    """One full pass over the headline suite: every query once, the KG
    pipeline once, graph analytics once. Returns (per-query sec, kg
    triple count). Running the suite as two complete PASSES (instead of
    two back-to-back runs per query) makes pass 1 a true single-run
    full-suite wall — the cross-round-comparable number VERDICT r2 asked
    for — while min(pass1, pass2) stays the steady-state best-of-2."""
    from rdf_tabular_spark.kg import graph
    from rdf_tabular_spark.kg.pipeline import build_kg

    qs = entry.queries()
    per_query: dict[str, float] = {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        force_eval(qs[name](spark, sf_dir))
        per_query[name] = round(time.time() - t0, 3)

    n_triples, kg_wall = kg_job(spark, n_files)
    per_query["kg_pipeline"] = round(kg_wall, 3)

    # graph analytics over the bench-scale assembled graph (not the tiny
    # 300-file oracle staging): materialize the triple set once
    # (localCheckpoint) so these numbers time the analytics, not a
    # pipeline re-run. components shares pagerank's iteration shape and
    # is left out of the headline to keep it lean.
    src = spark.read.parquet(ensure_kg_source(spark, n_files))
    graph_input = build_kg(src)["triples"].localCheckpoint()
    for gname, gfn in (("kg_degrees", graph.degrees),
                       ("kg_pagerank", graph.pagerank)):
        t0 = time.time()
        gfn(graph_input).count()
        per_query[gname] = round(time.time() - t0, 3)
    return per_query, n_triples


def run_suite(sf_dir: str, cpus: int) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    spark = _mk_spark(cpus)
    # many-file staged copy of the sf tables (untimed, like ensure_kg_source)
    bench_dir = ensure_split_sf_dir(spark, sf_dir)
    # JVM/JIT + scan warm-up so per-query numbers reflect steady state
    # rather than charging first-query session costs to whoever runs first
    spark.range(0, 1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "documents"):
        spark.read.parquet(f"{bench_dir}/{t}.parquet").count()
    n_files = max(1000, int(KG_FILES_PER_SF * (sf or 0.1)))

    t_suite = time.time()
    pass1, n_triples = _suite_pass(spark, entry, bench_dir, n_files)
    single_run_wall = time.time() - t_suite
    # best-of-2: the sandbox host shows up-to-2x run-to-run variance
    # from contention (BASELINE.md); the min is the steady-state number
    # and is what BASELINE.md records, so driver-recorded BENCH_r{N}
    # and builder-recorded baselines stop drifting apart
    pass2, n2 = _suite_pass(spark, entry, bench_dir, n_files)
    assert n2 == n_triples  # deterministic pipeline
    raw_wall = time.time() - t_suite
    # dictionary-encoded pipeline (round-5 product path) timed OUTSIDE
    # the headline sum so the cross-round basis stays unchanged; best
    # of 2 like everything else
    ids_wall = min(kg_job(spark, n_files, stage="full_ids")[1],
                   kg_job(spark, n_files, stage="full_ids")[1])
    per_query = {k: min(pass1[k], pass2[k]) for k in pass1}
    for name in per_query:
        print(f"  {name}: {per_query[name]}s", file=sys.stderr)
    kg_wall = per_query["kg_pipeline"]
    spark.stop()
    return {
        # renamed from headline_suite_wall when the semantics changed: the
        # value is the SUM of best-of-2 per-query times (steady state),
        # not a measured end-to-end wall — keeping the old name would
        # make cross-revision comparisons silently mix the two
        "metric": "headline_suite_best_sum",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        # r3: per-query timing forces FULL evaluation (force_eval) —
        # .count() let Catalyst prune map-only projections, so earlier
        # rounds under-timed pure-projection queries (BASELINE.md r3
        # carries a both-bases comparison table)
        "eval": "forced",
        "queries": per_query,
        # one MEASURED end-to-end wall of a single full pass (cold-ish):
        # the metric-translation-free cross-round number (VERDICT r2 §8)
        "single_run_wall": round(single_run_wall, 3),
        "queries_single_run": pass1,
        "raw_wall_2x_runs": round(raw_wall, 3),
        "sf": sf,
        "kg_files": n_files,
        "kg_triples": n_triples,
        "kg_triples_per_sec": round(n_triples / kg_wall, 1),
        # round-5 dictionary-encoded product path (id triples + term
        # dictionary; kg/termdict.py) — reported alongside, NOT summed
        # into the headline, so the cross-round basis is unchanged
        "kg_pipeline_ids_s": round(ids_wall, 3),
        "kg_triples_per_sec_ids": round(n_triples / ids_wall, 1),
    }


def run_late(sf_dir: str, cpus: int) -> dict:
    """Best-of-2 timings for every registry query NOT in the headline
    suite (the BASELINE.md 'late additions' table — re-timed best-of-2
    per VERDICT r2 §9; the r2 table was single contended runs)."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    spark = _mk_spark(cpus)
    bench_dir = ensure_split_sf_dir(spark, sf_dir)
    spark.range(0, 1_000_000).selectExpr("sum(id)").collect()
    qs = entry.queries()
    skip = set(BENCH_QUERIES) | {"kg_pipeline", "kg_degrees", "kg_pagerank"}
    per_query: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, fn in qs.items():
        if name in skip:
            continue
        best = None
        for _ in range(2):
            t0 = time.time()
            n = force_eval(fn(spark, bench_dir))
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        per_query[name] = round(best, 3)
        rows[name] = n
        print(f"  {name}: {per_query[name]}s ({n} rows)", file=sys.stderr)
    spark.stop()
    return {"metric": "late_additions_best_of_2", "sf": sf,
            "queries": per_query, "rows": rows}


def run_scaling(sf: float, pair: tuple[int, int] = (2, 8),
                stage: str = "full_forced") -> dict:
    """Same KG job, same input, at local[N] and local[4N] in fresh
    confined JVMs (ActiveProcessorCount + GC threads = N).

    Default pair 2->8: the physically-backed N-vs-4N pair on this host
    (8->32 exceeds its ~19 effective cores). BASELINE.md documents the
    methodology and records best-of-N results."""
    out = {}
    n_files = max(1000, int(KG_FILES_PER_SF * sf))
    for cpus in pair:
        code = (
            "import sys, json; sys.path.insert(0, %r)\n"
            "import bench\n"
            "spark = bench._mk_spark(%d, confine_jvm=True)\n"
            "n, wall = bench.kg_job(spark, %d, stage=%r)\n"
            "print(json.dumps({'cpus': %d, 'rows': n, 'wall_s': round(wall,2),"
            " 'rows_per_sec': round(n/wall,1)}))\n"
            % (os.path.dirname(os.path.abspath(__file__)), cpus, n_files, stage, cpus)
        )
        res = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            check=True, cwd=os.path.dirname(os.path.abspath(__file__)))
        line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
        out[f"local[{cpus}]"] = json.loads(line)
        print(f"  local[{cpus}]: {line}", file=sys.stderr)
    lo, hi = pair
    t_lo = out[f"local[{lo}]"]["rows_per_sec"]
    t_hi = out[f"local[{hi}]"]["rows_per_sec"]
    out["stage"] = stage
    out[f"scaling_efficiency_{lo}_to_{hi}"] = round((t_hi / t_lo) / (hi / lo), 3)
    out["n_files"] = n_files
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    if "--scaling" in sys.argv:
        i = sys.argv.index("--scaling")
        sf = float(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 0.1
        pair = (2, 8)
        if "--pair" in sys.argv:
            j = sys.argv.index("--pair")
            lo, hi = sys.argv[j + 1].split(",")
            pair = (int(lo), int(hi))
        stage = "full_forced"
        if "--stage" in sys.argv:
            stage = sys.argv[sys.argv.index("--stage") + 1]
        out = run_scaling(sf, pair, stage)
        out["stage"] = stage
        print(json.dumps(out))
        return
    if "--late" in sys.argv:
        print(json.dumps(run_late(sf_dir, cpus)))
        return
    print(json.dumps(run_suite(sf_dir, cpus)))


if __name__ == "__main__":
    main()
