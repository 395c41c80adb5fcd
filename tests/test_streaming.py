"""Structured Streaming: incremental triple ingest (set-semantic sink
merge, checkpointed resume, idempotent redelivery) + watermarked windows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _write_batch(spark, src_dir: str, n: int, start: int = 0) -> None:
    from rdf_tabular_spark.kg import synth

    df = spark.range(start, start + n).selectExpr("id")
    rows = []
    for i in range(start, start + n):
        lang = synth.lang_for(i)
        rows.append((f"repo-{i % 3}", f"src/f_{i}.py", f"c{i}", "python",
                     synth.make_content(i, "python")))
    spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).coalesce(1).write.mode("append").parquet(src_dir)


def _read_sink(spark, path):
    from rdf_tabular_spark.streaming.incremental import read_sink

    return read_sink(spark, path)


def test_incremental_ingest_matches_batch(spark, tmp_path):
    from rdf_tabular_spark.streaming import run_incremental_ingest
    from rdf_tabular_spark.kg import annotate, extract

    src_dir = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src_dir, 10, 0)
    q = run_incremental_ingest(spark, src_dir, sink, ckpt)
    q.awaitTermination(120)

    # second delivery: 5 new files + resume from checkpoint
    _write_batch(spark, src_dir, 5, 10)
    q = run_incremental_ingest(spark, src_dir, sink, ckpt)
    q.awaitTermination(120)

    got = {tuple(r) for r in _read_sink(spark, sink)
           .select("subj", "pred", "obj").collect()}

    src = spark.read.parquet(src_dir).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    want_df = annotate.file_level_triples(src).unionByName(
        annotate.edge_triples(extract.extract_structures(src)))
    want = {tuple(r) for r in want_df.select("subj", "pred", "obj")
            .dropDuplicates().collect()}
    assert got == want
    # set semantics in the sink: no duplicate triples
    n_rows = _read_sink(spark, sink).count()
    assert n_rows == _read_sink(spark, sink).dropDuplicates(
        ["subj", "pred", "obj"]).count()


def test_windowed_event_counts_batch_parity(spark):
    """The same windowed-agg definition runs on the batch events table;
    sanity: totals preserved, windows aligned to the hour."""
    from rdf_tabular_spark.streaming import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events).collect()
    assert sum(r["n"] for r in out) == events.count()
    assert all(r["window_start"].minute == 0 for r in out)


def test_windowed_event_counts_streaming(spark, tmp_path):
    """Drive the SAME definition through an actual streaming query."""
    from rdf_tabular_spark.streaming import windowed_event_counts

    src = str(tmp_path / "ev")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = windowed_event_counts(stream)
    q = (out.writeStream.format("memory").queryName("wincounts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode only emits windows the watermark has passed; totals of
    # emitted windows must match the batch run for those windows
    got = {(r["window_start"], r["event_type"]): r["n"]
           for r in spark.sql("select * from wincounts").collect()}
    want = {(r["window_start"], r["event_type"]): r["n"]
            for r in windowed_event_counts(events).collect()}
    assert all(want[k] == v for k, v in got.items())


def test_stateful_entity_registry(spark, tmp_path):
    """applyInPandasWithState registry: each (entity, alias) emitted exactly
    once across micro-batches; state persists between batches."""
    import pandas as pd

    from rdf_tabular_spark.streaming.stateful import incremental_entity_registry

    src = tmp_path / "mentions"
    src.mkdir()
    # batch 1: two aliases of lodash-ish names + one numpy
    pd.DataFrame({"mention": ["lo-dash", "lo_dash", "numpy"]}).to_parquet(
        src / "b1.parquet")

    stream = (spark.readStream.schema("mention string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    emitted: list[tuple[str, str]] = []

    def run_once():
        emitted.clear()
        q = (incremental_entity_registry(stream)
             .writeStream.foreachBatch(
                 lambda df, _e: emitted.extend(
                     (r["entity_key"], r["mention"]) for r in df.collect()))
             .option("checkpointLocation", str(tmp_path / "chk"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    first = set(emitted)
    assert ("lo.dash", "lo-dash") in first and ("lo.dash", "lo_dash") in first
    assert ("numpy", "numpy") in first

    # batch 2 (resumed from checkpoint): one repeat (suppressed by the
    # persisted state) + one genuinely new alias
    pd.DataFrame({"mention": ["lo-dash", "lo.dash", "requests"]}).to_parquet(
        src / "b2.parquet")
    run_once()
    second = emitted
    assert ("lo.dash", "lo-dash") not in second
    assert ("lo.dash", "lo.dash") in second
    assert ("requests", "requests") in second


def test_streaming_dedup_order_independent_and_replayable(spark, tmp_path):
    import pandas as pd

    from rdf_tabular_spark.streaming.incremental import (
        dedup_merge_batch, run_streaming_dedup)

    src = tmp_path / "src"
    src.mkdir()
    # two files; the min-id winner of fp("same text") lives in file b
    pd.DataFrame({"doc_id": [10, 11], "text": ["same text", "other"]}
                 ).to_parquet(src / "a.parquet")
    pd.DataFrame({"doc_id": [2, 30], "text": ["same  text", "third"]}
                 ).to_parquet(src / "b.parquet")
    schema = spark.read.parquet(str(src)).schema

    def drain(tag):
        sink = str(tmp_path / f"sink_{tag}")
        q = run_streaming_dedup(
            spark, str(src), sink, str(tmp_path / f"ckpt_{tag}"), schema,
            max_files_per_trigger=1)
        assert q.awaitTermination(300)
        return {(r.fp, r.doc_id)
                for r in _read_sink(spark, sink).collect()}

    got = drain("one")
    # normalization collapses the double space: 10 and 2 collide, min wins
    assert len(got) == 3 and any(d == 2 for _, d in got)
    assert all(d != 10 for _, d in got)
    # a second run from a fresh checkpoint lands on the identical sink
    assert drain("two") == got

    # merge commutativity: replaying a batch into the drained sink is a
    # no-op (idempotent min-register)
    sink = str(tmp_path / "sink_one")
    before = got
    dedup_merge_batch(
        spark.read.parquet(str(src)).selectExpr(
            "md5(trim(regexp_replace(lower(text), '\\\\s+', ' '))) AS fp",
            "doc_id"),
        sink)
    assert {(r.fp, r.doc_id)
            for r in _read_sink(spark, sink).collect()} == before


def test_session_window_streaming_matches_batch(spark, tmp_path):
    """The SAME session_window_stats expression runs under readStream +
    watermark (incremental per-key session-state merge) and — once the
    availableNow trigger drains the source — emits the same sessions the
    batch run computes."""
    from rdf_tabular_spark.ops.sessions import session_window_stats

    src = str(tmp_path / "ev")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(1).write.parquet(src)

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(events.schema).parquet(src)
        # the watermark must sit on the exact column session_window uses:
        # pre-truncate to seconds (parity with the batch path) and cast
        # NTZ -> TIMESTAMP, then watermark it
        .withColumn("ts", F.date_trunc(
            "second", F.col("ts").cast("timestamp")))
        .withWatermark("ts", "1 hour"))
    out = session_window_stats(stream, gap_s=1800, ts_prepared=True)
    q = (out.writeStream.format("memory").queryName("sesswin")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["user_id"], r["session_start_es"]):
           (r["session_last_es"], r["n_events"], r["value_sum"])
           for r in spark.sql("select * from sesswin").collect()}
    want = {(r["user_id"], r["session_start_es"]):
            (r["session_last_es"], r["n_events"], r["value_sum"])
            for r in session_window_stats(events, gap_s=1800).collect()}
    # append mode emits only watermark-closed sessions; every emitted
    # session must exist in the batch answer with identical stats
    assert got, "streaming query emitted nothing"
    assert all(want[k] == v for k, v in got.items())
    # and the drained stream should have closed nearly everything
    assert len(got) >= 0.9 * len(want)


def test_streaming_rdfs_matches_batch_closure(spark, tmp_path):
    """Streaming KG construction WITH reasoning: two deliveries maintain
    an RDFS-closed sink via per-batch incremental closure; the drained
    sink must equal rdfs_materialize over the batch-path triples of the
    same files (incremental == full, wired to Structured Streaming)."""
    from rdf_tabular_spark.kg import annotate, extract
    from rdf_tabular_spark.kg.infer import ontology_df, rdfs_materialize
    from rdf_tabular_spark.streaming import run_streaming_rdfs

    src_dir = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src_dir, 6, 0)
    q = run_streaming_rdfs(spark, src_dir, sink, ckpt)
    q.awaitTermination(120)
    _write_batch(spark, src_dir, 4, 6)
    q = run_streaming_rdfs(spark, src_dir, sink, ckpt)
    q.awaitTermination(120)

    got = {tuple(r) for r in _read_sink(spark, sink).collect()}

    src = spark.read.parquet(src_dir).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    asserted = annotate.file_level_triples(src).unionByName(
        annotate.edge_triples(extract.extract_structures(src))
    ).dropDuplicates(["subj", "pred", "obj"])
    want_df = rdfs_materialize(asserted, ontology_df(spark),
                               include_tbox=False)
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    # reasoning actually fired: inferred supertypes are in the sink
    kg = "http://rdf-tabular-spark.dev/kg#"
    assert any(o == kg + "CodeEntity" for _, _, o, *_ in got)


def test_streaming_construct_matches_batch(spark, tmp_path):
    """Streaming CONSTRUCT view maintenance: two deliveries keep the
    co-imports view current via the delta rule; the drained view must
    equal batch construct over all delivered triples (incremental ==
    full, wired to Structured Streaming)."""
    from rdf_tabular_spark.kg import annotate, extract
    from rdf_tabular_spark.kg.query import construct
    from rdf_tabular_spark.streaming import run_streaming_construct

    kg = "http://rdf-tabular-spark.dev/kg#"
    pats = [("?f", kg + "imports", "?m"), ("?g", kg + "imports", "?m")]
    tmpl = [("?f", kg + "coImports", "?g")]
    src_dir = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src_dir, 6, 0)
    q = run_streaming_construct(spark, src_dir, sink, ckpt, pats, tmpl,
                                filters=["f < g"])
    q.awaitTermination(120)
    _write_batch(spark, src_dir, 4, 6)
    q = run_streaming_construct(spark, src_dir, sink, ckpt, pats, tmpl,
                                filters=["f < g"])
    q.awaitTermination(120)

    got = {tuple(r) for r in
           _read_sink(spark, sink + "/view").collect()}

    src = spark.read.parquet(src_dir).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    asserted = annotate.file_level_triples(src).unionByName(
        annotate.edge_triples(extract.extract_structures(src))
    ).dropDuplicates(["subj", "pred", "obj"])
    want = {tuple(r) for r in
            construct(asserted, pats, template=tmpl,
                      filters=["f < g"]).collect()}
    assert got == want
    assert got  # the view is non-vacuous: co-import pairs exist


@pytest.mark.parametrize("crash_batch", [0, 1])
def test_construct_merge_replay_after_crash(spark, tmp_path, monkeypatch,
                                            crash_batch):
    """A crash between a CONSTRUCT merge batch's two sink commits: the
    replay of that batch completes the view, so the view equals batch
    construct over all delivered triples, with no row twice."""
    from rdf_tabular_spark.kg.query import construct
    from rdf_tabular_spark.operators.emit import TRIPLE_SCHEMA
    from rdf_tabular_spark.sources.snapshots import SnapshotTable
    from rdf_tabular_spark.streaming.incremental import construct_merge_batch

    kg = "http://rdf-tabular-spark.dev/kg#"
    pats = [("?f", kg + "imports", "?m"), ("?g", kg + "imports", "?m")]
    tmpl = [("?f", kg + "coImports", "?g")]
    sink = str(tmp_path / "sink")

    def imports(pairs):
        return spark.createDataFrame(
            [(f"f{a}", kg + "imports", f"m{b}", True, None, None)
             for a, b in pairs], TRIPLE_SCHEMA)

    batches = [imports([(1, 1), (2, 1), (3, 2)]),
               imports([(4, 1), (5, 2), (3, 1)])]
    commit = SnapshotTable.commit
    for i, batch in enumerate(batches):
        if i == crash_batch:
            calls = []

            def crash_second(self, df, *args, **kwargs):
                calls.append(self.path)
                if len(calls) == 2:
                    raise RuntimeError("crash between the commits")
                return commit(self, df, *args, **kwargs)

            monkeypatch.setattr(SnapshotTable, "commit", crash_second)
            with pytest.raises(RuntimeError, match="between the commits"):
                construct_merge_batch(batch, sink, pats, tmpl, ["f < g"])
            monkeypatch.setattr(SnapshotTable, "commit", commit)
        # the delivery, or the replay of the batch that crashed
        construct_merge_batch(batch, sink, pats, tmpl, ["f < g"])

    got = [tuple(r) for r in _read_sink(spark, sink + "/view")
           .select("subj", "pred", "obj").collect()]
    want = {tuple(r) for r in construct(
        batches[0].unionByName(batches[1]), pats, template=tmpl,
        filters=["f < g"]).select("subj", "pred", "obj").collect()}
    assert len(got) == len(set(got))
    assert set(got) == want
    assert got  # the view is non-vacuous: co-import pairs exist


def test_streaming_owl_matches_batch_closure(spark, tmp_path):
    """OWL property rules are MULTI-premise (a chain joins a delta fact
    against the closed sink), so this pins the harder invariant: the
    streamed sink equals the from-scratch owl closure of all deliveries
    regardless of which side of a chain arrived first."""
    from rdf_tabular_spark.kg import annotate, extract
    from rdf_tabular_spark.kg.owl import owl_property_materialize
    from rdf_tabular_spark.streaming import run_streaming_owl

    KG = "http://rdf-tabular-spark.dev/kg#"
    rules = dict(
        inverse=[(KG + "imports", KG + "importedBy"),
                 (KG + "defines", KG + "definedIn")],
        chains=[(KG + "definedIn", KG + "inRepo", KG + "inRepo")])

    src_dir = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src_dir, 6, 0)
    q = run_streaming_owl(spark, src_dir, sink, ckpt, rules)
    q.awaitTermination(120)
    _write_batch(spark, src_dir, 4, 6)
    q = run_streaming_owl(spark, src_dir, sink, ckpt, rules)
    q.awaitTermination(120)

    got = {tuple(r) for r in _read_sink(spark, sink).collect()}

    src = spark.read.parquet(src_dir).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    asserted = annotate.file_level_triples(src).unionByName(
        annotate.edge_triples(extract.extract_structures(src))
    ).dropDuplicates(["subj", "pred", "obj"])
    want = {tuple(r)
            for r in owl_property_materialize(asserted, **rules).collect()}
    assert got == want
    # the chain really fired: symbols got repo membership
    assert any(p == KG + "inRepo" and "/sym/" in s for s, p, *_ in got)


def test_streaming_funnel_equals_batch(spark, tmp_path):
    """Conversions CROSSING micro-batches (view in batch 1, click in
    batch 2, purchase in batch 3) — the case a batch-local-vector merge
    would miss — plus an out-of-window click under within_seconds."""
    import datetime as dt

    from rdf_tabular_spark.ops.funnel import funnel_conversions
    from rdf_tabular_spark.streaming.incremental import \
        run_streaming_funnel

    def ts(s):
        return dt.datetime.fromisoformat(s)

    batches = [
        [(1, "view", ts("2024-01-01 10:00:00")),
         (2, "view", ts("2024-01-01 10:05:00")),
         (3, "click", ts("2024-01-01 10:06:00"))],   # click before view
        [(1, "click", ts("2024-01-01 11:00:00")),
         (3, "view", ts("2024-01-01 11:30:00"))],
        [(1, "purchase", ts("2024-01-01 12:00:00")),
         (2, "click", ts("2024-01-02 10:00:00")),    # 24h after view
         (3, "click", ts("2024-01-01 12:30:00"))],
    ]
    schema = "user_id bigint, event_type string, ts timestamp"
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src / f"b{i}"))
    # flatten the nested dirs into single files for maxFilesPerTrigger
    import glob
    import shutil
    flat = tmp_path / "flat"
    flat.mkdir()
    import os
    for i in range(3):
        f = glob.glob(str(src / f"b{i}" / "part-*.parquet"))[0]
        dst = str(flat / f"{i:03d}.parquet")
        shutil.copy(f, dst)
        # FileStreamSource orders batches by MODIFICATION TIME, not
        # name — same-second mtimes make pickup order (and therefore
        # the time-ordered-arrival contract) nondeterministic
        os.utime(dst, (1700000000 + i * 10, 1700000000 + i * 10))

    stages = ["view", "click", "purchase"]
    for within in (None, 3600):
        sink = str(tmp_path / f"sink_{within}")
        ckpt = str(tmp_path / f"ckpt_{within}")
        q = run_streaming_funnel(spark, str(flat), sink, ckpt, schema,
                                 stages, within_seconds=within)
        assert q.awaitTermination(300)
        got = {r.user: (r.t_1, r.t_2, r.t_3)
               for r in spark.read.parquet(sink).collect()}
        allb = spark.createDataFrame(
            [r for b in batches for r in b], schema)
        want = {r.user: (r.t_1, r.t_2, r.t_3)
                for r in funnel_conversions(
                    allb, stages, within_seconds=within).collect()}
        assert got == want, (within, got, want)
        # and the cross-batch conversion really happened
        if within is None:
            assert got[1][2] is not None
        else:
            assert got[2][1] is None   # 24h click out of the 1h window


def test_stream_stream_join_pairs_cross_batches(spark, tmp_path):
    """run_streaming_join: a view in micro-batch 0 must pair with a
    click in micro-batch 2 through the symmetric join state, and the
    drained sink must equal the batch range join exactly."""
    import datetime as dt

    from rdf_tabular_spark.streaming.incremental import run_streaming_join

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, ts_min, uid, etype):
        return (eid, t0 + dt.timedelta(minutes=ts_min), uid, etype, 0.0, "")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    batches = [
        # batch 0: u1 views; u2 clicks (no prior view -> no pair)
        [ev(1, 0, 1, "view"), ev(2, 1, 2, "click")],
        # batch 1: u2 views; u1 clicks (pairs with batch-0 view)
        [ev(3, 10, 2, "view"), ev(4, 12, 1, "click")],
        # batch 2: u2 clicks (pairs with batch-1 view); u1 late view
        # + an out-of-window click for u1 (window 60 min)
        [ev(5, 20, 2, "click"), ev(6, 30, 1, "view"),
         ev(7, 200, 1, "click")],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for j, rows in enumerate(batches):
        p = os.path.join(src, f"part-{j}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(p + ".dir")
        # single file per batch with pinned mtime (pickup order = mtime)
        import glob
        import shutil
        shutil.move(glob.glob(p + ".dir/part-*.parquet")[0], p)
        shutil.rmtree(p + ".dir")
        os.utime(p, (1700000000 + j * 10, 1700000000 + j * 10))

    q = run_streaming_join(
        spark, src, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
        schema, window_sec=3600)
    assert q.awaitTermination(300)
    got = {(r["l_id"], r["r_id"])
           for r in spark.read.parquet(str(tmp_path / "sink")).collect()}
    # u1: view#1 + click#4 (cross-batch 0->1); click#7 is 170 min after
    # view#6 -> out of window; u2: view#3 + click#5 (cross-batch 1->2)
    assert got == {(1, 4), (3, 5)}


def test_drained_sink_is_keyed_on_the_streaming_code(spark, tmp_path,
                                                     monkeypatch):
    """A drained sink is served again only to the code that drained it:
    once any module of the package or __spark_entry__.py changes (the
    funnel runner's merge reaches ops/funnel.py, its stage list is in
    __spark_entry__.py), the sink is drained anew."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"ts": pa.array([3, 1, 2], pa.timestamp("us")),
                             "user_id": [1, 1, 2]}),
                   str(sf / "events.parquet"))
    # the code key hashes a copy of the code, which the test then edits
    code = tmp_path / "code"
    repo = os.path.dirname(os.path.abspath(E.__file__))
    shutil.copytree(os.path.join(repo, "rdf_tabular_spark"),
                    code / "rdf_tabular_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(E.__file__, code / "__spark_entry__.py")
    monkeypatch.setattr(E, "__file__", str(code / "__spark_entry__.py"))

    class Drained:
        def awaitTermination(self, timeout):
            return True

    def runner(tag):
        def run(spark, src, sink, ckpt, schema):
            os.makedirs(sink)
            pq.write_table(pa.table({"tag": [tag]}),
                           os.path.join(sink, "part-0.parquet"))
            return Drained()
        return run

    def drain(tag):
        return [r.tag for r in E._drained_stream_sink(
            spark, str(sf), "probe", runner(tag)).collect()]

    assert drain("first") == ["first"]
    assert drain("unused") == ["first"]  # same code: the sink is reused
    for changed in ("rdf_tabular_spark/streaming/incremental.py",
                    "rdf_tabular_spark/ops/funnel.py", "__spark_entry__.py"):
        with open(code / changed, "ab") as f:
            f.write(b"\n#\n")
        assert drain(changed) == [changed]


def test_drained_sink_drops_parts_the_commit_log_does_not_list(
        spark, tmp_path, monkeypatch):
    """A retried task leaves its failed attempt's part file in a streaming
    file sink; only the _spark_metadata commit log tells it apart. The
    drained sink keeps the committed part files only: no row repeats."""
    import json
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("us")),
                             "user_id": [1]}), str(sf / "events.parquet"))

    class Drained:
        def awaitTermination(self, timeout):
            return True

    def runner(spark, src, sink, ckpt, schema):
        os.makedirs(os.path.join(sink, "_spark_metadata"))
        rows = pa.table({"tag": ["a", "b"]})
        committed = os.path.join(sink, "part-00000-c000.snappy.parquet")
        pq.write_table(rows, committed)
        # the first attempt of a retried task, never committed
        pq.write_table(rows, os.path.join(sink,
                                          "part-00000-a1-c000.snappy.parquet"))
        entry = {"path": "file://" + committed, "size": 1, "isDir": False,
                 "modificationTime": 0, "blockReplication": 1,
                 "blockSize": 1, "action": "add"}
        with open(os.path.join(sink, "_spark_metadata", "0"), "w") as f:
            f.write("v1\n" + json.dumps(entry) + "\n")
        return Drained()

    got = E._drained_stream_sink(spark, str(sf), "retried", runner)
    assert sorted(r.tag for r in got.collect()) == ["a", "b"]
