"""Tests for the source-code KG construction pipeline (north rule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def results(spark, tmp_path_factory):
    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

    cfg = KGConfig(
        checkpoint_dir=str(tmp_path_factory.mktemp("kgchk")),
        n_files=400, n_repos=12, range_partitions=4)
    pipe = KGPipeline(spark, cfg)
    res = pipe.run()
    res["_pipe"] = pipe
    return res


def test_synth_is_deterministic(spark):
    from rdf_tabular_spark.kg.synth import synth_source_table

    a = synth_source_table(spark, 50, 5, partitions=2).orderBy("repo", "path").collect()
    b = synth_source_table(spark, 50, 5, partitions=4).orderBy("repo", "path").collect()
    assert a == b  # identical content at any parallelism


def test_extraction_finds_structures(results):
    kinds = {r.kind for r in results["extracted"].select("kind").distinct().collect()}
    assert {"import", "def"} <= kinds
    assert "dep" in kinds  # json manifests
    # per-file numbering is dense from 0
    first = results["extracted"].groupBy("repo", "path").agg(
        F.min("row_idx").alias("mn")).agg(F.max("mn")).first()[0]
    assert first == 0


def test_triples_emitted(results):
    t = results["triples"]
    n = t.count()
    assert n > 1000
    preds = {r.pred for r in t.select("pred").distinct().collect()}
    assert any(p.endswith("#imports") for p in preds)
    assert any(p.endswith("#defines") for p in preds)
    assert any(p.endswith("#sha256") for p in preds)
    # graph set semantics: dedup is idempotent
    assert t.distinct().count() == n


def test_content_sha_invariant(results):
    assert results["_pipe"].verify_invariant(results)


def test_entities_and_linking(results):
    ents = results["entities"]
    assert ents.count() > 0
    assert set(ents.columns) == {"iri", "kind", "canonical_key", "aliases"}
    labels = results["labels"]
    # every mention got a canonical label
    assert labels.filter(F.col("canonical").isNull()).count() == 0


def test_resume_skips_completed_stages(spark, results, tmp_path_factory):
    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

    cfg = KGConfig(
        checkpoint_dir=results["_pipe"].config.checkpoint_dir,
        n_files=400, n_repos=12, range_partitions=4)
    pipe2 = KGPipeline(spark, cfg)
    res2 = pipe2.run()
    # same config hash -> stages resumed, outputs identical
    assert res2["triples"].count() == results["triples"].count()
    assert all(d["resumed"] or d["wall_s"] < 5.0 for d in pipe2.lineage)


def _labels(df) -> dict:
    out = df.collect()
    assert len(out) == len({r["mention"] for r in out})
    return {r["mention"]: r["canonical"] for r in out}


def _link_parity(spark, names: list) -> dict:
    """link_mentions' labels for *names*, asserted equal to those of
    connected_components over candidate_pairs, the one linking contract;
    the call leaves no persisted RDD behind."""
    from rdf_tabular_spark.kg import link

    mentions = spark.createDataFrame([(n,) for n in names], "mention string")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    got = _labels(link.link_mentions(mentions, 0.55))
    assert set(jsc.getPersistentRDDs().keySet()) <= before
    distinct = mentions.select("mention").distinct()
    assert got == _labels(link.connected_components(
        distinct, link.candidate_pairs(distinct, 0.55)))
    return got


def test_adaptive_linking_parity(spark, monkeypatch):
    """A vocabulary with real near-duplicates links to the same labels on
    either side of SMALL_VOCAB (driver or distributed propagation)."""
    from rdf_tabular_spark.kg import link

    names = [
        "requests", "Requests", "requests.adapters",
        "lodash", "lo-dash", "lo_dash",
        "numpy", "numpyy",
        "left-pad", "left_pad", "./left-pad",
        "completely.unrelated.module",
    ]
    small = _link_parity(spark, names)
    # exact-normalization aliases merge
    assert small["lo-dash"] == small["lo_dash"]
    assert small["left-pad"] == small["./left-pad"]
    assert (small["completely.unrelated.module"]
            == "completely.unrelated.module")

    monkeypatch.setattr(link, "SMALL_VOCAB", len(names) - 1)
    mentions = spark.createDataFrame([(n,) for n in names], "mention string")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    labels = link.link_mentions(mentions, 0.55)
    # the distributed call keeps only the checkpoint its labels scan
    leaves = labels._jdf.queryExecution().analyzed().collectLeaves()
    read = {leaves.apply(i).rdd().id() for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"}
    assert set(jsc.getPersistentRDDs().keySet()) - before <= read
    assert _labels(labels) == small


def test_local_linking_deterministic(spark):
    from rdf_tabular_spark.kg.link import link_mentions

    names = sorted(f"pkg{i // 3}.mod{i}" for i in range(60))
    m = spark.createDataFrame([(n,) for n in names], "mention string")
    assert (_labels(link_mentions(m))
            == _labels(link_mentions(m.repartition(5))))


def test_per_partition_lineage(spark, results):
    """North rule: per-partition lineage — partition row counts recorded
    for every stage and summing to the stage total."""
    import os

    pipe = results["_pipe"]
    for d in pipe.lineage:
        assert d["n_partitions"] >= 1
        assert sum(d["partition_rows"].values()) == d["rows"]
    ppath = os.path.join(pipe.config.checkpoint_dir,
                         f"partitions-{pipe.config.config_hash}")
    pdf = spark.read.parquet(ppath)
    per_stage = {r["stage"]: r["total"] for r in pdf.groupBy("stage").agg(
        F.sum("rows").alias("total")).collect()}
    got = {d["stage"]: d["rows"] for d in pipe.lineage}
    assert per_stage == got


def test_kg_oracle_linker_equals_norm_grouping(spark):
    """The driver-contract KG oracle (sql_kg_triples/sql_kg_entities)
    replicates entity linking as normalized-equality grouping with
    canonical = min(mention). Assert the REAL linker produces exactly that
    on the staged oracle vocabulary — including at least one non-trivial
    merge (the case-variant spellings), so linking is observable."""
    import re

    import pyarrow.parquet as pq

    from __spark_entry__ import _kg_oracle_source_path
    from rdf_tabular_spark.kg.extract import LANG_RULES
    from rdf_tabular_spark.kg.link import link_mentions

    tbl = pq.read_table(_kg_oracle_source_path()).to_pydict()
    vocab: set[str] = set()
    for lang, content in zip(tbl["lang"], tbl["content"]):
        for kind, rx, fl in LANG_RULES[lang]:
            if kind in ("import", "dep"):
                for m in re.finditer(rx, content, fl):
                    vocab.add(m.group("name"))
    mentions = spark.createDataFrame([(v,) for v in sorted(vocab)],
                                     "mention string")
    linked = _labels(link_mentions(mentions, 0.55))
    groups: dict[str, list[str]] = {}
    for m in vocab:
        norm = re.sub(r"[/._-]+", ".", re.sub(r"^\./", "", m.lower()))
        groups.setdefault(norm, []).append(m)
    expect = {m: min(g) for g in groups.values() for m in g}
    assert linked == expect
    assert any(m != c for m, c in linked.items())


def test_resume_after_partial_stage_failure(spark, tmp_path):
    """Kill-and-resume: a crash mid-write leaves a stage directory WITHOUT
    its _SUCCESS marker. The re-run must redo that stage (and only it —
    completed stages resume from checkpoint) and produce a byte-identical
    graph."""
    import os
    import shutil

    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

    cfg = KGConfig(checkpoint_dir=str(tmp_path / "chk"),
                   n_files=200, n_repos=8, range_partitions=2)
    clean = KGPipeline(spark, cfg).run()
    want = sorted(map(tuple, clean["triples"].collect()))

    # simulate the crash: the 'graph' stage died mid-write (partial files,
    # no _SUCCESS), everything before it completed
    graph_dir = [
        os.path.join(cfg.checkpoint_dir, d)
        for d in os.listdir(cfg.checkpoint_dir) if d.startswith("graph-")
    ][0]
    shutil.rmtree(graph_dir)
    os.makedirs(graph_dir)
    with open(os.path.join(graph_dir, "part-00000-garbage.parquet"), "w") as f:
        f.write("truncated mid-write")

    pipe2 = KGPipeline(spark, cfg)
    res2 = pipe2.run()
    resumed = {d["stage"]: d["resumed"] for d in pipe2.lineage}
    assert resumed["source"] and resumed["extract"] and resumed["labels"]
    assert not resumed["graph"]  # the killed stage re-ran
    got = sorted(map(tuple, res2["triples"].collect()))
    assert got == want


def test_pipeline_releases_stage_checkpoints(spark, tmp_path, monkeypatch):
    """A run leaves no persisted RDD behind: the checkpoint a distributed
    link stage returns is released once the stage is on disk. The labels
    frames are held here, so the JVM cannot collect their checkpoint
    before the check and only the release frees it."""
    from rdf_tabular_spark.kg import link
    from rdf_tabular_spark.kg.pipeline import KGConfig, KGPipeline

    monkeypatch.setattr(link, "SMALL_VOCAB", 0)
    held = []
    link_mentions = link.link_mentions
    monkeypatch.setattr(link, "link_mentions", lambda *a: held.append(
        link_mentions(*a)) or held[-1])
    jsc = spark.sparkContext._jsc
    for i in range(3):
        before = set(jsc.getPersistentRDDs().keySet())
        KGPipeline(spark, KGConfig(checkpoint_dir=str(tmp_path / f"chk{i}"),
                                   n_files=5)).run()
        # RDDs other tests left may be collected meanwhile; none is added
        assert set(jsc.getPersistentRDDs().keySet()) <= before
    assert len(held) == 3


def test_materialize_graph_partition_pruning(spark, tmp_path):
    """Final graph tables: triple table partitioned by pred (a constant-
    predicate read carries a PartitionFilter — the BGP layer's scan
    shape), full roundtrip, and deterministic JSON-lines serialization."""
    import json

    from pyspark.sql import functions as F

    from rdf_tabular_spark.kg.materialize import (
        graph_json_lines,
        materialize_graph,
        read_triples,
    )

    tr = spark.createDataFrame(
        [("a", "imports", "x"), ("a", "imports", "b"),
         ("a", "defines", 'f"1'), ("b", "imports", "x")],
        "subj string, pred string, obj string")
    ent = spark.createDataFrame([("x", "module")], "iri string, kind string")

    paths = materialize_graph(tr, ent, str(tmp_path))
    back = read_triples(spark, str(tmp_path))
    assert back.count() == 4

    pruned = back.filter(F.col("pred") == "imports")
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "pred" in pf[0]
    assert pruned.count() == 3

    lines = {r["subj"]: json.loads(r["json"])
             for r in graph_json_lines(tr).collect()}
    assert lines["a"] == {"@id": "a", "defines": ['f"1'],
                          "imports": ["b", "x"]}
    assert lines["b"] == {"@id": "b", "imports": ["x"]}


def test_shingle_blocked_pairs_shared_and_cap(spark):
    from rdf_tabular_spark.kg.link import shingle_blocked_pairs

    m = spark.createDataFrame(
        [("numpy",), ("numpi",), ("flask",)], "mention string")
    got = {(r.a, r.b): r.shared
           for r in shingle_blocked_pairs(m, min_shared=2).collect()}
    # numpy/numpi share ^nu, num, ump (not the tails); flask pairs with
    # nobody at min_shared=2
    assert ("numpi", "numpy") in got and got[("numpi", "numpy")] >= 2
    assert all("flask" not in pair for pair in got)
    # a df cap of 1 makes every shingle a stop-shingle: no candidates
    assert shingle_blocked_pairs(m, min_shared=1, max_df=1).count() == 0


def test_tfidf_rescore_hand_computed(spark):
    import math

    from rdf_tabular_spark.kg.link import tfidf_rescore

    names = ["numpy", "numpi", "flask"]
    m = spark.createDataFrame([(n,) for n in names], "mention string")
    pairs = spark.createDataFrame(
        [("numpi", "numpy"), ("flask", "numpy")], "a string, b string")
    got = {(r.a, r.b): r.tfidf_micro for r in
           tfidf_rescore(m, pairs).collect()}

    # character 3-grams of "^name$" (these names normalize to themselves)
    sh = {n: {f"^{n}$"[i:i + 3] for i in range(len(n))} for n in names}
    df = {}
    for s in sh.values():
        for t in s:
            df[t] = df.get(t, 0) + 1
    idf = {t: round(math.log(4 / (c + 1)) * 1e6) for t, c in df.items()}
    for a, b in [("numpi", "numpy"), ("flask", "numpy")]:
        num = sum(idf[t] for t in sh[a] & sh[b])
        den = sum(idf[t] for t in sh[a] | sh[b])
        assert got[(a, b)] == (2 * 1000000 * num + den) // (2 * den)
    # the near-duplicate outranks the unrelated pair
    assert got[("numpi", "numpy")] > got[("flask", "numpy")]


def test_tfidf_rescore_partition_invariance(spark):
    from rdf_tabular_spark.kg.link import shingle_blocked_pairs, tfidf_rescore

    m = spark.createDataFrame(
        [(w,) for w in ["requests", "request", "reqwests", "numpy",
                        "pandas", "pandass"]], "mention string")
    p = shingle_blocked_pairs(m, min_shared=2)
    a = sorted(map(tuple, tfidf_rescore(m, p).collect()))
    b = sorted(map(tuple, tfidf_rescore(m.repartition(5),
                                        p.repartition(3)).collect()))
    assert a == b


def _seeded_vocabulary(seed: int = 7) -> list[str]:
    """Near-duplicate module names (edits, separator and case variants;
    some with non-ASCII and astral characters), plus MAX_BUCKET + 20 case
    variants of one name: they normalize alike, so every band bucket they
    share is over the hot-bucket guard."""
    import random

    from rdf_tabular_spark.kg.link import MAX_BUCKET

    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz" * 3 + "éüß日本𝄞"
    names: set[str] = set()
    for _ in range(60):
        parts = ["".join(rng.choice(letters) for _ in range(rng.randint(3, 8)))
                 for _ in range(rng.randint(1, 3))]
        base = ".".join(parts)
        names.add(base)
        for _ in range(rng.randint(1, 5)):
            s = list(base)
            i = rng.randrange(len(s))
            op = rng.choice(("sub", "ins", "del", "sep", "case"))
            if op == "sub":
                s[i] = rng.choice(letters)
            elif op == "ins":
                s.insert(i, rng.choice(letters))
            elif op == "del" and len(s) > 3:
                del s[i]
            elif op == "sep":
                s = list(base.replace(".", rng.choice("-_/")))
            else:
                s = list(base.upper())
            names.add("".join(s))
    hot = "hotbucketname"
    variants: set[str] = set()
    while len(variants) < MAX_BUCKET + 20:
        variants.add("".join(c.upper() if rng.random() < 0.5 else c
                             for c in hot))
    return sorted(names | variants)


def test_candidate_pairs_equals_python_reference(spark):
    """Verify-then-dedup returns exactly the pairs a plain-Python LSH
    reference finds from the same (mention, shingles, bands) rows: every
    (a < b) pair sharing a bucket at or under MAX_BUCKET, kept when its
    exact Jaccard reaches the threshold, once however many bands hit."""
    from collections import Counter, defaultdict

    from rdf_tabular_spark import expr as S
    from rdf_tabular_spark.kg import link

    names = _seeded_vocabulary()
    mentions = spark.createDataFrame([(n,) for n in names], "mention string")
    rows = (
        mentions.selectExpr("*", link.shingles(link.normalize_mention(
            S.col("mention"))).alias("sh").sql)
        .selectExpr("*", link.minhash_bands(S.col("sh")).alias("bands").sql)
        .collect())
    sh = {r["mention"]: set(r["sh"]) for r in rows}
    buckets: dict[tuple[int, int], list[str]] = defaultdict(list)
    for r in rows:
        for band, key in enumerate(r["bands"]):
            buckets[(band, key)].append(r["mention"])
    hits: Counter = Counter()
    for members in buckets.values():
        if len(members) <= link.MAX_BUCKET:
            hits.update((a, b) for a in members for b in members if a < b)
    expect = {}
    for a, b in hits:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= 0.55:
            expect[(a, b)] = j
    # the vocabulary exercises the guard and multi-band collisions
    assert max(len(m) for m in buckets.values()) > link.MAX_BUCKET
    assert any(n > 1 for (a, b), n in hits.items() if (a, b) in expect)

    out = link.candidate_pairs(mentions, 0.55).collect()
    got = {(r["a"], r["b"]): r["jaccard"] for r in out}
    assert len(out) == len(got)
    assert got == expect


def test_link_parity_seeded_vocabulary(spark):
    """The seeded near-duplicate vocabulary (hot buckets, non-ASCII and
    astral names) links to connected_components' labels."""
    labels = _link_parity(spark, _seeded_vocabulary())
    assert any(m != c for m, c in labels.items())


#: 29 windows of 12 characters over a string with no repeated 3-gram:
#: neighbours share 9 of 15 shingles (Jaccard 0.6), windows two apart 8
#: of 16 (0.5), so the verified pairs form one path of 28 hops
CHAIN = [("mynbiqpmzjplsgqejeydtzirwztejdxcvkprdlnk")[i:i + 12]
         for i in range(29)]


def test_link_parity_long_chain(spark):
    """A near-duplicate chain longer than the propagation's 10 rounds:
    the far end keeps the min label within 10 hops, as in
    connected_components, not the chain's global min."""
    from rdf_tabular_spark.kg import link

    mentions = spark.createDataFrame([(n,) for n in CHAIN], "mention string")
    pairs = {(r["a"], r["b"]) for r in
             link.candidate_pairs(mentions, 0.55).collect()}
    assert pairs == {tuple(sorted(p)) for p in zip(CHAIN, CHAIN[1:])}
    labels = _link_parity(spark, CHAIN)
    assert labels == _python_cc(CHAIN, pairs, link.CC_ROUNDS)
    assert len(set(labels.values())) > 1


def test_link_parity_null_mention(spark):
    """A null mention stays its own (null) entity."""
    labels = _link_parity(spark, ["numpy", "numpyy", None, "flask"])
    assert labels[None] is None
    assert labels["numpyy"] == "numpy"


def _python_cc(vertices, pairs, max_iter):
    """Fixed-step min-label propagation: every round, each vertex takes the
    min of its own and its neighbours' labels. Pairs with an endpoint
    outside *vertices* are dropped; a None vertex keeps the None label."""
    vs = set(vertices)
    adj: dict = {v: set() for v in vs}
    for a, b in pairs:
        if a in vs and b in vs and None not in (a, b) and a != b:
            adj[a].add(b)
            adj[b].add(a)
    label = {v: v for v in vs}
    for _ in range(max_iter):
        label = {v: v if v is None else
                 min([label[v]] + [label[u] for u in adj[v]]) for v in vs}
    return label


def _spark_cc(spark, vertices, pairs, max_iter=10):
    from rdf_tabular_spark.kg import link

    mentions = spark.createDataFrame([(v,) for v in vertices],
                                     "mention string")
    p = spark.createDataFrame(pairs, "a string, b string")
    out = link.connected_components(mentions, p, max_iter).collect()
    assert len(out) == len({r["mention"] for r in out})
    return {r["mention"]: r["canonical"] for r in out}


PATH = [f"p{i:02d}" for i in range(14)]


@pytest.mark.parametrize("max_iter", [1, 2, 10])
def test_connected_components_truncated_path(spark, max_iter):
    """A 14-node path needs 13 rounds; fewer rounds stop where a fixed-step
    propagation stops, including a last round that is no check round."""
    pairs = list(zip(PATH, PATH[1:]))
    got = _spark_cc(spark, PATH, pairs, max_iter)
    assert got == _python_cc(PATH, pairs, max_iter)
    assert got["p13"] == PATH[max(0, 13 - max_iter)]


@pytest.mark.parametrize("case", ["isolated", "no_pairs", "missing",
                                  "null"])
def test_connected_components_matches_reference(spark, case):
    vertices, pairs = {
        # components of several sizes next to isolated vertices; repeated
        # mentions and pairs count once
        "isolated": (["x1", "x2", "x3", "y1", "y2", "solo", "x1"],
                     [("x2", "x3"), ("x1", "x2"), ("y2", "y1"),
                      ("x1", "x2")]),
        "no_pairs": (["b", "a", "c"], []),
        # an endpoint outside the mentions neither bridges nor appears,
        # even when it would be the smallest label
        "missing": (["b1", "b2", "c1"],
                    [("b1", "a0"), ("a0", "b2"), ("c1", "zz")]),
        "null": ([None, "n1", "n2"], [("n1", "n2"), (None, "n1")]),
    }[case]
    got = _spark_cc(spark, vertices, pairs)
    assert got == _python_cc(vertices, pairs, 10)


def test_connected_components_releases_caches(spark, monkeypatch):
    """After a call only the checkpoint behind the returned frame stays;
    a failure mid-loop leaves nothing persisted."""
    from rdf_tabular_spark import caching
    from rdf_tabular_spark.kg import link

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def checkpoints(df) -> set:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return {leaves.apply(i).rdd().id() for i in range(leaves.size())
                if leaves.apply(i).nodeName() == "LogicalRDD"}

    mentions = spark.createDataFrame([(n,) for n in PATH], "mention string")
    pairs = spark.createDataFrame(list(zip(PATH, PATH[1:])),
                                  "a string, b string")
    caching.release_caches()
    before = persisted()
    out = link.connected_components(mentions, pairs, max_iter=10)
    out.collect()
    caching.release_caches()
    assert persisted() - before == checkpoints(out)
    assert len(checkpoints(out)) == 1

    frame_class = type(mentions)  # the classic DataFrame subclass
    real_count = frame_class.count
    calls = []

    def count_failing_second(self):
        calls.append(self)
        if len(calls) == 2:  # the check after round 6
            raise RuntimeError("injected")
        return real_count(self)

    monkeypatch.setattr(frame_class, "count", count_failing_second)
    kept = persisted()
    with pytest.raises(RuntimeError, match="injected"):
        link.connected_components(mentions, pairs, max_iter=10)
    monkeypatch.undo()
    assert len(calls) == 2
    assert not persisted() - kept
