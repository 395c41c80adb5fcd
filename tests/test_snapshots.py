"""Snapshot-manifest tables (sources/snapshots.py): atomic commits, time
travel, incremental scan, and the storage seam under the incremental KG
path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rdf_tabular_spark.sources.snapshots import SnapshotTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id long, val string")


def test_append_read_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(_batch(spark, 0, 5))
    s2 = t.commit(_batch(spark, 5, 8))
    assert (s1, s2) == (1, 2) and t.history() == [1, 2]
    assert _rows(t.read(spark)) == _rows(_batch(spark, 0, 8))
    assert _rows(t.read(spark, s1)) == _rows(_batch(spark, 0, 5))


def test_overwrite_keeps_old_snapshots_readable(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 5))
    t.commit(_batch(spark, 5, 8))
    s3 = t.commit(_batch(spark, 100, 103), mode="overwrite")
    assert _rows(t.read(spark)) == _rows(_batch(spark, 100, 103))
    assert _rows(t.read(spark, 2)) == _rows(_batch(spark, 0, 8))
    d = t.diff(2, s3)
    assert d["added"] and d["removed"] and not (set(d["added"])
                                                & set(d["removed"]))


def test_read_appended_is_delta_only(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 5))
    t.commit(_batch(spark, 5, 8))
    t.commit(_batch(spark, 8, 9))
    assert _rows(t.read_appended(spark, since=1)) == _rows(_batch(spark, 5, 9))
    assert _rows(t.read_appended(spark, since=1, until=2)) == _rows(
        _batch(spark, 5, 8))
    # planning reads only the added files, never the table
    planned = t.read_appended(spark, since=2)
    n_files = len(t.manifest(3)["added"])
    assert planned.inputFiles() and len(planned.inputFiles()) == n_files


def test_commit_conflict_rebases_and_retries(spark, tmp_path, monkeypatch):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 5))
    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"]:
            state["raced"] = True
            # another committer publishes snapshot 2 first
            m = t.manifest(1)
            with open(t._snap_file(2), "w") as fh:
                json.dump({"snapshot_id": 2, "parent": 1, "mode": "append",
                           "files": m["files"], "added": []}, fh)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    sid = t.commit(_batch(spark, 5, 8))
    assert sid == 3 and state["raced"]
    # the rebased manifest carries BOTH the racer's files and ours
    assert _rows(t.read(spark)) == _rows(_batch(spark, 0, 8))


def test_bad_reads_raise(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no snapshots"):
        t.read(spark)
    t.commit(_batch(spark, 0, 2))
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read(spark, 99)
    with pytest.raises(ValueError, match="no files added"):
        t.read_appended(spark, since=1)


def test_incremental_kg_from_snapshot_diff(spark, tmp_path):
    """The storage seam end-to-end: v1/v2 as overwrite snapshots, the
    incremental graph built from snapshot READS equals a full recompute
    of the v2 snapshot (same invariant as test_delta, now through the
    table layer)."""
    from rdf_tabular_spark.kg import delta, extract, synth

    t = SnapshotTable(str(tmp_path / "src"))
    v1 = synth.synth_source_table(spark, 80)
    idx = F.expr(
        r"try_cast(regexp_extract(path, 'file_(\\d+)\\.', 1) as bigint)")
    v2 = (synth.synth_source_table(spark, 80).filter(idx < 70)
          .withColumn("content", F.when(
              idx % 9 == 0,
              F.concat(F.col("content"), F.lit("\nimport snapmod\n")))
              .otherwise(F.col("content"))))
    t.commit(v1, mode="overwrite")
    t.commit(v2, mode="overwrite")

    prev = extract.extract_structures(t.read(spark, 1))
    _, _, inc = delta.incremental_graph(prev, t.read(spark, 2))
    full_prev = extract.extract_structures(t.read(spark, 2))
    _, _, full = delta.incremental_graph(full_prev, t.read(spark, 2))
    assert _rows(inc) == _rows(full)


def test_commit_sequence_matches_model(spark, tmp_path):
    """Model-based: a deterministic mixed append/overwrite sequence must
    keep every snapshot's read() equal to a plain-Python model of the
    live row set, both as-of each commit and via time travel at the end."""
    import hashlib

    def h(tag, i):
        return int(hashlib.md5(f"seq|{tag}|{i}".encode()).hexdigest()[:8], 16)

    t = SnapshotTable(str(tmp_path / "t"))
    model: dict[int, list[tuple[int, str]]] = {}
    live: list[tuple[int, str]] = []
    nxt = 0
    # fixed mode sequence so every transition is exercised, in particular
    # append-ON-TOP-of-overwrite (review r3: a hash-derived sequence
    # happened to never produce it)
    modes = ["append", "overwrite", "append", "append",
             "overwrite", "append", "overwrite", "append"]
    for i, mode in enumerate(modes):
        n = 1 + h("n", i) % 4
        batch = [(nxt + j, f"v{nxt + j}") for j in range(n)]
        nxt += n
        sid = t.commit(spark.createDataFrame(batch, "id long, val string"),
                       mode=mode)
        live = list(batch) if mode == "overwrite" else live + batch
        model[sid] = list(live)
        assert _rows(t.read(spark)) == sorted(live)
    for sid, want in model.items():
        assert _rows(t.read(spark, sid)) == sorted(want), sid


def test_compaction_same_rows_fewer_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    for lo in (0, 250, 500, 750):
        t.commit(df.filter((F.col("k") >= lo) & (F.col("k") < lo + 250))
                 .repartition(8), mode="append")
    pre = t.current_snapshot_id()
    n_files_pre = len(t.manifest(pre)["files"])
    sid = t.compact(spark, target_files=2)
    assert sid == pre + 1
    assert len(t.manifest(sid)["files"]) <= 2 < n_files_pre
    # identical rows
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(1000))
    # time travel to the pre-compaction snapshot unaffected
    assert t.read(spark, pre).count() == 1000


def test_incremental_scan_skips_compaction(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    s1 = t.commit(df, mode="append")
    t.compact(spark, target_files=1)
    s3 = t.commit(spark.range(100, 150).withColumnRenamed("id", "k"),
                  mode="append")
    # CDC over (s1, s3]: only the 50 genuinely-new rows — the rewrite
    # added files but must not replay the table
    got = sorted(r.k for r in t.read_appended(spark, s1, s3).collect())
    assert got == list(range(100, 150))


def test_compaction_conditional_commit_aborts_on_race(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    s1 = t.commit(df, mode="append")
    # a concurrent append lands after the rewrite derived its data
    t.commit(spark.range(100, 110).withColumnRenamed("id", "k"),
             mode="append")
    with pytest.raises(RuntimeError, match="parent moved"):
        t.commit(t.read(spark, s1).repartition(1), mode="compact",
                 require_parent=s1)
    # nothing was lost: the table still holds all 110 rows
    assert t.read(spark).count() == 110
    # a fresh compact (re-derived from the new current) succeeds
    t.compact(spark, target_files=1)
    assert t.read(spark).count() == 110


def _disk_data_files(root):
    return sorted(
        f"{d}/{f}"
        for d in os.listdir(root)
        if d.startswith("data-") and os.path.isdir(os.path.join(root, d))
        for f in os.listdir(os.path.join(root, d))
        if f.startswith("part-") and f.endswith(".parquet"))


def test_expire_collects_failed_commit_orphans(spark, tmp_path, monkeypatch):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 5))
    # a commit whose publish fails leaves data files behind, invisible to
    # readers but leaking disk
    real_link = os.link

    def boom(src, dst):
        raise OSError("simulated publish failure")

    monkeypatch.setattr(os, "link", boom)
    with pytest.raises(OSError, match="simulated"):
        t.commit(_batch(spark, 5, 9))
    monkeypatch.setattr(os, "link", real_link)
    live = set(t.manifest(1)["files"])
    orphans = set(_disk_data_files(t.path)) - live
    assert orphans, "the failed commit should have left data files"
    # within the grace window the orphans SURVIVE (an in-flight commit's
    # files look identical to a failed one's)
    res = t.expire_snapshots(keep_last=1, orphan_grace_sec=3600)
    assert res["deleted_files"] == [] and res["expired_snapshots"] == []
    assert set(_disk_data_files(t.path)) == live | orphans
    # past the grace window they are collected; live data is untouched
    res = t.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert sorted(orphans) == sorted(res["deleted_files"])
    assert set(_disk_data_files(t.path)) == live
    assert _rows(t.read(spark)) == _rows(_batch(spark, 0, 5))


def test_expire_retention_keeps_time_travel_within_window(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 5))                      # s1
    t.commit(_batch(spark, 5, 8))                      # s2
    t.commit(_batch(spark, 100, 103), mode="overwrite")  # s3
    t.commit(_batch(spark, 103, 105))                  # s4
    s1_only = set(t.manifest(1)["files"])
    res = t.expire_snapshots(keep_last=2, orphan_grace_sec=3600)
    assert res["expired_snapshots"] == [1, 2]
    # s1/s2's files (dropped by the s3 overwrite) are gone from disk
    assert not (set(_disk_data_files(t.path)) & s1_only)
    assert t.history() == [3, 4]
    # time travel WITHIN retention still works
    assert _rows(t.read(spark, 3)) == _rows(_batch(spark, 100, 103))
    assert _rows(t.read(spark)) == _rows(_batch(spark, 100, 105))
    # expired ids raise, like after Iceberg expiry
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read(spark, 2)
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def _shard_files(t):
    return sorted(f for f in os.listdir(os.path.join(t.path, "snapshots"))
                  if f.startswith("shard-") and f.endswith(".json"))


def test_sharded_manifest_roundtrip_and_reuse(spark, tmp_path):
    # shard_size 3 forces the tree layout on a tiny table: reads, time
    # travel and CDC must be byte-identical to the inline layout
    t = SnapshotTable(str(tmp_path / "t"), shard_size=3)
    t.commit(_batch(spark, 0, 5).repartition(4))   # ~4 files -> 1 shard + tail
    s2 = t.commit(_batch(spark, 5, 9).repartition(4))
    assert _rows(t.read(spark)) == _rows(_batch(spark, 0, 9))
    assert _rows(t.read(spark, 1)) == _rows(_batch(spark, 0, 5))
    assert _rows(t.read_appended(spark, since=1)) == _rows(_batch(spark, 5, 9))
    m1, m2 = t.manifest(1), t.manifest(s2)
    # root manifests stay bounded: inline tail < shard_size
    assert len(m1["files"]) < 3 and len(m2["files"]) < 3
    assert m1["file_shards"] and m2["file_shards"]
    # the child REUSES the parent's full shards by name (append cost is
    # the tail, not the table)
    assert m2["file_shards"][:len(m1["file_shards"])] == m1["file_shards"]
    # diff sees through the shards (added-count = what the commit
    # actually wrote, which can be < 4 if a repartition slot was empty)
    d = t.diff(1, s2)
    assert d["added"] == sorted(m2["added"]) and not d["removed"]


def test_sharded_expire_keeps_shared_shards(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), shard_size=2)
    t.commit(_batch(spark, 0, 4).repartition(4))
    t.commit(_batch(spark, 4, 8).repartition(4))
    t.commit(_batch(spark, 8, 10).repartition(2))
    before = _shard_files(t)
    assert before
    out = t.expire_snapshots(keep_last=2, orphan_grace_sec=0.0)
    assert out["expired_snapshots"] == [1]
    # snapshot 2 and 3 still read exactly; s1's shards survive because
    # s2/s3 REUSE them (shared-shard refcount against retained manifests)
    assert _rows(t.read(spark, 2)) == _rows(_batch(spark, 0, 8))
    assert _rows(t.read(spark)) == _rows(_batch(spark, 0, 10))
    with pytest.raises(ValueError):
        t.read(spark, 1)
    # an overwrite then aggressive expiry drops every old shard
    t.commit(_batch(spark, 100, 102).repartition(2), mode="overwrite")
    t.expire_snapshots(keep_last=1, orphan_grace_sec=0.0)
    kept = set(_shard_files(t))
    assert kept == set(t.manifest(t.current_snapshot_id())["file_shards"])
    assert _rows(t.read(spark)) == _rows(_batch(spark, 100, 102))


def test_schema_evolution_add_column(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 3))
    s2 = t.commit(_batch(spark, 3, 5).withColumn("score", F.lit(7)))
    # current read: old files surface NULL for the added column, no
    # footer scans (schema comes from the manifest)
    cur = t.read(spark)
    assert cur.columns == ["id", "val", "score"]
    got = {(r.id, r.score) for r in cur.collect()}
    assert got == {(0, None), (1, None), (2, None), (3, 7), (4, 7)}
    # time travel to BEFORE the add: the column does not exist there
    assert t.read(spark, 1).columns == ["id", "val"]
    # CDC over the widened window uses the window's newest schema
    assert t.read_appended(spark, since=1, until=s2).columns == [
        "id", "val", "score"]


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 3))
    bad = spark.createDataFrame([("5", "v5")], "id string, val string")
    with pytest.raises(ValueError, match="cannot change column 'id'"):
        t.commit(bad)
    # an explicit overwrite resets the schema instead
    t.commit(bad, mode="overwrite")
    assert t.read(spark).schema["id"].dataType.simpleString() == "string"


def test_schema_evolution_survives_compaction(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_batch(spark, 0, 3))
    t.commit(_batch(spark, 3, 5).withColumn("score", F.lit(7)))
    t.compact(spark, target_files=1)
    got = {(r.id, r.score) for r in t.read(spark).collect()}
    assert got == {(0, None), (1, None), (2, None), (3, 7), (4, 7)}
