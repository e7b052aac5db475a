"""Manifest-level data skipping + change data feed (r13).

Pins: per-file min/max stats collected from parquet footers at publish
time, inheritance through appends (the streaming-sink path), pruned
``where=`` reads that drop files BEFORE the scan is planned while the
real predicate keeps the result exact, range-clustered compaction
restoring prunability on interleaved tables, stats carry-through on
DML — and ``snapshot_changes``: O(new-data) append fast path,
multiset diff on rewrites, zero rows for compaction, refusals on
vacuumed history and type-changing ranges.
"""

from __future__ import annotations

import datetime
import os
import time

import pytest

from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(1)


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_stats_recorded_and_pruned_read(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), tbl, stats_columns=["id"])
    # appends INHERIT the table's stats columns — nothing re-declared,
    # which is exactly how the streaming sink's batches stay covered
    for lo in (10, 20, 30):
        W.write_parquet_snapshot(
            _df(spark, lo, lo + 10), tbl, mode="append"
        )
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert snap["stats_columns"] == ["id"]
    assert len(snap["files"]) == 4
    assert set(snap["stats"]) == set(snap["files"])
    ranges = sorted(s["id"] for s in snap["stats"].values())
    assert ranges == [[0, 9], [10, 19], [20, 29], [30, 39]]

    pruned = W.read_parquet_snapshot(spark, tbl, where={"id": (12, 18)})
    assert len(pruned.inputFiles()) == 1
    assert _ids(pruned) == list(range(12, 19))  # inclusive both sides

    eq = W.read_parquet_snapshot(spark, tbl, where={"id": 35})
    assert len(eq.inputFiles()) == 1 and _ids(eq) == [35]

    spanning = W.read_parquet_snapshot(spark, tbl, where={"id": (18, 22)})
    assert len(spanning.inputFiles()) == 2
    assert _ids(spanning) == list(range(18, 23))

    # open-ended ranges prune one side
    tail = W.read_parquet_snapshot(spark, tbl, where={"id": (30, None)})
    assert len(tail.inputFiles()) == 1 and _ids(tail) == list(range(30, 40))
    head = W.read_parquet_snapshot(spark, tbl, where={"id": (None, 5)})
    assert len(head.inputFiles()) == 1 and _ids(head) == list(range(6))

    # a range outside every file is exactly empty, schema intact
    none = W.read_parquet_snapshot(spark, tbl, where={"id": (100, 200)})
    assert none.count() == 0 and none.columns == ["id", "v"]

    # unpruned read still sees everything
    assert len(W.read_parquet_snapshot(spark, tbl).inputFiles()) == 4

    with pytest.raises(ValueError, match="not in the snapshot schema"):
        W.read_parquet_snapshot(spark, tbl, where={"nope": 1})
    with pytest.raises(ValueError, match="unbounded on both sides"):
        W.read_parquet_snapshot(spark, tbl, where={"id": (None, None)})
    with pytest.raises(ValueError, match="NULL never equals"):
        W.read_parquet_snapshot(spark, tbl, where={"id": None})
    with pytest.raises(ValueError, match="not in the written schema"):
        W.write_parquet_snapshot(_df(spark, 0, 1), tbl, stats_columns=["zz"])


def test_append_stats_columns_typo_refuses(spark, tmp_path):
    """Review r13: an explicit stats_columns typo on an APPEND used to
    commit silently as the table's inherited stats set — skipping then
    never pruned and never errored."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl, stats_columns=["id"])
    with pytest.raises(ValueError, match="not in the table schema"):
        W.write_parquet_snapshot(
            _df(spark, 5, 10), tbl, mode="append", stats_columns=["idd"]
        )
    # the refused attempt changed nothing
    assert W.list_parquet_snapshots(tbl)[-1]["stats_columns"] == ["id"]


def test_timestamp_stats_never_prune_wrongly(spark, tmp_path):
    """Review r13: Spark's default parquet timestamps are UTC-adjusted
    (tz-aware footer stats) while the read filter resolves a naive bound
    in the SESSION timezone — comparing them could prune a matching
    file. Such columns record NO stats (conservative), and the where=
    read stays exact via the real predicate."""
    import datetime

    tbl = str(tmp_path / "tbl")
    for lo in (0, 10):
        df = spark.range(lo, lo + 10).selectExpr(
            "id",
            "timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,"
            "cast(id AS int),0,0) AS ts",
        ).coalesce(1)
        W.write_parquet_snapshot(
            df, tbl,
            mode="append" if lo else "overwrite",
            stats_columns=["ts", "id"] if not lo else None,
        )
    snap = W.list_parquet_snapshots(tbl)[-1]
    # id stats recorded; tz-ambiguous ts stats deliberately absent
    for entry in snap["stats"].values():
        assert "id" in entry and "ts" not in entry
    got = W.read_parquet_snapshot(
        spark, tbl,
        where={"ts": (datetime.datetime(2020, 1, 1, 12, 0),
                      datetime.datetime(2020, 1, 1, 15, 0))},
    )
    assert len(got.inputFiles()) == 2  # nothing pruned on ts
    assert _ids(got) == [12, 13, 14, 15]


def test_where_is_exact_without_stats(spark, tmp_path):
    """Stats are an optimization, never the correctness mechanism: a
    table that never declared stats_columns filters exactly and keeps
    every file."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), tbl)
    W.write_parquet_snapshot(_df(spark, 10, 20), tbl, mode="append")
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert "stats" not in snap and "stats_columns" not in snap
    got = W.read_parquet_snapshot(spark, tbl, where={"id": (5, 14)})
    assert len(got.inputFiles()) == 2  # nothing to prune with
    assert _ids(got) == list(range(5, 15))


def test_date_stats_prune(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        df = spark.range(lo, lo + 10).selectExpr(
            "id", "date_add(date'2020-01-01', cast(id AS int)) AS d"
        ).coalesce(1)
        W.write_parquet_snapshot(
            df, tbl,
            mode="append" if lo else "overwrite",
            stats_columns=["d"] if not lo else None,
        )
    pruned = W.read_parquet_snapshot(
        spark, tbl,
        where={"d": (datetime.date(2020, 1, 13), datetime.date(2020, 1, 17))},
    )
    assert len(pruned.inputFiles()) == 1
    assert _ids(pruned) == list(range(12, 17))


def test_clustered_compaction_restores_pruning(spark, tmp_path):
    """A streaming-shaped table (every file spans the full key range)
    prunes nothing; OPTIMIZE-style clustered compaction makes the files
    range-disjoint and the same read prunes to one file."""
    tbl = str(tmp_path / "tbl")
    for i in range(4):  # interleaved: file i holds ids i, i+4, i+8, ...
        df = spark.createDataFrame(
            [(j, j * 2) for j in range(i, 40, 4)], schema="id long, v long"
        ).coalesce(1)
        W.write_parquet_snapshot(
            df, tbl,
            mode="append" if i else "overwrite",
            stats_columns=["id"] if not i else None,
        )
    before = W.read_parquet_snapshot(spark, tbl, where={"id": (0, 3)})
    assert len(before.inputFiles()) == 4  # every range overlaps
    assert _ids(before) == [0, 1, 2, 3]

    res = W.compact_parquet_snapshot(
        spark, tbl, target_files=4, cluster_by=["id"]
    )
    # files_before == target_files, yet cluster_by forces the rewrite
    assert res["compacted"] is True and res["rows"] == 40
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert snap["mode"] == "compact" and snap["stats_columns"] == ["id"]
    # clustered files carry DISJOINT ranges
    spans = sorted(s["id"] for s in snap["stats"].values())
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo
    after = W.read_parquet_snapshot(spark, tbl, where={"id": (0, 3)})
    assert len(after.inputFiles()) < 4
    assert _ids(after) == [0, 1, 2, 3]

    with pytest.raises(ValueError, match="not in the snapshot schema"):
        W.compact_parquet_snapshot(spark, tbl, cluster_by=["zz"])

    # a range clustering bounds only its LEADING column: on decorrelated
    # dimensions the second one spans its full range in every file, so a
    # where= read on it must open every file
    tbl2 = str(tmp_path / "tbl2")
    rows = [(i, (i * 7) % 40) for i in range(40)]
    W.write_parquet_snapshot(
        spark.createDataFrame(rows, schema="id long, g long").coalesce(1),
        tbl2, stats_columns=["id", "g"],
    )
    W.compact_parquet_snapshot(spark, tbl2, target_files=4, cluster_by=["id"])
    n_files = len(W.list_parquet_snapshots(tbl2)[-1]["files"])
    assert n_files > 1
    by_id = W.read_parquet_snapshot(spark, tbl2, where={"id": (8, 8)})
    assert len(by_id.inputFiles()) == 1 and _ids(by_id) == [8]
    by_g = W.read_parquet_snapshot(spark, tbl2, where={"g": (8, 8)})
    assert len(by_g.inputFiles()) == n_files
    assert _ids(by_g) == [i for i, g in rows if g == 8]


def test_evolved_table_stats_and_pruned_merge_read(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(
        _df(spark, 0, 10), tbl, stats_columns=["id"]
    )
    wide = spark.range(10, 20).selectExpr(
        "id", "id * 2 AS v", "id * 10 AS w"
    ).coalesce(1)
    W.write_parquet_snapshot(
        wide, tbl, mode="append", allow_schema_evolution=True,
        stats_columns=["id", "w"],
    )
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert snap["evolved"] and snap["stats_columns"] == ["id", "w"]
    # pruning on the EVOLVED column: the pre-evolution file has no w
    # stats, so it is conservatively kept — the real filter drops its
    # null-w rows and the answer stays exact
    got = W.read_parquet_snapshot(spark, tbl, where={"w": (100, 120)})
    assert _ids(got) == [10, 11, 12]
    # pruning to ONLY the pre-evolution file: no surviving file carries
    # w at all — the merge-read pads it with typed nulls
    old = W.read_parquet_snapshot(spark, tbl, where={"id": (0, 5)})
    assert len(old.inputFiles()) == 1
    assert old.columns == ["id", "v", "w"]
    assert all(r.w is None for r in old.collect())
    assert _ids(old) == list(range(6))


def test_dml_and_restore_carry_stats(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), tbl, stats_columns=["id"])

    W.delete_from_snapshot(spark, tbl, "id >= 5 and id <= 49")
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert snap["mode"] == "delete" and snap["stats_columns"] == ["id"]
    assert set(snap["stats"]) == set(snap["files"])
    pruned = W.read_parquet_snapshot(spark, tbl, where={"id": 3})
    assert [(r.id, r.v) for r in pruned.collect()] == [(3, 6)]

    # an append after the DML inherits the recomputed stats columns
    W.write_parquet_snapshot(
        spark.createDataFrame([(50, 100)], schema="id long, v long").coalesce(1),
        tbl, mode="append",
    )
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert snap["stats_columns"] == ["id"]
    assert set(snap["stats"]) == set(snap["files"])
    pruned = W.read_parquet_snapshot(spark, tbl, where={"id": 50})
    assert [(r.id, r.v) for r in pruned.collect()] == [(50, 100)]
    assert _ids(W.read_parquet_snapshot(spark, tbl, where={"id": (3, 50)})) \
        == [3, 4, 50]


def test_streaming_sink_stats_and_clustered_compaction(spark, tmp_path):
    """The full streaming story: the sink's first batch declares the
    skip columns, later batches inherit them, and the folded compaction
    re-clusters — so a where= read of the grown table stays pruned."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _df(spark, 0, 5).write.mode("append").parquet(src)
    first = set(os.listdir(src))
    for n in first:
        os.utime(os.path.join(src, n), (1_700_000_000, 1_700_000_000))
    _df(spark, 5, 10).write.mode("append").parquet(src)
    for n in set(os.listdir(src)) - first:
        os.utime(os.path.join(src, n), (1_700_000_100, 1_700_000_100))

    tbl = str(tmp_path / "tbl")
    q = W.streaming_snapshot_sink(
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tbl,
        str(tmp_path / "ckpt"),
        compact_every=2,
        target_files=2,
        stats_columns=["id"],
        cluster_by=["id"],
    ).start()
    assert q.awaitTermination(120), "stream drain timed out"

    snap = W.list_parquet_snapshots(tbl)[-1]
    assert snap["mode"] == "compact" and snap["stats_columns"] == ["id"]
    spans = sorted(s["id"] for s in snap["stats"].values())
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo
    pruned = W.read_parquet_snapshot(spark, tbl, where={"id": (0, 2)})
    assert len(pruned.inputFiles()) < len(snap["files"]) or \
        len(snap["files"]) == 1
    assert _ids(pruned) == [0, 1, 2]
    assert _ids(W.read_parquet_snapshot(spark, tbl)) == list(range(10))


def _shallow_clone(src: str, dst: str) -> None:
    """Publish at ``dst`` the v1 manifest a shallow clone of ``src``
    has on disk: the source's latest file list, schema, evolved flag and
    stats under mode ``clone``. Such tables may still be on disk, so
    reads, the change feed, compaction and vacuum keep handling them."""
    m = W._latest_manifest(src)
    payload = {
        k: m[k]
        for k in ("files", "rows", "schema", "evolved", "stats_columns", "stats")
        if k in m
    }
    payload.update(
        version=1, mode="clone", published_utc=time.time(),
        cloned_from={"path": W._local_path(src), "version": m["version"]},
    )
    os.makedirs(os.path.join(dst, "_snapshots"))
    assert W._link_manifest(dst, 1, payload)


def test_shallow_clone(spark, tmp_path):
    """A zero-copy table fork on disk: the clone reads the source state
    (stats included), diverges independently into its OWN data root,
    and neither table's vacuum can delete the other's bytes."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    W.write_parquet_snapshot(_df(spark, 0, 10), src, stats_columns=["id"])
    W.write_parquet_snapshot(_df(spark, 10, 20), src, mode="append")

    _shallow_clone(src, dst)
    assert _ids(W.read_parquet_snapshot(spark, dst)) == list(range(20))
    # stats came along: the pruned read plans one file
    pruned = W.read_parquet_snapshot(spark, dst, where={"id": (2, 5)})
    assert len(pruned.inputFiles()) == 1 and _ids(pruned) == [2, 3, 4, 5]

    # divergence: the clone's append lands in ITS data root and never
    # perturbs the source
    W.write_parquet_snapshot(_df(spark, 100, 103), dst, mode="append")
    assert _ids(W.read_parquet_snapshot(spark, dst)) == list(range(20)) + [
        100, 101, 102
    ]
    assert _ids(W.read_parquet_snapshot(spark, src)) == list(range(20))

    # the ownership rule: a clone vacuum that drops the cloned manifest
    # must NOT delete the source's bytes
    W.write_parquet_snapshot(_df(spark, 200, 202), dst)  # dst v3 overwrite
    out = W.vacuum_parquet_snapshots(dst, keep=1, orphan_grace_sec=0)
    # dst's own appended file was reclaimed; the source's two were not
    assert out["dropped_versions"] == [1, 2]
    assert out["removed_files"] == 1
    assert _ids(W.read_parquet_snapshot(spark, src)) == list(range(20))


def test_clone_of_evolved_table_feeds_real_values(spark, tmp_path):
    """Review r13: a clone's v1 inherits the source's EVOLVED
    mixed-schema file list — the feed's v1 initial-content read must
    merge-read it, not sample one pre-evolution footer and null out the
    evolved column for every row."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    W.write_parquet_snapshot(_df(spark, 0, 3), src)
    wide = spark.range(3, 6).selectExpr(
        "id", "id * 2 AS v", "id * 10 AS w"
    ).coalesce(1)
    W.write_parquet_snapshot(
        wide, src, mode="append", allow_schema_evolution=True
    )
    _shallow_clone(src, dst)
    rows = {r.id: r.w for r in W.snapshot_changes(spark, dst, 0).collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40, 5: 50}


def test_clone_materialization_survives_source_vacuum(spark, tmp_path):
    """compact_parquet_snapshot(dst, force=True) rewrites a clone into
    its own data root — after that the source can vacuum freely."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    W.write_parquet_snapshot(_df(spark, 0, 8), src)
    _shallow_clone(src, dst)
    # the feed/stream v1-initial-content rule covers mode 'clone'
    rows = W.snapshot_changes(spark, dst, 0).collect()
    assert sorted(r.id for r in rows if r._commit_version == 1) == list(
        range(8)
    )
    # force=True: a single-file clone would otherwise NO-OP and keep
    # silently referencing the source's bytes
    noop = W.compact_parquet_snapshot(spark, dst, target_files=1)
    assert noop["compacted"] is False
    res = W.compact_parquet_snapshot(spark, dst, target_files=1, force=True)
    assert res["compacted"] is True
    W.vacuum_parquet_snapshots(dst, keep=1, orphan_grace_sec=0)
    # source rewritten then vacuumed: its original files are gone
    W.write_parquet_snapshot(_df(spark, 50, 52), src)
    W.vacuum_parquet_snapshots(src, keep=1, orphan_grace_sec=0)
    assert _ids(W.read_parquet_snapshot(spark, dst)) == list(range(8))


def test_vacuum_ownership_guard_normalizes_spelling(spark, tmp_path):
    """Review r13: the ownership guard compares ABSOLUTE normalized
    paths — a vacuum invoked with a differently-SPELLED path to the
    same table (./ segments, redundant separators) must still reclaim
    the table's own dropped files, not silently skip them as foreign.
    (Relative paths are resolved against the calling process's cwd —
    pass the same spelling writes used, preferably absolute.)"""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl)
    W.write_parquet_snapshot(_df(spark, 5, 8), tbl)  # v2 overwrite
    spelled = str(tmp_path) + "/./tbl"
    out = W.vacuum_parquet_snapshots(spelled, keep=1, orphan_grace_sec=0)
    assert out["dropped_versions"] == [1]
    assert out["removed_files"] == 1


# --------------------------------------------------------------------------
# snapshot_changes — the change data feed
# --------------------------------------------------------------------------


def _changes(spark, tbl, lo, hi=None):
    return W.snapshot_changes(spark, tbl, lo, hi)


def test_change_feed_from_the_beginning(spark, tmp_path):
    """Review r13: from_version=0 serves the whole history — v1's full
    content as inserts at commit version 1, whatever mode published it
    (incl. a streaming sink's first batch, which is an APPEND with no
    v0 to diff against)."""
    tbl = str(tmp_path / "tbl")
    assert W.snapshot_publish_batch(_df(spark, 0, 4), 0, tbl) is True
    assert W.snapshot_publish_batch(_df(spark, 4, 6), 1, tbl) is True
    rows = W.snapshot_changes(spark, tbl, 0).collect()
    assert all(r._change_type == "insert" for r in rows)
    assert {r.id: r._commit_version for r in rows} == {
        **{i: 1 for i in range(4)},
        **{i: 2 for i in range(4, 6)},
    }
    with pytest.raises(ValueError, match="from_version must be >= 0"):
        W.snapshot_changes(spark, tbl, -1)
    with pytest.raises(ValueError, match="to_version must be >= 1"):
        W.snapshot_changes(spark, tbl, 0, 0)


def test_change_feed_append_fast_path(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), tbl)
    W.write_parquet_snapshot(_df(spark, 10, 15), tbl, mode="append")
    W.write_parquet_snapshot(_df(spark, 15, 20), tbl, mode="append")
    feed = _changes(spark, tbl, 1)
    rows = feed.collect()
    assert all(r._change_type == "insert" for r in rows)
    assert {r.id: r._commit_version for r in rows} == {
        **{i: 2 for i in range(10, 15)},
        **{i: 3 for i in range(15, 20)},
    }
    # O(new data): the feed's plan never touches v1's files (Spark's
    # file: URIs and the manifest's names compared canonically)
    v1 = W.list_parquet_snapshots(tbl)[0]
    v1_files = set(map(W._local_path, v1["files"]))
    assert not (set(map(W._local_path, feed.inputFiles())) & v1_files)

    # from == to ⇒ empty, schema intact
    empty = _changes(spark, tbl, 3)
    assert empty.count() == 0
    assert empty.columns == ["id", "v", "_change_type", "_commit_version"]


def test_change_feed_rewrites_and_compact(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl)  # v1: ids 0-4
    rewritten = spark.createDataFrame(
        [(0, 0), (1, 999), (2, 4), (3, 6), (4, 8), (10, 20)],
        schema="id long, v long",
    )
    W.write_parquet_snapshot(rewritten, tbl)  # v2: overwrite
    W.compact_parquet_snapshot(spark, tbl, target_files=1)  # v3
    W.delete_from_snapshot(spark, tbl, "id % 2 = 0")  # v4: drops 0,2,4,10

    feed = _changes(spark, tbl, 1).collect()
    by_version: dict[int, list] = {}
    for r in feed:
        by_version.setdefault(r._commit_version, []).append(
            (r._change_type, r.id, r.v)
        )
    # v2: the update is a delete+insert pair, the new key an insert
    assert sorted(by_version[2]) == [
        ("delete", 1, 2), ("insert", 1, 999), ("insert", 10, 20)
    ]
    # v3 (compact) contributes nothing
    assert 3 not in by_version
    # v4: pure deletes
    assert sorted(by_version[4]) == [
        ("delete", 0, 0), ("delete", 2, 4), ("delete", 4, 8),
        ("delete", 10, 20),
    ]
    # a consumer at v1 applying the feed lands exactly on v4
    assert _ids(W.read_parquet_snapshot(spark, tbl)) == [1, 3]


def test_change_feed_restore_and_evolution(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)  # v1
    wide = spark.range(3, 6).selectExpr(
        "id", "id * 2 AS v", "id * 10 AS w"
    ).coalesce(1)
    W.write_parquet_snapshot(
        wide, tbl, mode="append", allow_schema_evolution=True
    )  # v2 (evolved)
    W.delete_from_snapshot(spark, tbl, "id >= 3")  # v3: drop the append

    feed = _changes(spark, tbl, 1)
    assert feed.columns == ["id", "v", "w", "_change_type", "_commit_version"]
    rows = feed.collect()
    v2 = sorted(
        (r.id, r.w) for r in rows if r._commit_version == 2
    )
    assert v2 == [(3, 30), (4, 40), (5, 50)]  # evolved inserts carry w
    v3 = sorted(
        (r._change_type, r.id, r.w) for r in rows if r._commit_version == 3
    )
    # the delete removes exactly what the append inserted; the narrow
    # rows it rewrites with a null w are not changes
    assert v3 == [("delete", 3, 30), ("delete", 4, 40), ("delete", 5, 50)]


def test_change_feed_omitting_evolution_append(spark, tmp_path):
    """The OMIT direction of schema evolution through the feed: the
    append's new files carry FEWER columns than the widened manifest —
    the fast path must pad from the files' own columns, not assume the
    manifest schema exists in them."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)  # v1: id, v
    only_id = spark.range(3, 6).select("id").coalesce(1)
    W.write_parquet_snapshot(
        only_id, tbl, mode="append", allow_schema_evolution=True
    )  # v2: manifest still (id, v); new files carry only id
    rows = sorted(
        (r.id, r.v) for r in _changes(spark, tbl, 1).collect()
    )
    assert rows == [(3, None), (4, None), (5, None)]


def test_change_feed_where_prunes_and_filters(spark, tmp_path):
    """where= on the feed: the append fast path reads ONLY files whose
    stats can match; rewrite diffs filter both sides (sound: a per-row
    predicate commutes with the multiset diff); versions predating a
    where column contribute nothing."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), tbl, stats_columns=["id"])
    W.write_parquet_snapshot(_df(spark, 10, 20), tbl, mode="append")
    W.write_parquet_snapshot(_df(spark, 20, 30), tbl, mode="append")

    feed = W.snapshot_changes(spark, tbl, 1, where={"id": (12, 14)})
    assert sorted(r.id for r in feed.collect()) == [12, 13, 14]
    # stats-pruned: only the [10,20) append's file is ever read
    v3 = W.list_parquet_snapshots(tbl)[-1]
    matching = {
        W._local_path(f) for f, s in v3["stats"].items() if s["id"] == [10, 19]
    }
    assert set(map(W._local_path, feed.inputFiles())) == matching

    # across a rewrite: only matching delete rows survive the filter
    W.delete_from_snapshot(spark, tbl, "id % 2 = 0")  # v4
    rows = W.snapshot_changes(
        spark, tbl, 3, where={"id": (4, 7)}
    ).collect()
    assert sorted((r._change_type, r.id) for r in rows) == [
        ("delete", 4), ("delete", 6)
    ]

    with pytest.raises(ValueError, match="not in the feed schema"):
        W.snapshot_changes(spark, tbl, 1, where={"zz": 1})


def test_change_feed_where_on_evolved_column(spark, tmp_path):
    """A where on a column added by evolution: versions predating it
    contribute nothing (NULL matches no range), the evolution version's
    inserts filter normally."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl)  # v1: id, v
    wide = spark.range(5, 10).selectExpr(
        "id", "id * 2 AS v", "id * 10 AS w"
    ).coalesce(1)
    W.write_parquet_snapshot(
        wide, tbl, mode="append", allow_schema_evolution=True
    )  # v2
    W.write_parquet_snapshot(_df(spark, 10, 12), tbl)  # v3: narrow OVERWRITE
    feed = W.snapshot_changes(spark, tbl, 0, where={"w": (60, 80)})
    rows = sorted((r._change_type, r.id, r._commit_version)
                  for r in feed.collect())
    # v1 rows have no w (nothing), v2 inserts filter to w∈[60,80],
    # v3's overwrite diff deletes exactly those same matching rows
    assert rows == [
        ("delete", 6, 3), ("delete", 7, 3), ("delete", 8, 3),
        ("insert", 6, 2), ("insert", 7, 2), ("insert", 8, 2),
    ]


def test_change_feed_refusals(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)
    W.write_parquet_snapshot(_df(spark, 3, 6), tbl, mode="append")
    with pytest.raises(ValueError, match="from_version 3 > to_version 2"):
        W.snapshot_changes(spark, tbl, 3, 2)
    with pytest.raises(ValueError, match="beyond the latest"):
        W.snapshot_changes(spark, tbl, 1, 7)

    # vacuumed history: the diff base is gone — refuse by name
    W.write_parquet_snapshot(_df(spark, 0, 2), tbl)  # v3 overwrite
    W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    with pytest.raises(ValueError, match="v2 not found"):
        W.snapshot_changes(spark, tbl, 2)

    # a type-changing overwrite splits the feed
    tbl2 = str(tmp_path / "tbl2")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl2)
    W.write_parquet_snapshot(
        spark.createDataFrame([("a", 1)], schema="id string, v long"), tbl2
    )
    with pytest.raises(ValueError, match="changes dtype"):
        W.snapshot_changes(spark, tbl2, 1)

    # reserved metadata names can't be table columns in a feed
    tbl3 = str(tmp_path / "tbl3")
    W.write_parquet_snapshot(
        spark.createDataFrame([(1, "x")], schema="id long, _change_type string"),
        tbl3,
    )
    with pytest.raises(ValueError, match="collides"):
        W.snapshot_changes(spark, tbl3, 1)


def _strip_manifest_key(tbl, version, key):
    import json

    mpath = os.path.join(tbl, "_snapshots", f"v{version:08d}.json")
    with open(mpath) as fh:
        m = json.load(fh)
    del m[key]
    with open(mpath, "w") as fh:
        json.dump(m, fh)


def test_clustered_compact_validates_on_preschema_manifest(spark, tmp_path):
    """ADVICE r13: cluster_by validation (unknown columns) must still
    fire on a legacy manifest that records no schema — resolved from the
    file footers (plan-only dtypes probe) instead of silently skipping
    straight to a mid-job-failing rewrite."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 6), tbl)
    _strip_manifest_key(tbl, 1, "schema")
    with pytest.raises(ValueError, match="not in the snapshot schema"):
        W.compact_parquet_snapshot(spark, tbl, cluster_by=["nope"])
    # a VALID clustered compaction still works without a recorded schema
    res = W.compact_parquet_snapshot(
        spark, tbl, target_files=2, cluster_by=["id"]
    )
    assert res["compacted"] and res["files_after"] == 2
    assert _ids(W.read_parquet_snapshot(spark, tbl)) == list(range(6))


def test_pruning_refuses_date_vs_datetime_shape_mix():
    """Review r14: dates serialize as '2020-01-02' and naive datetimes
    as '2020-01-02T00:00:00'; the two shapes order inconsistently as
    raw strings ('...T00:00:00' > '...'), so a date bound on a
    timestamp-stats column could prune a file whose midnight row the
    real predicate (which promotes the date to midnight) matches. A
    cross-shape comparison must answer KEEP; same-shape comparisons
    still prune."""
    ts_stats = {"ts": ["2020-01-02T00:00:00", "2020-01-05T00:00:00"]}
    # date bound, timestamp stats: upper bound exactly at the file's
    # midnight min — lexicographically "above" it, semantically EQUAL
    assert W._file_may_match(ts_stats, "ts", None, "2020-01-02") is True
    # mirror: date stats, datetime bound at the file's midnight max
    d_stats = {"d": ["2020-01-01", "2020-01-02"]}
    assert W._file_may_match(d_stats, "d", "2020-01-02T00:00:00", None) is True
    # same-shape comparisons still prune as before
    assert W._file_may_match(ts_stats, "ts", None, "2020-01-01T23:59:59") is False
    assert W._file_may_match(d_stats, "d", "2020-01-03", None) is False
    # plain strings that don't look like dates are untouched
    s_stats = {"s": ["apple", "pear"]}
    assert W._file_may_match(s_stats, "s", "zebra", None) is False
