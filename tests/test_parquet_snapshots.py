"""Snapshot-versioned parquet tables (r10) — MVCC manifests over plain
parquet, the one commit protocol for persisted state: a manifest
publish is the commit, so readers never see a directory mid-rewrite.

Pins: version monotonicity, overwrite vs manifest-level append (appends
never rewrite existing bytes), time travel, reader isolation from a
concurrent publish, crashed-writer invisibility, version-claim races
failing safe, no zero-row part files in a manifest, and vacuum
(referenced files survive — in nested partition directories too —
orphans and dropped versions go).
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
    write_ordered_files,
)
from tests.fixtures import jobs_during


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_snapshot_write_read_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = W.write_parquet_snapshot(_df(spark, 0, 10), path)
    v2 = W.write_parquet_snapshot(_df(spark, 100, 105), path)  # overwrite
    assert (v1, v2) == (1, 2)
    latest = W.read_parquet_snapshot(spark, path)
    assert sorted(r.id for r in latest.collect()) == list(range(100, 105))
    old = W.read_parquet_snapshot(spark, path, version=1)
    assert sorted(r.id for r in old.collect()) == list(range(10))
    snaps = W.list_parquet_snapshots(path)
    assert [s["version"] for s in snaps] == [1, 2]
    assert snaps[0]["rows"] == 10 and snaps[1]["rows"] == 5
    with pytest.raises(ValueError, match="v7 not found"):
        W.read_parquet_snapshot(spark, path, version=7)


def test_snapshot_append_is_manifest_level(spark, tmp_path):
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), path)
    files_v1 = set(W.list_parquet_snapshots(path)[-1]["files"])
    mtimes = {
        f: os.path.getmtime(f.removeprefix("file:")) for f in files_v1
    }
    v2 = W.write_parquet_snapshot(_df(spark, 10, 15), path, mode="append")
    assert v2 == 2
    snap2 = W.list_parquet_snapshots(path)[-1]
    # the append SHARES v1's files forward and rewrites none of them
    assert files_v1 < set(snap2["files"])
    for f, m in mtimes.items():
        assert os.path.getmtime(f.removeprefix("file:")) == m
    assert snap2["rows"] == 15
    got = sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    )
    assert got == list(range(15))
    # v1 unchanged under time travel
    assert sorted(
        r.id
        for r in W.read_parquet_snapshot(spark, path, version=1).collect()
    ) == list(range(10))


def test_snapshot_reader_isolated_from_concurrent_publish(spark, tmp_path):
    """A reader that resolved version N keeps scanning N's immutable
    files even while version N+1 publishes — the exact window the
    staged swap cannot protect."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), path)
    reader = W.read_parquet_snapshot(spark, path)  # resolves v1's files
    W.write_parquet_snapshot(_df(spark, 500, 503), path)  # v2 overwrite
    assert sorted(r.id for r in reader.collect()) == list(range(10))


def test_snapshot_crashed_writer_invisible_and_vacuumed(spark, tmp_path):
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), path)
    # simulate a writer that crashed after its data write, before its
    # manifest publish: a data dir no manifest references
    orphan = os.path.join(path, "data", "v00000099-deadbeef")
    _df(spark, 900, 905).write.parquet(orphan)
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(10))
    # within the grace window the dir is treated as a possibly
    # IN-FLIGHT writer's data and left alone (review r10)
    safe = W.vacuum_parquet_snapshots(path, keep=1)
    assert "v00000099-deadbeef" not in safe["removed_orphan_dirs"]
    assert os.path.exists(orphan)
    stats = W.vacuum_parquet_snapshots(path, keep=1, orphan_grace_sec=0)
    assert "v00000099-deadbeef" in stats["removed_orphan_dirs"]
    assert not os.path.exists(orphan)
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(10))


def test_snapshot_version_race_fails_safe(spark, tmp_path):
    """A concurrent writer claiming the next version first must push
    this writer to the following version — and an APPEND that lost the
    race re-reads the new latest, so the winner's rows are never
    dropped from the union."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), path)
    # simulate the interleaved winner: plant a valid v2 manifest that
    # adds nothing (a copy of v1's) — exactly what list_parquet_snapshots
    # will see when our append goes to publish
    snapdir = os.path.join(path, W._SNAP_DIR)
    with open(os.path.join(snapdir, "v00000001.json")) as fh:
        v1 = json.load(fh)
    v2 = dict(v1, version=2)
    with open(os.path.join(snapdir, "v00000002.json"), "w") as fh:
        json.dump(v2, fh)
    got = W.write_parquet_snapshot(_df(spark, 10, 12), path, mode="append")
    assert got == 3
    snap3 = W.list_parquet_snapshots(path)[-1]
    assert set(v2["files"]) < set(snap3["files"])
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(12))


def test_snapshot_vacuum_drops_old_unshared_keeps_shared(spark, tmp_path):
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), path)          # v1
    W.write_parquet_snapshot(_df(spark, 10, 15), path, "append")  # v2
    W.write_parquet_snapshot(_df(spark, 700, 702), path)       # v3 overwrite
    stats = W.vacuum_parquet_snapshots(path, keep=1)
    assert stats["dropped_versions"] == [1, 2]
    # v1/v2's files are unreferenced by v3 -> physically gone
    assert stats["removed_files"] > 0
    assert [s["version"] for s in W.list_parquet_snapshots(path)] == [3]
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == [700, 701]
    with pytest.raises(ValueError, match="not found"):
        W.read_parquet_snapshot(spark, path, version=1)
    # shared-forward case: append then vacuum keep=1 — the shared v-old
    # files must SURVIVE because the kept version references them
    path2 = str(tmp_path / "tbl2")
    W.write_parquet_snapshot(_df(spark, 0, 10), path2)
    W.write_parquet_snapshot(_df(spark, 10, 15), path2, "append")
    W.vacuum_parquet_snapshots(path2, keep=1)
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path2).collect()
    ) == list(range(15))


def test_streaming_snapshot_sink_exactly_once_publish(spark, tmp_path):
    """The streaming sink must publish ONE version per micro-batch
    (manifest stamped with the batch id), re-process nothing on a
    checkpointed restart, and treat a replayed (batch_df, batch_id) —
    the foreachBatch mid-batch-crash shape — as a no-op."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _df(spark, 0, 5).coalesce(1).write.mode("append").parquet(src)
    # explicit mtimes, not a sleep: deterministic file order even on a
    # 1s-mtime-granularity filesystem (ADVICE r10)
    first = set(os.listdir(src))
    for n in first:
        os.utime(os.path.join(src, n), (1_700_000_000, 1_700_000_000))
    _df(spark, 5, 8).coalesce(1).write.mode("append").parquet(src)
    for n in set(os.listdir(src)) - first:
        os.utime(os.path.join(src, n), (1_700_000_100, 1_700_000_100))

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = W.streaming_snapshot_sink(
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl,
            ckpt,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"

    drain()
    snaps = W.list_parquet_snapshots(tbl)
    assert [s["version"] for s in snaps] == [1, 2]
    assert [s["src_batch"] for s in snaps] == [0, 1]
    got = sorted(r.id for r in W.read_parquet_snapshot(spark, tbl).collect())
    assert got == list(range(8))
    # time travel to the first batch's table state
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl, version=1).collect()
    ) == list(range(5))

    # restart over the same checkpoint: nothing re-processed
    drain()
    assert [s["version"] for s in W.list_parquet_snapshots(tbl)] == [1, 2]

    # a replayed batch (the newest id, its own rows) is a publish no-op
    # even without the stream checkpoint's help; an id below the mark
    # is a restarted stream, refused
    assert W.snapshot_publish_batch(_df(spark, 5, 8), 1, tbl) is False
    with pytest.raises(ValueError, match="below"):
        W.snapshot_publish_batch(_df(spark, 0, 5), 0, tbl)
    assert [s["version"] for s in W.list_parquet_snapshots(tbl)] == [1, 2]
    # a genuinely new batch id still publishes
    assert W.snapshot_publish_batch(_df(spark, 8, 9), 7, tbl) is True
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == list(range(9))


def test_jobs_during_counts_a_drained_streams_publishes(spark, tmp_path):
    """A stream drained inside ``jobs_during`` runs its micro-batches on
    the stream's own thread, under the stream's job group; the count
    still includes them: here the two ``foreachBatch`` publishes, one
    write job each. A streaming query already running when the count
    starts is refused, since its jobs would be counted too."""
    src, tbl = str(tmp_path / "src"), str(tmp_path / "tbl")
    write_ordered_files(src, [_df(spark, 0, 5), _df(spark, 5, 8)])

    def drain():
        q = W.streaming_snapshot_sink(
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl,
            str(tmp_path / "ckpt"),
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"
        return q

    q, jobs = jobs_during(spark, drain)
    assert [s["src_batch"] for s in W.list_parquet_snapshots(tbl)] == [0, 1]
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert jobs == len(sc.statusTracker().getJobIdsForGroup(str(q.runId))) == 2

    stray = (
        spark.readStream.format("rate").load()
        .writeStream.format("noop").start()
    )
    try:
        with pytest.raises(RuntimeError, match="already active"):
            jobs_during(spark, lambda: None)
    finally:
        stray.stop()


def test_restarted_sink_stream_is_refused(spark, tmp_path):
    """A sink table holds batches 0 and 1; a second incarnation of the
    stream (a new stream checkpoint, ids from 0 again) sends 0 and 1
    with other rows. Batch 0 is below the mark and batch 1 reuses the
    mark with other content: each call raises naming the path and the
    mark, and the versions and rows stay as the first incarnation left
    them (they used to be silent no-ops that dropped the batches)."""
    tbl = str(tmp_path / "tbl")
    assert W.snapshot_publish_batch(_df(spark, 0, 2), 0, tbl) is True
    assert W.snapshot_publish_batch(_df(spark, 2, 4), 1, tbl) is True
    before = W.list_parquet_snapshots(tbl)
    for bid, lo in ((0, 100), (1, 102)):
        with pytest.raises(ValueError, match=f"mark 1 at {tbl}"):
            W.snapshot_publish_batch(_df(spark, lo, lo + 2), bid, tbl)
    assert W.list_parquet_snapshots(tbl) == before
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == [0, 1, 2, 3]


def test_sink_lost_race_is_admitted_again(spark, tmp_path, monkeypatch):
    """A sink publish that loses its manifest race is judged again, by
    the same batch-commit rule, against the manifest that won: a racing
    publish of the same batch makes ours a no-op, the same id with other
    rows raises, and so does an id below the racer's. Simulate the worst
    interleaving: the racer publishes between our write and our link.
    The racer's commit stands whole in each case."""
    cases = (
        (1, 2, None),  # the racer published our batch 1 with our rows
        (1, 50, "DIFFERENT content"),  # ... with other rows
        (5, 2, "below"),  # the racer's batch 5 lands first
    )
    for i, (racer_bid, ours_lo, refused) in enumerate(cases):
        tbl = str(tmp_path / f"tbl_{i}")
        assert W.snapshot_publish_batch(_df(spark, 0, 2), 0, tbl) is True
        real_link = os.link
        state = {"raced": False}

        def racing_link(src, dst, tbl=tbl, racer_bid=racer_bid, state=state):
            if not state["raced"]:
                state["raced"] = True
                assert W.snapshot_publish_batch(
                    _df(spark, 2, 4), racer_bid, tbl
                ) is True
            return real_link(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "link", racing_link)
            ours = _df(spark, ours_lo, ours_lo + 2)
            if refused:
                with pytest.raises(ValueError, match=refused):
                    W.snapshot_publish_batch(ours, 1, tbl)
            else:
                assert W.snapshot_publish_batch(ours, 1, tbl) is False
        assert state["raced"]
        snaps = W.list_parquet_snapshots(tbl)
        assert [s["src_batch"] for s in snaps] == [0, racer_bid]
        assert sorted(
            r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
        ) == [0, 1, 2, 3]


def test_pre_fingerprint_manifests_replay_by_id(spark, tmp_path):
    """Manifests written before the batch-commit rule carry a mark with
    neither a fingerprint nor the batch's files, so there is no content
    to compare: on such a table the newest id is taken as the replay (a
    no-op, whatever its rows) and an id below it is refused. The next id
    publishes a mark that names its files, and its own id is compared by
    content again."""
    tbl = str(tmp_path / "tbl")
    W.snapshot_publish_batch(_df(spark, 0, 2), 0, tbl)
    W.snapshot_publish_batch(_df(spark, 2, 4), 1, tbl)
    for s in W.list_parquet_snapshots(tbl):
        mpath = os.path.join(tbl, W._SNAP_DIR, f"v{s['version']:08d}.json")
        s.pop("fingerprint")
        s.pop("batch_files")
        with open(mpath, "w") as fh:
            json.dump(s, fh)
    assert W.snapshot_publish_batch(_df(spark, 2, 4), 1, tbl) is False
    assert W.snapshot_publish_batch(_df(spark, 50, 52), 1, tbl) is False
    with pytest.raises(ValueError, match="below"):
        W.snapshot_publish_batch(_df(spark, 0, 2), 0, tbl)
    assert [s["version"] for s in W.list_parquet_snapshots(tbl)] == [1, 2]
    assert W.snapshot_publish_batch(_df(spark, 4, 6), 2, tbl) is True
    newest = W._latest_manifest(tbl)
    assert set(newest["batch_files"]) == set(newest["files"]) - set(
        W.list_parquet_snapshots(tbl)[-2]["files"]
    )
    assert W.snapshot_publish_batch(_df(spark, 4, 6), 2, tbl) is False
    with pytest.raises(ValueError, match="DIFFERENT content"):
        W.snapshot_publish_batch(_df(spark, 60, 62), 2, tbl)
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == list(range(6))


def test_snapshot_stale_manifest_tmp_is_invisible(spark, tmp_path):
    """Review r10: manifests publish via stage-then-link, so a crashed
    publisher leaves only a uniquely-named .tmp — which every reader
    and lister must ignore (the old O_EXCL-then-write path could leave
    an EMPTY v<N>.json that poisoned the whole table)."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), path)
    snapdir = os.path.join(path, W._SNAP_DIR)
    with open(os.path.join(snapdir, "v00000002.json.123.dead.tmp"), "w"):
        pass  # a crashed publisher's torn stage (empty)
    assert [s["version"] for s in W.list_parquet_snapshots(path)] == [1]
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(5))
    # and the next publish proceeds normally past the stale tmp
    assert W.write_parquet_snapshot(_df(spark, 5, 7), path, "append") == 2


def test_snapshot_append_schema_drift_raises(spark, tmp_path):
    """ADVICE r10: a schema-drifting append used to publish a manifest
    whose multi-footer read silently took one footer's schema. The
    table schema now rides every manifest and appends must match it."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), path)
    assert W.list_parquet_snapshots(path)[-1]["schema"] == [
        ["id", "bigint"], ["v", "bigint"]
    ]
    drifted = spark.range(5, 8).selectExpr("id", "CAST(id AS STRING) AS v")
    with pytest.raises(ValueError, match="schema drift"):
        W.write_parquet_snapshot(drifted, path, mode="append")
    extra_col = spark.range(5, 8).selectExpr("id", "id*2 AS v", "1 AS extra")
    with pytest.raises(ValueError, match="schema drift"):
        W.write_parquet_snapshot(extra_col, path, mode="append")
    # table unchanged; overwrite (an explicit new schema) still allowed
    assert [s["version"] for s in W.list_parquet_snapshots(path)] == [1]
    assert W.write_parquet_snapshot(drifted, path, mode="overwrite") == 2


def test_snapshot_append_schema_guard_pre_schema_manifest(spark, tmp_path):
    """Tables published before manifests carried `schema` derive it from
    the previous version's files — the guard still fires."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), path)
    snapdir = os.path.join(path, W._SNAP_DIR)
    mf = os.path.join(snapdir, "v00000001.json")
    with open(mf) as fh:
        m = json.load(fh)
    del m["schema"]
    os.remove(mf)
    with open(mf, "w") as fh:
        json.dump(m, fh)
    drifted = spark.range(5, 8).selectExpr("CAST(id AS STRING) AS id")
    with pytest.raises(ValueError, match="schema drift"):
        W.write_parquet_snapshot(drifted, path, mode="append")
    assert W.write_parquet_snapshot(_df(spark, 5, 8), path, "append") == 2
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(8))


def test_vacuum_crash_between_phases_leaves_readable_listing(spark, tmp_path):
    """ADVICE r10: vacuum drops manifests FIRST, files second, so every
    listed manifest is readable at all times. Simulate the crash state
    (dropped manifests gone, their files still on disk): the table
    lists/reads fine and the next vacuum's orphan sweep reclaims the
    leftovers."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), path)      # v1 (overwrite)
    W.write_parquet_snapshot(_df(spark, 100, 104), path)  # v2 (overwrite)
    W.write_parquet_snapshot(_df(spark, 200, 203), path)  # v3 (overwrite)
    snaps = W.list_parquet_snapshots(path)
    v1_files = [f.removeprefix("file:") for f in snaps[0]["files"]]
    # crash state: phase 1 (manifest removal) done, phase 2 not started
    os.remove(os.path.join(path, W._SNAP_DIR, "v00000001.json"))
    assert all(os.path.exists(f) for f in v1_files)
    # every listed manifest is readable
    for s in W.list_parquet_snapshots(path):
        W.read_parquet_snapshot(spark, path, version=s["version"]).count()
    # re-run vacuum: v1's now-unreferenced data dir is orphan-swept
    out = W.vacuum_parquet_snapshots(path, keep=2, orphan_grace_sec=0)
    assert not any(os.path.exists(f) for f in v1_files)
    assert [s["version"] for s in W.list_parquet_snapshots(path)] == [2, 3]
    assert out["removed_orphan_dirs"]


def test_publish_batch_hwm_skips_full_history_scan(spark, tmp_path):
    """ADVICE r10: the replay guard is a monotone high-water compare
    found by scanning manifests NEWEST-first — untagged (non-stream)
    APPEND versions in between don't break it, and a long history isn't
    re-read per batch. (An untagged OVERWRITE is different by design:
    it is a lineage barrier — see
    test_unstamped_append_carries_high_water_forward.)"""
    path = str(tmp_path / "tbl")
    assert W.snapshot_publish_batch(_df(spark, 0, 3), 0, path) is True
    assert W.snapshot_publish_batch(_df(spark, 3, 5), 1, path) is True
    # an untagged maintenance APPEND lands on top (post-ADVICE-r11 it
    # inherits the stamp, so the latest manifest answers directly)
    W.write_parquet_snapshot(_df(spark, 5, 7), path, mode="append")
    assert W._batch_mark(path, W._latest_manifest(path))["src_batch"] == 1
    # a LEGACY pre-carry-forward manifest has no stamp at all: simulate
    # one by stripping the newest manifest's stamp in place — the scan
    # must walk past the untagged append suffix to the stamped base
    snaps = W.list_parquet_snapshots(path)
    mpath = os.path.join(path, "_snapshots", f"v{snaps[-1]['version']:08d}.json")
    with open(mpath) as fh:
        legacy = json.load(fh)
    legacy.pop("src_batch")
    with open(mpath, "w") as fh:
        json.dump(legacy, fh)
    assert W._batch_mark(path, W._latest_manifest(path))["src_batch"] == 1
    # the newest id's replay is a no-op even behind the untagged
    # suffix, and an id below it is refused
    assert W.snapshot_publish_batch(_df(spark, 3, 5), 1, path) is False
    with pytest.raises(ValueError, match="below"):
        W.snapshot_publish_batch(_df(spark, 0, 3), 0, path)
    assert W.snapshot_publish_batch(_df(spark, 7, 9), 2, path) is True
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(9))


def test_compact_snapshot_semantics_and_time_travel(spark, tmp_path):
    """VERDICT r10 #3: manifest-aware compaction — a NEW version whose
    manifest names the compacted files; data identical, file count
    drops to target, old versions untouched and time-travelable."""
    path = str(tmp_path / "tbl")
    for lo, hi in [(0, 5), (5, 9), (9, 12)]:  # 3 appended versions
        W.write_parquet_snapshot(
            _df(spark, lo, hi).repartition(2), path, mode="append"
        )
    before = W.list_parquet_snapshots(path)[-1]
    assert len(before["files"]) >= 6
    out = W.compact_parquet_snapshot(spark, path, target_files=1)
    assert out["compacted"] is True
    assert out["from_version"] == 3 and out["version"] == 4
    assert out["files_after"] == 1 and out["rows"] == 12
    snap = W.list_parquet_snapshots(path)[-1]
    assert snap["mode"] == "compact" and snap["compacted_from"] == 3
    assert len(snap["files"]) == 1
    got = sorted(
        (r.id, r.v)
        for r in W.read_parquet_snapshot(spark, path).collect()
    )
    assert got == [(i, 2 * i) for i in range(12)]
    # pre-compact versions untouched: same file lists, same data
    assert W.list_parquet_snapshots(path)[2]["files"] == before["files"]
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path, version=2).collect()
    ) == list(range(9))
    # idempotent: already at target -> no-op, no new version
    out2 = W.compact_parquet_snapshot(spark, path, target_files=1)
    assert out2["compacted"] is False and out2["version"] == 4
    assert [s["version"] for s in W.list_parquet_snapshots(path)] == [
        1, 2, 3, 4
    ]
    # vacuum keep=1 reclaims the pre-compact files, keeps the compacted
    W.vacuum_parquet_snapshots(path, keep=1, orphan_grace_sec=0)
    assert [s["version"] for s in W.list_parquet_snapshots(path)] == [4]
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(12))


def test_compact_snapshot_lost_race_recompacts_new_latest(spark, tmp_path, monkeypatch):
    """A writer publishing mid-rewrite means the compaction no longer
    reflects the latest version — publishing it anyway would DROP the
    winner's rows. The lost O_EXCL race must abandon the attempt and
    recompact the new latest."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 6).repartition(3), path)
    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"] and dst.endswith(".json"):
            state["raced"] = True
            # a concurrent append claims the version first (uses
            # os.link itself — re-entrant through this wrapper)
            W.write_parquet_snapshot(
                _df(spark, 100, 103), path, mode="append"
            )
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    out = W.compact_parquet_snapshot(spark, path, target_files=1)
    assert state["raced"] and out["retries"] == 1
    # the compacted latest contains the RACING writer's rows
    assert out["rows"] == 9 and out["files_after"] == 1
    got = sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    )
    assert got == list(range(6)) + [100, 101, 102]
    # the abandoned first-attempt dir is an invisible orphan -> vacuumed
    monkeypatch.undo()
    n_versions = len(W.list_parquet_snapshots(path))
    out_v = W.vacuum_parquet_snapshots(
        path, keep=n_versions, orphan_grace_sec=0
    )
    assert out_v["removed_orphan_dirs"]


def test_compact_snapshot_crash_before_publish_invisible(spark, tmp_path, monkeypatch):
    """A compaction that dies after the data rewrite but before the
    manifest link changes nothing: readers see the old latest, and the
    half-born dir is vacuumable."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 6).repartition(3), path)

    def crashing_link(src, dst):
        raise OSError("simulated crash at publish")

    monkeypatch.setattr(os, "link", crashing_link)
    with pytest.raises(OSError, match="simulated crash"):
        W.compact_parquet_snapshot(spark, path, target_files=1)
    monkeypatch.undo()
    snaps = W.list_parquet_snapshots(path)
    assert [s["version"] for s in snaps] == [1]
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(6))
    out_v = W.vacuum_parquet_snapshots(path, keep=1, orphan_grace_sec=0)
    assert out_v["removed_orphan_dirs"]


def test_streaming_sink_compact_every_bounds_file_count(spark, tmp_path):
    """compact_every=N folds manifest-aware compaction into the drain:
    after every Nth published batch the latest version is rewritten to
    one file — a long stream's table never accumulates per-batch file
    sets — while every pre-compact version stays time-travelable and a
    checkpointed restart publishes (and compacts) nothing."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, 3), (3, 5), (5, 9), (9, 10)]):
        _df(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
        stamp = 1_700_000_000 + 100 * i
        for n in os.listdir(src):
            p = os.path.join(src, n)
            if os.path.getmtime(p) > stamp:
                os.utime(p, (stamp, stamp))

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = W.streaming_snapshot_sink(
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl,
            ckpt,
            compact_every=2,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"

    drain()
    snaps = W.list_parquet_snapshots(tbl)
    # b0, b1, compact, b2, b3, compact
    assert [s["mode"] for s in snaps] == [
        "append", "append", "compact", "append", "append", "compact"
    ]
    # compact manifests CARRY the stream high-water forward (ADVICE
    # r11 medium): a vacuum that leaves a compact version as the only
    # manifest must not erase the replay guard
    assert [s.get("src_batch") for s in snaps] == [0, 1, 1, 2, 3, 3]
    assert len(snaps[-1]["files"]) == 1
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == list(range(10))
    # the compacted mid-state equals batches 0+1; its pre-compact twin
    # (v2) carries 2 files and identical rows
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl, version=3).collect()
    ) == list(range(5))
    assert len(snaps[1]["files"]) == 2
    # restart over the same checkpoint: no publishes, no compactions
    drain()
    assert len(W.list_parquet_snapshots(tbl)) == 6


def test_staged_swap_ops_refuse_snapshot_tables(spark, tmp_path):
    """The generic overwrite-capable sinks must refuse a snapshot
    table's directory (VERDICT r10 residual, r12): an overwrite pointed
    at the table ROOT would delete the manifests and every data dir
    that published manifests reference by exact path, breaking every
    version's isolation."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), path)
    df = _df(spark, 0, 2)
    for op in (
        lambda: W.write_parquet(df, path),
        lambda: W.write_json_single_file(df, path),
    ):
        with pytest.raises(ValueError, match="snapshot-versioned"):
            op()
    # table untouched
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(5))


def _stamped_files(src, batches):
    """Write one parquet file per batch into ``src`` with explicit,
    strictly increasing mtimes so maxFilesPerTrigger=1 yields one
    deterministic micro-batch per file (the ADVICE-r10 no-sleep
    discipline)."""
    spark = batches[0].sparkSession
    for i, df in enumerate(batches):
        df.coalesce(1).write.mode("append").parquet(src)
        stamp = 1_700_000_000 + 100 * i
        for n in os.listdir(src):
            p = os.path.join(src, n)
            if os.path.getmtime(p) > stamp:
                os.utime(p, (stamp, stamp))


def test_vacuum_to_compact_only_keeps_replay_guard(spark, tmp_path):
    """ADVICE r11 (medium): a maintenance window running compact +
    vacuum(keep=1) leaves the compact version as the ONLY manifest. The
    compact manifest must carry the stream's src_batch high-water so a
    crashed stream's restart replay is still a publish no-op — without
    the carry, the replay re-publishes its last batch as duplicate
    rows."""
    tbl = str(tmp_path / "tbl")
    assert W.snapshot_publish_batch(_df(spark, 0, 5), 0, tbl) is True
    assert W.snapshot_publish_batch(_df(spark, 5, 8), 1, tbl) is True
    res = W.compact_parquet_snapshot(spark, tbl, target_files=1)
    assert res["compacted"] is True
    W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    snaps = W.list_parquet_snapshots(tbl)
    assert len(snaps) == 1 and snaps[0]["mode"] == "compact"
    assert snaps[0]["src_batch"] == 1
    # the mid-batch-crash replay of batch 1 must be a no-op
    assert W.snapshot_publish_batch(_df(spark, 5, 8), 1, tbl) is False
    assert len(W.list_parquet_snapshots(tbl)) == 1
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == list(range(8))
    # a genuinely new batch still publishes
    assert W.snapshot_publish_batch(_df(spark, 8, 9), 2, tbl) is True


def test_unstamped_append_carries_high_water_forward(spark, tmp_path):
    """An out-of-band manual append on a stream-fed table publishes an
    UNSTAMPED manifest; the high-water must be inherited from the
    previous version so vacuum(keep=1) cannot erase the replay guard
    (the inductive half of the ADVICE r11 fix)."""
    tbl = str(tmp_path / "tbl")
    assert W.snapshot_publish_batch(_df(spark, 0, 5), 3, tbl) is True
    W.write_parquet_snapshot(_df(spark, 5, 7), tbl, mode="append")
    snaps = W.list_parquet_snapshots(tbl)
    assert snaps[-1].get("src_batch") == 3  # inherited, not dropped
    W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    assert W.snapshot_publish_batch(_df(spark, 0, 5), 3, tbl) is False
    # overwrite RESETS the lineage: a fresh stream may reuse ids. The
    # reset is EFFECTIVE even while older stamped manifests survive —
    # the high-water scan treats the overwrite as a lineage barrier
    # (VERDICT r12 advisory, decided): without the barrier, the scan
    # would walk past the unstamped overwrite to the old stamp and
    # silently swallow the fresh stream's first batches.
    W.write_parquet_snapshot(_df(spark, 100, 102), tbl, mode="overwrite")
    assert W.list_parquet_snapshots(tbl)[-1].get("src_batch") is None
    assert W._batch_mark(tbl, W._latest_manifest(tbl)) is None
    assert W.snapshot_publish_batch(_df(spark, 102, 104), 0, tbl) is True
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == [100, 101, 102, 103]


def test_compact_every_cadence_survives_restart(spark, tmp_path):
    """VERDICT r11 #5: the compaction cadence is derived from durable
    manifest state, not a per-process counter. A stream stopped after 2
    batches and restarted (a FRESH sink instance over the same
    checkpoint) must still compact on the 3rd GLOBAL publish — the old
    in-memory counter would have seen only 1 post-restart batch and
    never fired."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _stamped_files(src, [_df(spark, 0, 3), _df(spark, 3, 5)])

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    def drain(**kw):
        q = W.streaming_snapshot_sink(
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl,
            ckpt,
            compact_every=3,
            **kw,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"

    drain()
    assert [s["mode"] for s in W.list_parquet_snapshots(tbl)] == [
        "append", "append"
    ]
    # stop/restart: a third file arrives, a NEW sink instance drains it
    df3 = _df(spark, 5, 9)
    df3.coalesce(1).write.mode("append").parquet(src)
    for n in os.listdir(src):
        p = os.path.join(src, n)
        if os.path.getmtime(p) > 1_700_000_300:
            os.utime(p, (1_700_000_300, 1_700_000_300))
    drain(target_files=2)
    snaps = W.list_parquet_snapshots(tbl)
    # the 3rd global publish triggered exactly ONE compaction
    assert [s["mode"] for s in snaps] == [
        "append", "append", "append", "compact"
    ]
    # target_files plumbs through the sink to the compactor
    assert 1 <= len(snaps[-1]["files"]) <= 2
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == list(range(9))
    # replay-only restart: no publish, no compaction
    drain()
    assert len(W.list_parquet_snapshots(tbl)) == 4


def test_snapshot_append_column_reorder_refused_with_message(spark, tmp_path):
    """Same column set in a different order is refused like any drift —
    a multi-footer scan's output order follows the sampled footer, so
    accepting it would make the table's read schema nondeterministic —
    but the error must SAY it is an order problem (ADVICE r11)."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl)
    reordered = _df(spark, 5, 8).select("v", "id")
    with pytest.raises(ValueError, match="ORDER differs"):
        W.write_parquet_snapshot(reordered, tbl, mode="append")
    # aligned append still works
    W.write_parquet_snapshot(
        reordered.select("id", "v"), tbl, mode="append"
    )
    assert W.list_parquet_snapshots(tbl)[-1]["rows"] == 8


def test_two_writer_append_contention(spark, tmp_path):
    """VERDICT r11 stretch #8: two concurrent appenders racing the same
    table. The O_EXCL manifest claim serializes them — every append must
    eventually publish, no version number is lost or doubly claimed, no
    row is dropped, and a subsequent vacuum strands nothing."""
    import threading

    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 10), tbl)
    errs = []
    barrier = threading.Barrier(2)

    def appender(lo_base):
        try:
            barrier.wait(timeout=60)
            for k in range(3):
                lo = lo_base + 10 * k
                W.write_parquet_snapshot(
                    _df(spark, lo, lo + 10), tbl, mode="append"
                )
        except Exception as exc:  # pragma: no cover - failure surface
            errs.append(exc)

    threads = [
        threading.Thread(target=appender, args=(base,))
        for base in (100, 1000)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errs, errs
    snaps = W.list_parquet_snapshots(tbl)
    versions = [s["version"] for s in snaps]
    assert versions == list(range(1, 8)), versions  # 1 base + 6 appends
    assert snaps[-1]["rows"] == 70
    want = (
        list(range(10))
        + list(range(100, 130))
        + list(range(1000, 1030))
    )
    got = sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    )
    assert got == want
    # every intermediate version is a superset chain: rows monotone
    assert [s["rows"] for s in snaps] == sorted(s["rows"] for s in snaps)
    # vacuum afterwards strands nothing: latest still fully readable,
    # and no listed manifest references a removed file
    W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == want


def test_snapshot_schema_evolution_append(spark, tmp_path):
    """VERDICT r11 #7: an opt-in append may WIDEN the table — the new
    manifest records the widened schema and is merge-read (old files pad
    nulls), old versions still read with their own schema, drift-refusal
    stays the default, and a compaction re-materializes uniform files."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)  # (id, v)
    wide = spark.range(3, 5).selectExpr(
        "id", "id * 2 AS v", "id * 10 AS w"
    )
    # default stays strict
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        W.write_parquet_snapshot(wide, tbl, mode="append")
    v2 = W.write_parquet_snapshot(
        wide, tbl, mode="append", allow_schema_evolution=True
    )
    assert v2 == 2
    snaps = W.list_parquet_snapshots(tbl)
    assert snaps[-1]["schema"] == [
        ["id", "bigint"], ["v", "bigint"], ["w", "bigint"]
    ]
    assert snaps[-1]["evolved"] is True
    latest = W.read_parquet_snapshot(spark, tbl)
    assert latest.columns == ["id", "v", "w"]
    rows = {r.id: (r.v, r.w) for r in latest.collect()}
    assert rows == {
        0: (0, None), 1: (2, None), 2: (4, None),
        3: (6, 30), 4: (8, 40),
    }
    # v1 reads with its OWN recorded schema
    v1_df = W.read_parquet_snapshot(spark, tbl, version=1)
    assert v1_df.columns == ["id", "v"]
    # an append that OMITS a column is the symmetric evolution case
    with pytest.raises(ValueError, match="schema drift"):
        W.write_parquet_snapshot(_df(spark, 5, 7), tbl, mode="append")
    W.write_parquet_snapshot(
        _df(spark, 5, 7), tbl, mode="append", allow_schema_evolution=True
    )
    snap3 = W.list_parquet_snapshots(tbl)[-1]
    assert snap3["schema"][-1] == ["w", "bigint"]  # widened order kept
    assert snap3["evolved"] is True
    got = {r.id: r.w for r in W.read_parquet_snapshot(spark, tbl).collect()}
    assert got == {0: None, 1: None, 2: None, 3: 30, 4: 40,
                   5: None, 6: None}
    # a TYPE conflict refuses even with evolution on
    clash = spark.range(7, 8).selectExpr(
        "id", "CAST(id AS STRING) AS v", "id AS w"
    )
    with pytest.raises(ValueError, match="change dtype"):
        W.write_parquet_snapshot(
            clash, tbl, mode="append", allow_schema_evolution=True
        )
    # compaction materializes the widened schema into uniform files;
    # the compact version drops the evolved flag and reads identically
    res = W.compact_parquet_snapshot(spark, tbl, target_files=1)
    assert res["compacted"] is True
    snap_c = W.list_parquet_snapshots(tbl)[-1]
    assert snap_c.get("evolved") is None
    assert snap_c["schema"] == [
        ["id", "bigint"], ["v", "bigint"], ["w", "bigint"]
    ]
    got_c = {
        r.id: r.w for r in W.read_parquet_snapshot(spark, tbl).collect()
    }
    assert got_c == got
    # post-compact, a widened-schema append passes the STRICT guard
    W.write_parquet_snapshot(
        spark.range(10, 11).selectExpr(
            "id", "id * 2 AS v", "id * 10 AS w"
        ),
        tbl,
        mode="append",
    )
    assert W.list_parquet_snapshots(tbl)[-1]["rows"] == 8


def test_publish_and_read_cost_independent_of_history(spark, tmp_path, monkeypatch):
    """A long-lived table's per-publish and per-read manifest cost must
    not grow with its version count (r12): publish/read/compact resolve
    the ONE manifest they need via _load_manifest, never a full-history
    JSON sweep. Pin it by counting manifest loads on a 12-version table."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 2), tbl)
    for k in range(11):
        W.write_parquet_snapshot(
            _df(spark, 2 + k, 3 + k), tbl, mode="append"
        )
    assert len(W.list_parquet_snapshots(tbl)) == 12

    calls = {"n": 0}
    real = W._load_manifest

    def counting(path, version):
        calls["n"] += 1
        return real(path, version)

    monkeypatch.setattr(W, "_load_manifest", counting)
    calls["n"] = 0
    W.write_parquet_snapshot(_df(spark, 50, 51), tbl, mode="append")
    assert calls["n"] <= 4, f"publish read {calls['n']} manifests"
    calls["n"] = 0
    W.read_parquet_snapshot(spark, tbl)
    assert calls["n"] <= 2, f"latest read loaded {calls['n']} manifests"
    calls["n"] = 0
    W.read_parquet_snapshot(spark, tbl, version=3)
    assert calls["n"] == 1, f"pinned read loaded {calls['n']} manifests"


def test_vacuum_keeps_evolved_table_merge_readable(spark, tmp_path):
    """Vacuum × schema evolution interplay: an evolved latest version
    references BOTH narrow v1-era files and widened files; vacuum(keep=1)
    must keep every shared-forward file (narrow ones included) so the
    merge-read still pads nulls correctly afterwards."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)
    W.write_parquet_snapshot(
        spark.range(3, 5).selectExpr("id", "id * 2 AS v", "id * 10 AS w"),
        tbl,
        mode="append",
        allow_schema_evolution=True,
    )
    stats = W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    assert stats["dropped_versions"] == [1]
    assert stats["removed_files"] == 0  # v1's files shared forward
    latest = W.read_parquet_snapshot(spark, tbl)
    assert latest.columns == ["id", "v", "w"]
    got = {r.id: r.w for r in latest.collect()}
    assert got == {0: None, 1: None, 2: None, 3: 30, 4: 40}


def test_sink_restart_with_widened_schema_evolves(spark, tmp_path):
    """A stream restarted after an upstream schema upgrade: the first
    query drains a narrow (id, v) file; the SAME checkpoint is then
    restarted with a widened (id, v, w) source schema over a newly
    arrived wide file. With the strict default the restarted batch
    refuses (schema drift) and the table is untouched; with
    allow_schema_evolution=True the restart widens the table and old
    versions pad w with nulls."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _df(spark, 0, 4).coalesce(1).write.mode("append").parquet(src)
    for n in os.listdir(src):
        os.utime(os.path.join(src, n), (1_700_000_000, 1_700_000_000))

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    from pyspark.errors.exceptions.captured import StreamingQueryException

    def drain(schema, **kw):
        q = W.streaming_snapshot_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl,
            ckpt,
            **kw,
        ).start()
        try:
            assert q.awaitTermination(120), "stream drain timed out"
        except StreamingQueryException as exc:
            return exc
        return None

    assert drain("id long, v long") is None
    assert W.list_parquet_snapshots(tbl)[-1]["rows"] == 4

    # upstream upgrade: a WIDE file arrives; the stream restarts with
    # the widened schema over the same checkpoint (same logical stream)
    spark.range(4, 6).selectExpr(
        "id", "id * 2 AS v", "id * 10 AS w"
    ).coalesce(1).write.mode("append").parquet(src)
    for n in os.listdir(src):
        p = os.path.join(src, n)
        if os.path.getmtime(p) > 1_700_000_100:
            os.utime(p, (1_700_000_100, 1_700_000_100))

    # strict default: the widened batch refuses, table untouched
    exc = drain("id long, v long, w long")
    assert exc is not None and "schema drift" in str(exc)
    assert W.list_parquet_snapshots(tbl)[-1]["rows"] == 4

    # opt-in evolution: the same restart widens the table (the failed
    # strict batch was never committed, so it replays here)
    assert drain(
        "id long, v long, w long", allow_schema_evolution=True
    ) is None
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert snap["rows"] == 6 and snap["evolved"] is True
    got = {r.id: r.w for r in W.read_parquet_snapshot(spark, tbl).collect()}
    assert got == {0: None, 1: None, 2: None, 3: None, 4: 40, 5: 50}


def test_as_of_timestamp_time_travel(spark, tmp_path, monkeypatch):
    """r13 (VERDICT r12 next-round list): every manifest records
    published_utc, and read_parquet_snapshot(as_of_utc=...) resolves
    "what did this table say at time T" to the newest version published
    at-or-before T — by BINARY SEARCH over the version listing, never a
    full-history manifest sweep."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)
    for k in range(7):
        W.write_parquet_snapshot(_df(spark, 3 + k, 4 + k), tbl, mode="append")
    snaps = W.list_parquet_snapshots(tbl)
    stamps = [s["published_utc"] for s in snaps]
    assert stamps == sorted(stamps)  # publishes are serialized
    # exactly at a stamp -> that version; between stamps -> the earlier
    for i, s in enumerate(snaps):
        got = W.read_parquet_snapshot(spark, tbl, as_of_utc=s["published_utc"])
        assert got.count() == s["rows"], f"as-of stamp {i} wrong version"
    mid = (stamps[2] + stamps[3]) / 2
    assert (
        W.read_parquet_snapshot(spark, tbl, as_of_utc=mid).count()
        == snaps[2]["rows"]
    )
    # far future -> latest; ISO-8601 operand accepted (naive = UTC)
    assert (
        W.read_parquet_snapshot(spark, tbl, as_of_utc=stamps[-1] + 9e6).count()
        == snaps[-1]["rows"]
    )
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(
        stamps[-1] + 1, tz=timezone.utc
    ).isoformat()
    assert (
        W.read_parquet_snapshot(spark, tbl, as_of_utc=iso).count()
        == snaps[-1]["rows"]
    )
    # before the first publish -> explicit error, never a newer version
    with pytest.raises(ValueError, match="at or before"):
        W.read_parquet_snapshot(spark, tbl, as_of_utc=stamps[0] - 10)
    with pytest.raises(ValueError, match="not both"):
        W.read_parquet_snapshot(spark, tbl, version=1, as_of_utc=mid)
    # cost pin: resolving as-of on an 8-version table is O(log n)
    # manifest loads (binary search) + 1 for the resolved read
    calls = {"n": 0}
    real = W._load_manifest

    def counting(path, version):
        calls["n"] += 1
        return real(path, version)

    monkeypatch.setattr(W, "_load_manifest", counting)
    got = W.read_parquet_snapshot(spark, tbl, as_of_utc=mid)
    assert got.count() == snaps[2]["rows"]
    assert calls["n"] <= 5, f"as-of read loaded {calls['n']} manifests"


def test_vacuum_under_write_contention(spark, tmp_path):
    """Stretch (VERDICT r12): a vacuum racing an IN-FLIGHT writer — data
    written, manifest not yet linked — must not reclaim the writer's
    dir (the orphan grace window is exactly this protection); the
    completed publish then reads whole, and a LATER vacuum sees the dir
    referenced and keeps it."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl)
    # in-flight writer: step (1) of the publish protocol done, step (3)
    # manifest link not yet — exactly what a concurrent vacuum observes
    pending = os.path.join(tbl, "data", "v00000002-deadbeef")
    _df(spark, 5, 8).coalesce(1).write.parquet(pending)
    stats = W.vacuum_parquet_snapshots(tbl, keep=1)  # default 24h grace
    assert stats["removed_orphan_dirs"] == [], (
        "vacuum reclaimed an in-flight writer's data dir"
    )
    # the writer completes: an append manifest referencing base + new
    prev = W._latest_manifest(tbl)
    new_files = sorted(
        spark.read.parquet(pending).inputFiles()
    )
    manifest = {
        "version": 2,
        "files": sorted(set(prev["files"]) | set(new_files)),
        "rows": prev["rows"] + 3,
        "mode": "append",
        "schema": prev["schema"],
        "published_utc": prev["published_utc"] + 1,
    }
    mpath = os.path.join(tbl, "_snapshots", "v00000002.json")
    with open(mpath + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.link(mpath + ".tmp", mpath)
    os.remove(mpath + ".tmp")
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == list(range(8))
    # a LATE aggressive vacuum now sees the dir referenced — kept
    W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, tbl).collect()
    ) == list(range(8))


def test_generic_sinks_refuse_snapshot_subpaths(spark, tmp_path):
    """ADVICE r12: the snapshot-root refusal must hold for SUBPATHS too —
    an overwrite sink pointed at tbl/data (or one version dir) wipes
    files that published manifests reference while the manifests
    survive, breaking every read."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io.writers import (
        write_parquet,
    )

    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl)
    data_dir = os.path.dirname(
        W._latest_manifest(tbl)["files"][0].removeprefix("file:")
    )
    for target in (tbl, tbl + "/data", data_dir, tbl + "/data/new_sub"):
        with pytest.raises(ValueError, match="snapshot-versioned"):
            write_parquet(_df(spark, 0, 2), target)
    # a sibling path outside the table remains writable
    write_parquet(_df(spark, 0, 2), str(tmp_path / "plain"))


def test_stray_files_in_snapshots_dir_ignored(spark, tmp_path):
    """ADVICE r12: a stray non-manifest file in _snapshots/ (hand-written
    note, editor artifact) must not brick the table — only v%08d.json
    names are manifests."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 5), tbl)
    snap_dir = os.path.join(tbl, "_snapshots")
    for stray in ("version.json", "v1.json", "vNOTES.json", "v00000001.json.bak"):
        with open(os.path.join(snap_dir, stray), "w") as fh:
            fh.write("not a manifest")
    v2 = W.write_parquet_snapshot(_df(spark, 5, 8), tbl, mode="append")
    assert v2 == 2
    assert [s["version"] for s in W.list_parquet_snapshots(tbl)] == [1, 2]
    assert W.read_parquet_snapshot(spark, tbl).count() == 8
    assert W.compact_parquet_snapshot(spark, tbl)["compacted"] is True
    assert W._batch_mark(tbl, W._latest_manifest(tbl)) is None


def test_evolution_refuses_case_collisions_and_reorders(spark, tmp_path):
    """ADVICE r12 ×2: (1) with the default case-insensitive resolution a
    column differing only by case must refuse — evolving it would
    publish a manifest carrying both spellings and every merge-read
    would die ambiguous; (2) a pure column REORDER widens nothing and
    keeps the strict refusal even under allow_schema_evolution."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)
    upper = spark.range(3, 5).selectExpr("id", "id * 2 AS V")
    with pytest.raises(ValueError, match="differ only by case"):
        W.write_parquet_snapshot(
            upper, tbl, mode="append", allow_schema_evolution=True
        )
    reordered = spark.range(3, 5).selectExpr("id * 2 AS v", "id")
    with pytest.raises(ValueError, match="ORDER differs"):
        W.write_parquet_snapshot(
            reordered, tbl, mode="append", allow_schema_evolution=True
        )
    # table untouched by both refusals; a well-formed append still works
    assert W.read_parquet_snapshot(spark, tbl).count() == 3
    W.write_parquet_snapshot(_df(spark, 3, 5), tbl, mode="append")
    assert W.read_parquet_snapshot(spark, tbl).count() == 5
    # under EXPLICIT case-sensitive resolution, 'V' is a genuinely new
    # column and evolution may widen with it
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        v = W.write_parquet_snapshot(
            spark.range(5, 6).selectExpr("id", "id * 2 AS v", "id AS V"),
            tbl,
            mode="append",
            allow_schema_evolution=True,
        )
        snap = W._load_manifest(tbl, v)
        assert [c for c, _t in snap["schema"]] == ["id", "v", "V"]
        assert snap["evolved"] is True
        df = W.read_parquet_snapshot(spark, tbl, version=v)
        assert df.columns == ["id", "v", "V"]
        assert df.count() == 6
    finally:
        spark.conf.set("spark.sql.caseSensitive", "false")


def test_delete_from_snapshot_semantics(spark, tmp_path):
    """DELETE removes rows where the predicate is TRUE; NULL-predicate
    rows are KEPT (SQL three-valued semantics)."""
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(0, 10), (1, None), (2, 30), (3, 40)], "id long, v long"
    )
    W.write_parquet_snapshot(df, tbl)
    res = W.delete_from_snapshot(spark, tbl, "v > 20")
    assert res["deleted"] == 2 and res["rows"] == 2
    got = {r.id for r in W.read_parquet_snapshot(spark, tbl).collect()}
    assert got == {0, 1}  # the NULL row survives
    # Column predicate form + delete-all
    from pyspark.sql import functions as F

    res2 = W.delete_from_snapshot(
        spark, tbl, F.col("id") >= 0
    )
    assert res2["deleted"] == 2 and res2["rows"] == 0
    assert W.read_parquet_snapshot(spark, tbl).count() == 0
    # every prior state remains time-travelable
    assert W.read_parquet_snapshot(spark, tbl, version=1).count() == 4
    assert W.read_parquet_snapshot(spark, tbl, version=2).count() == 2


def test_snapshot_dml_lost_race_recomputes(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: a writer publishing between the delete's
    base read and its manifest link is a CONFLICT — publishing the
    stale rewrite would drop the winner's rows (lost update). The delete
    must abandon, re-read the new latest and re-delete."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 4), tbl)
    real_link = os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"] and dst.endswith(".json"):
            state["raced"] = True
            W.write_parquet_snapshot(
                _df(spark, 100, 102), tbl, mode="append"
            )
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    res = W.delete_from_snapshot(spark, tbl, "id = 1")
    assert state["raced"] and res["retries"] == 1
    got = {r.id: r.v for r in W.read_parquet_snapshot(spark, tbl).collect()}
    # the racing append's rows SURVIVED the delete
    assert got == {0: 0, 2: 4, 3: 6, 100: 200, 101: 202}
    monkeypatch.undo()
    # the abandoned first attempt is an invisible orphan
    out = W.vacuum_parquet_snapshots(
        tbl, keep=len(W.list_parquet_snapshots(tbl)), orphan_grace_sec=0
    )
    assert out["removed_orphan_dirs"]


def test_snapshot_dml_preserves_stream_high_water(spark, tmp_path):
    """DML is maintenance ON the stream's lineage, not a reset: a delete
    mid-stream stamps the new manifest with the effective high-water, so
    a crashed stream's replay is still a publish no-op — even after
    vacuum(keep=1) leaves the DML version as the only manifest."""
    tbl = str(tmp_path / "tbl")
    assert W.snapshot_publish_batch(_df(spark, 0, 5), 7, tbl) is True
    res = W.delete_from_snapshot(spark, tbl, "id = 0")
    assert W.list_parquet_snapshots(tbl)[-1]["src_batch"] == 7
    W.delete_from_snapshot(spark, tbl, "id = 4")
    W.vacuum_parquet_snapshots(tbl, keep=1, orphan_grace_sec=0)
    assert W._batch_mark(tbl, W._latest_manifest(tbl))["src_batch"] == 7
    assert W.snapshot_publish_batch(_df(spark, 0, 5), 7, tbl) is False
    assert W.snapshot_publish_batch(_df(spark, 5, 6), 8, tbl) is True
    assert res["version"] == 2


def test_merge_on_evolved_base_sheds_flag_and_fills(spark, tmp_path):
    """DML on an evolved table: the delete's rewrite materializes uniform
    files (flag shed, like compaction) with the evolved column filled
    with nulls for the old-narrow rows, so a later full-width append of
    a re-inserted key needs no schema evolution and carries real values
    while untouched narrow rows keep their nulls."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 3), tbl)
    W.write_parquet_snapshot(
        spark.range(3, 5).selectExpr("id", "id * 2 AS v", "id * 10 AS w"),
        tbl, mode="append", allow_schema_evolution=True,
    )
    res = W.delete_from_snapshot(spark, tbl, "id = 0")
    assert res["deleted"] == 1
    snap = W.list_parquet_snapshots(tbl)[-1]
    assert not snap.get("evolved"), "delete rewrite must shed the flag"
    assert snap["schema"] == [["id", "bigint"], ["v", "bigint"], ["w", "bigint"]]
    W.write_parquet_snapshot(
        spark.createDataFrame([(0, 1, 2), (9, 8, 7)], "id long, v long, w long"),
        tbl, mode="append",
    )
    got = {r.id: (r.v, r.w) for r in W.read_parquet_snapshot(spark, tbl).collect()}
    assert got[0] == (1, 2)            # updated row: w filled
    assert got[1] == (2, None)         # untouched narrow row: null kept
    assert got[9] == (8, 7)            # inserted
    assert got[3] == (6, 30)


def test_dml_on_legacy_preschema_manifest(spark, tmp_path):
    """r13 review: a legacy manifest with no recorded schema (pre-r11
    tables) must not KeyError the DML ops — the schema falls back to
    the pinned read frame's dtypes."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 4), tbl)
    mpath = os.path.join(tbl, "_snapshots", "v00000001.json")
    with open(mpath) as fh:
        legacy = json.load(fh)
    del legacy["schema"]
    with open(mpath, "w") as fh:
        json.dump(legacy, fh)
    res = W.delete_from_snapshot(spark, tbl, "id = 1")
    assert res["deleted"] == 1
    assert W.list_parquet_snapshots(tbl)[-1]["schema"] == [
        ["id", "bigint"], ["v", "bigint"]
    ]
    got = {r.id: r.v for r in W.read_parquet_snapshot(spark, tbl).collect()}
    assert got == {0: 0, 2: 4, 3: 6}


def test_manifest_names_sort_numerically_past_8_digits(tmp_path):
    """r13 review: v100000000.json (9 digits) sorts lexically BEFORE the
    8-digit names — listings must sort by the parsed number or the
    newest manifests go invisible at version 1e8."""
    tbl = str(tmp_path / "tbl")
    snap = os.path.join(tbl, "_snapshots")
    os.makedirs(snap)
    for name, v in (
        ("v00000001.json", 1),
        ("v99999999.json", 99_999_999),
        ("v100000000.json", 100_000_000),
    ):
        with open(os.path.join(snap, name), "w") as fh:
            json.dump({"version": v, "files": [], "rows": 0,
                       "mode": "overwrite", "schema": []}, fh)
    assert W._manifest_versions(tbl) == [1, 99_999_999, 100_000_000]
    assert W._manifest_names(tbl, reverse=True)[0] == "v100000000.json"
    assert W._latest_manifest(tbl)["version"] == 100_000_000


def test_vacuum_with_relative_path_keeps_live_data(spark, tmp_path, monkeypatch):
    """Review r14: the orphan sweep compared the caller's RELATIVE
    spelling against abspath'd manifest dirs, so a relative-path vacuum
    saw every LIVE data dir as unreferenced and rmtree'd the whole
    table once past the grace window. Both sides are abspath'd now —
    like the ownership compare two lines up already was."""
    tbl = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_df(spark, 0, 4), tbl)
    W.write_parquet_snapshot(_df(spark, 4, 8), tbl, mode="append")
    monkeypatch.chdir(tmp_path)
    res = W.vacuum_parquet_snapshots("tbl", keep=1, orphan_grace_sec=0)
    assert res["removed_orphan_dirs"] == [], (
        "live data dirs were swept as orphans under a relative path"
    )
    got = sorted(r.id for r in W.read_parquet_snapshot(spark, tbl).collect())
    assert got == list(range(8))


def test_publish_rows_from_footers_and_torn_footer_refuses(spark, tmp_path):
    """Optimization r15: the publish-time count-verify reads parquet
    FOOTER num_rows (driver-side) instead of re-scanning the written
    data with a second Spark job. The manifest row count must still be
    exact, and a torn write (truncated footer) must still refuse
    loudly."""
    tbl = str(tmp_path / "tbl")
    v = W.write_parquet_snapshot(_df(spark, 0, 7), tbl)
    man = W._latest_manifest(tbl)
    assert man["rows"] == 7
    assert W.read_parquet_snapshot(spark, tbl, version=v).count() == 7
    # torn footer: truncate a freshly-written file and verify the
    # helper refuses instead of recording a wrong count
    data_file = man["files"][0]
    local = W._local_path(data_file)
    with open(local, "r+b") as f:
        f.truncate(10)
    with pytest.raises(RuntimeError, match="unreadable parquet footer"):
        W._footer_row_count([data_file])


def test_publish_drops_empty_part_files(spark, tmp_path):
    """Spark writes a zero-row part file for an empty first input
    partition. A publish must not name it: every read of the version
    would open it, and with no stats no ``where=`` read could prune it.
    A one-row frame over four partitions publishes exactly one file,
    with stats for every file; a version whose rows are all gone keeps
    one (empty) file to carry its schema."""
    path = str(tmp_path / "tbl")
    one_row = spark.range(0, 4, 1, 4).where("id = 3").selectExpr(
        "id", "id * 2 AS v"
    )
    W.write_parquet_snapshot(one_row, path, stats_columns=["id"])
    man = W._latest_manifest(path)
    assert len(man["files"]) == 1 and man["rows"] == 1
    assert set(man["stats"]) == set(man["files"])
    W.write_parquet_snapshot(one_row, path, mode="append")
    man = W._latest_manifest(path)
    assert len(man["files"]) == 2 and set(man["stats"]) == set(man["files"])
    # every data file on disk is one the manifest names
    on_disk = set(glob.glob(f"{path}/data/**/*.parquet", recursive=True))
    assert on_disk == {W._local_path(f) for f in man["files"]}
    W.delete_from_snapshot(spark, path, "id = 3")
    man = W._latest_manifest(path)
    assert len(man["files"]) == 1 and man["rows"] == 0
    assert W.read_parquet_snapshot(spark, path).count() == 0


def test_publish_runs_only_its_write_job(spark, tmp_path):
    """A publish stages its files with one write job and learns their
    names, row count and schema without a Spark read (the seam lists
    them, the footers count them, the frame's dtypes are their schema):
    a snapshot overwrite, append, compaction and streaming-sink batch
    publish, and a band checkpoint seed and append, each run exactly
    one job. Delete adds the ``count()`` that tells it how many rows it
    removed. AQE is off so a shuffle is a stage of the write job rather
    than a job of its own."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    tbl, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    docs = spark.createDataFrame(
        [(d, f"document {d} about publishes and the jobs they run {d}")
         for d in range(8)],
        "doc_id long, text string",
    )
    publishes = {
        "overwrite": lambda: W.write_parquet_snapshot(
            _df(spark, 0, 10).repartition(2), tbl
        ),
        "append": lambda: W.write_parquet_snapshot(
            _df(spark, 10, 20), tbl, mode="append"
        ),
        "compaction": lambda: W.compact_parquet_snapshot(spark, tbl),
        "sink batch": lambda: W.snapshot_publish_batch(
            _df(spark, 20, 25), 0, tbl
        ),
        "delete": lambda: W.delete_from_snapshot(spark, tbl, "id = 3"),
        "checkpoint seed": lambda: dedup.write_band_checkpoint(
            docs.where("doc_id < 5"), ckpt, "doc_id", "text"
        ),
        "checkpoint append": lambda: dedup.write_band_checkpoint(
            docs.where("doc_id >= 5"), ckpt, "doc_id", "text",
            mode="append", batch_id=-1,
        ),
    }
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs = {name: jobs_during(spark, fn)[1] for name, fn in publishes.items()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert jobs == {**dict.fromkeys(publishes, 1), "delete": 2}
    assert [s["mode"] for s in W.list_parquet_snapshots(tbl)] == [
        "overwrite", "append", "compact", "append", "delete"
    ]
    assert W.read_parquet_snapshot(spark, tbl).count() == 24
    assert dedup.read_band_checkpoint(spark, ckpt, "doc_id").select(
        "doc_id"
    ).distinct().count() == 8


def test_vacuum_keeps_live_nested_data_dirs(spark, tmp_path):
    """A table whose versions are written partitioned
    (``data/v=<N>-<uuid>/k=<k>/part-….parquet``, the dedup checkpoint
    layout) keeps every live file through a ``keep=1`` vacuum with no
    orphan grace: a data dir is live while a kept manifest names a file
    under it, at any depth. The dropped version's own dir goes."""
    import time

    path = str(tmp_path / "tbl")
    data = os.path.join(path, "data")
    files = {}
    for v, lo in ((1, 0), (2, 10)):
        d = os.path.join(data, f"v={v:08d}-abcd000{v}")
        _df(spark, lo, lo + 10).selectExpr("id", "v", "id % 2 AS k").write \
            .partitionBy("k").parquet(d)
        files[v] = sorted(glob.glob(f"{d}/**/*.parquet", recursive=True))
    schema = [["id", "bigint"], ["v", "bigint"]]
    for v, names in ((1, files[1]), (2, files[1] + files[2])):
        assert W._link_manifest(path, v, {
            "version": v, "files": names, "rows": 10 * v, "mode": "append",
            "schema": schema, "published_utc": time.time(),
        })
    # version 3 rewrites the table into one new nested dir
    d3 = os.path.join(data, "v=00000003-abcd0003")
    _df(spark, 0, 20).selectExpr("id", "v", "id % 2 AS k").write \
        .partitionBy("k").parquet(d3)
    assert W._link_manifest(path, 3, {
        "version": 3,
        "files": sorted(glob.glob(f"{d3}/**/*.parquet", recursive=True)),
        "rows": 20,
        "mode": "compact", "schema": schema, "published_utc": time.time(),
    })
    W.vacuum_parquet_snapshots(path, keep=2, orphan_grace_sec=0)
    # versions 2 and 3 stay: v1's dir is live through version 2
    assert all(os.path.exists(f) for f in files[1] + files[2])
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path, version=2)
        .collect()
    ) == list(range(20))
    rep = W.vacuum_parquet_snapshots(path, keep=1, orphan_grace_sec=0)
    assert rep["dropped_versions"] == [2]
    assert sorted(os.listdir(data)) == ["v=00000003-abcd0003"]
    live = W._latest_manifest(path)["files"]
    assert live and all(os.path.exists(f) for f in live)
    assert sorted(
        r.id for r in W.read_parquet_snapshot(spark, path).collect()
    ) == list(range(20))
