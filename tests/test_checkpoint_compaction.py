"""Checkpoint state compaction (VERDICT r9 #2).

Each ingest micro-batch adds one file per touched grid cell, so after N
batches a cell holds up to N small files and the pruned probe degrades
into a small-files scan. ``compact_band_checkpoint`` /
``compact_chunk_checkpoint`` rewrite the newest version to ONE file per
cell in a fresh directory and publish it as a ``compact`` manifest that
carries the parameters and the committed high-water mark forward —
these tests pin:

1. the post-compact invariant (exactly 1 data file per cell among the
   files the newest manifest names) and the directory holding only
   ``_snapshots/`` and ``data/``;
2. ingest equivalence: a pipeline compacted mid-sequence admits the
   SAME survivors as a never-compacted twin;
3. cell pruning still works over a compacted checkpoint (executed-scan
   numFiles < total);
4. a batch whose publish never happened is invisible to compaction and
   publishes once on its replay;
5. a compaction that crashes before its publish leaves the old version
   readable, and the next compaction succeeds;
6. two writers racing one batch id publish the first one's commit
   whole.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers
from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup


def _cell_files(path: str) -> dict[str, int]:
    """Data-file count per grid cell (the partition directories below a
    version directory) among the files the newest manifest names."""
    return dict(Counter(
        "/".join(f.split("/data/", 1)[1].split("/")[1:-1])
        for f in writers._latest_manifest(path)["files"]
    ))


def _crash_before_publish(monkeypatch):
    """Make every manifest publish fail, as a crash between a writer's
    data write and its publish would."""

    def crash(*_args, **_kw):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(writers, "_link_manifest", crash)


def _rngtext(d: int) -> str:
    return " ".join(f"w{(d * 7 + i * 13) % 97}" for i in range(30))


def _freshtext(d: int) -> str:
    """Text guaranteed distinct from every ``_rngtext`` output (its own
    vocabulary), so ingest batches actually ADMIT docs and append state
    — ``_rngtext`` repeats with period 97 in ``d * 7``, so naively using
    it for batch ids near 100 silently duplicates the seed corpus."""
    return " ".join(f"f{d}x{i}" for i in range(30))


def test_compact_band_checkpoint_one_file_per_bucket(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(40)], "doc_id long, text string"
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                n_sig_buckets=8)
    out = str(tmp_path / "out")
    for b, lo in enumerate(range(100, 130, 10)):
        batch = spark.createDataFrame(
            [(d, _freshtext(d)) for d in range(lo, lo + 10)],
            "doc_id long, text string",
        )
        dedup.ingest_batch_idempotent(batch, b, path, out)
    per_cell = _cell_files(path)
    assert any(n > 1 for n in per_cell.values()), per_cell  # fragmented

    before = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    hwm_before = dedup.ingest_high_water_mark(path)
    stats = dedup.compact_band_checkpoint(spark, path)

    per_cell = _cell_files(path)
    assert per_cell and all(n == 1 for n in per_cell.values()), per_cell
    assert stats["files_after"] == len(per_cell)
    assert stats["files_before"] > stats["files_after"]
    assert stats["hwm"] == hwm_before == dedup.ingest_high_water_mark(path)
    # the older versions were vacuumed: one manifest, one version dir,
    # and nothing beside the manifests and the data
    assert sorted(os.listdir(path)) == ["_snapshots", "data"]
    assert [s["version"] for s in writers.list_parquet_snapshots(path)] == [5]
    assert len(os.listdir(os.path.join(path, "data"))) == 1
    # content-identical and the recorded parameters survived
    after = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    assert after == before
    assert dedup.read_band_params(spark, path)["n_sig_buckets"] == 8
    # idempotent: a second compaction is a clean no-op rewrite
    again = dedup.compact_band_checkpoint(spark, path)
    assert again["rows"] == stats["rows"]
    assert again["files_after"] == stats["files_after"]


def test_band_ingest_equivalent_after_midsequence_compaction(
    spark, tmp_path
):
    """A pipeline compacted between batches must admit exactly the same
    survivor set as a never-compacted twin — compaction preserves the
    state rows and the high-water mark, so cross-batch dedup and the
    batch-id guard see the identical state."""
    docs = [(d, _rngtext(d % 25)) for d in range(45)]  # heavy dup load
    seed = spark.createDataFrame(docs[:15], "doc_id long, text string")
    batches = [
        spark.createDataFrame(docs[lo:lo + 10], "doc_id long, text string")
        for lo in range(15, 45, 10)
    ]
    survivors = {}
    for variant, compact_after in (("plain", None), ("compacted", 0)):
        base = tmp_path / variant
        path, out = str(base / "bands"), str(base / "out")
        dedup.write_band_checkpoint(seed, path, "doc_id", "text",
                                    n_sig_buckets=8)
        for b, batch in enumerate(batches):
            dedup.ingest_batch_idempotent(batch, b, path, out)
            if compact_after is not None and b == compact_after:
                dedup.compact_band_checkpoint(spark, path)
        files = glob.glob(f"{out}/**/*.parquet", recursive=True)
        survivors[variant] = (
            sorted(r.doc_id for r in spark.read.parquet(out).collect())
            if files else []
        )
    assert survivors["compacted"] == survivors["plain"]


def test_compact_chunk_checkpoint_and_pruning_survive(spark, tmp_path):
    W = lambda d, i: f"d{d}w{i}"  # noqa: E731
    corpus = spark.createDataFrame(
        [(d, " ".join(W(d, i) for i in range(20))) for d in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, path, "doc_id", "text",
                                 n_buckets=16)
    out = str(tmp_path / "out")
    for b, lo in enumerate(range(100, 120, 10)):
        batch = spark.createDataFrame(
            [(d, _freshtext(d)) for d in range(lo, lo + 10)],
            "doc_id long, text string",
        )
        dedup.chunk_ingest_batch_idempotent(batch, b, path, out)
    assert any(n > 1 for n in _cell_files(path).values())

    before = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id")
            .collect())
    )
    stats = dedup.compact_chunk_checkpoint(spark, path)
    per_cell = _cell_files(path)
    assert per_cell and all(n == 1 for n in per_cell.values()), per_cell
    after = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id")
            .collect())
    )
    assert after == before and stats["rows"] == len(before)

    # the pruned probe still prunes over the compacted layout: a
    # one-chunk batch opens strictly fewer files than the checkpoint
    # holds, only those under its lhb cell
    batch = spark.createDataFrame(
        [(999, " ".join(W(3, i) for i in range(10)))],
        "doc_id long, text string",
    )
    chunks = dedup._doc_chunks(batch, "doc_id", "text", 10)
    buckets = sorted(
        r.b for r in chunks.select(
            dedup._lh_bucket(F.col("lh"), 16).alias("b")
        ).distinct().collect()
    )
    pruned = dedup.read_chunk_checkpoint(spark, path, "doc_id",
                                         buckets=buckets)
    assert {f.split("/")[-2] for f in pruned.inputFiles()} == {
        f"lhb={b}" for b in buckets
    }
    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    read_files = int(scan.metrics().apply("numFiles").value())
    total_files = len(writers._latest_manifest(path)["files"])
    assert 0 < read_files < total_files, (read_files, total_files)
    # and a further ingest batch over the compacted state behaves: doc
    # 3's span is already admitted, so the re-delivery drops to empty
    dedup.chunk_ingest_batch_idempotent(batch, 2, path, out)
    rows = {r.doc_id: r.n_dropped
            for r in spark.read.parquet(out).collect() if r.doc_id == 999}
    assert rows == {999: 1}, rows


def test_compact_refuses_inflight_batch(spark, tmp_path, monkeypatch):
    """A batch whose state was written but never published (it crashed
    before its manifest publish, or is still in flight) is invisible to
    compaction: the compacted version holds exactly the published rows.
    The batch's replay then publishes once, on top of the compacted
    version, and a second replay is a no-op."""
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(10)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + d, _freshtext(d)) for d in range(3)],
        "doc_id long, text string",
    )
    for writer, ingest, compact, read, name in (
        (dedup.write_band_checkpoint, dedup.ingest_batch_idempotent,
         dedup.compact_band_checkpoint, dedup.read_band_checkpoint,
         "bands"),
        (dedup.write_chunk_checkpoint, dedup.chunk_ingest_batch_idempotent,
         dedup.compact_chunk_checkpoint, dedup.read_chunk_checkpoint,
         "chunks"),
    ):
        path, out = str(tmp_path / name), str(tmp_path / f"{name}_out")
        writer(corpus, path, "doc_id", "text")
        seeded = sorted(map(tuple, read(spark, path, "doc_id").collect()))
        with monkeypatch.context() as m:
            _crash_before_publish(m)
            with pytest.raises(RuntimeError, match="crash before publish"):
                ingest(batch, 0, path, out)
        assert dedup.ingest_high_water_mark(path) == -1
        stats = compact(spark, path)
        assert stats["rows"] == len(seeded) and stats["hwm"] == -1
        assert sorted(
            map(tuple, read(spark, path, "doc_id").collect())
        ) == seeded
        ingest(batch, 0, path, out)
        assert dedup.ingest_high_water_mark(path) == 0
        state = sorted(map(tuple, read(spark, path, "doc_id").collect()))
        assert len(state) > len(seeded) and set(seeded) <= set(state)
        # the replay published exactly once: the batch's rows are there
        # once, and a second replay adds nothing
        assert len(set(state)) == len(state)
        ingest(batch, 0, path, out)
        assert sorted(
            map(tuple, read(spark, path, "doc_id").collect())
        ) == state
        assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [
            100, 101, 102,
        ]


def test_compact_rerun_heals_mid_swap_crash(spark, tmp_path, monkeypatch):
    """A compaction that crashes between its rewrite and its publish
    leaves the old version the newest one: the checkpoint still reads
    the old rows, and the next compaction completes normally."""
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(20)], "doc_id long, text string"
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                n_sig_buckets=8)
    dedup.write_band_checkpoint(
        spark.createDataFrame([(100, _rngtext(60))],
                              "doc_id long, text string"),
        path, "doc_id", "text", mode="append", batch_id=0,
    )
    want = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    with monkeypatch.context() as m:
        _crash_before_publish(m)
        with pytest.raises(RuntimeError, match="crash before publish"):
            dedup.compact_band_checkpoint(spark, path)
    assert writers._latest_manifest(path)["version"] == 2
    assert sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    ) == want

    stats = dedup.compact_band_checkpoint(spark, path)
    got = sorted(
        map(tuple, dedup.read_band_checkpoint(spark, path, "doc_id")
            .collect())
    )
    assert got == want
    per_cell = _cell_files(path)
    assert per_cell and all(n == 1 for n in per_cell.values()), per_cell
    assert stats["hwm"] == 0  # the high-water mark carried forward


def test_streaming_ingest_with_compact_every_matches_plain(
    spark, tmp_path
):
    """r10: the streaming loops fold compaction into their maintenance
    cadence (``compact_every=N``, run AFTER the Nth batch's publish). A drain with compact_every=1 must admit exactly what the
    uncompacted drain admits, and leave every touched bucket at one
    file."""
    import time as _time

    T = {
        i: f"the quick brown fox number {i} jumps over the lazy dog "
           f"and then recites shingle {i} twice for minhash stability"
        for i in range(1, 6)
    }
    U1 = "an entirely fresh document about spark structured streaming"
    U2 = "another novel text concerning locality sensitive hashing bands"
    V1 = "a third unique body of text on incremental corpus ingestion"

    corpus = spark.createDataFrame(
        [(i, T[i]) for i in range(1, 6)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(101, T[1]), (102, U1), (103, U2)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.2)
    spark.createDataFrame(
        [(201, U1), (202, T[2]), (203, V1)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    admitted = {}
    for variant, every in (("plain", 0), ("compacted", 1)):
        base = tmp_path / variant
        band_path, out = str(base / "bands"), str(base / "out")
        dedup.write_band_checkpoint(corpus, band_path, "doc_id", "text",
                                    n_sig_buckets=8)
        q = dedup.streaming_neardup_ingest(
            spark, src, "doc_id long, text string",
            band_path, out, str(base / "ckpt"), compact_every=every,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"
        admitted[variant] = sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )
        if every:
            per_cell = _cell_files(band_path)
            assert per_cell and all(n == 1 for n in per_cell.values()), (
                per_cell
            )
            # the loop committed both batches before compacting each time
            assert dedup.ingest_high_water_mark(band_path) == 1
    assert admitted["compacted"] == admitted["plain"] == [102, 103, 203]


def test_replayed_cadence_batch_compacts_once(spark, tmp_path):
    """The streaming ingest compacts on the one durable cadence, after a
    publish: a cadence batch replayed after its stream commit was lost
    (the crash between the checkpoint's publish and the stream's commit)
    is a no-op and publishes no second ``compact`` manifest. A cadence
    on the batch id re-ran the full rewrite for every such replay."""
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(5)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(100 + d, _freshtext(d)) for d in range(3)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    band_path, out = str(tmp_path / "bands"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dedup.write_band_checkpoint(corpus, band_path, "doc_id", "text")

    def drain():
        q = dedup.streaming_neardup_ingest(
            spark, src, "doc_id long, text string", band_path, out, ckpt,
            compact_every=1,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"

    drain()
    after = writers.list_parquet_snapshots(band_path)
    assert [s["mode"] for s in after] == ["compact"]
    assert after[0]["src_batch"] == 0
    for name in ("0", ".0.crc"):  # the lost commit and its checksum
        os.remove(os.path.join(ckpt, "commits", name))
    drain()  # the restart replays batch 0
    assert writers.list_parquet_snapshots(band_path) == after
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [
        100, 101, 102,
    ]


def test_marker_race_first_publisher_wins_whole(spark, tmp_path,
                                               monkeypatch):
    """Two writers racing the same uncommitted batch id can never both
    commit: a manifest is claimed with ``put_if_absent`` (a uniquely
    named stage, then ``os.link``), so the first publisher's commit
    stands whole. Simulate the worst interleaving: the racer publishes
    BETWEEN our stage write and our link. With the same content ours
    becomes a no-op; with other content ours is refused."""
    corpus = spark.createDataFrame(
        [(d, _rngtext(d)) for d in range(5)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, _freshtext(1))], "doc_id long, text string"
    )
    other = spark.createDataFrame(
        [(100, _freshtext(2))], "doc_id long, text string"
    )
    for ours, fails in ((batch, False), (other, True)):
        path = str(tmp_path / f"state_{int(fails)}")
        dedup.write_band_checkpoint(corpus, path, "doc_id", "text")
        real_link = os.link
        state = {"raced": False}

        def racing_link(src, dst):
            if not state["raced"]:
                state["raced"] = True
                # the racing process commits batch 7 first
                dedup.write_band_checkpoint(
                    batch, path, "doc_id", "text", mode="append",
                    batch_id=7,
                )
            return real_link(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "link", racing_link)
            if fails:
                with pytest.raises(ValueError, match="DIFFERENT content"):
                    dedup.write_band_checkpoint(
                        ours, path, "doc_id", "text", mode="append",
                        batch_id=7,
                    )
            else:
                dedup.write_band_checkpoint(
                    ours, path, "doc_id", "text", mode="append", batch_id=7
                )
        assert state["raced"]
        # one commit of batch 7, the racer's, whole
        snaps = writers.list_parquet_snapshots(path)
        assert [s["src_batch"] for s in snaps] == [-1, 7]
        ids = {r.doc_id for r in dedup.read_band_checkpoint(
            spark, path, "doc_id").collect()}
        assert ids == set(range(5)) | {100}
        assert writers._latest_manifest(path)["rows"] == len(
            dedup.read_band_checkpoint(spark, path, "doc_id").collect()
        )
        # no stale stage files left behind by either writer
        snap_dir = os.path.join(path, "_snapshots")
        assert [n for n in os.listdir(snap_dir) if n.endswith(".tmp")] == []
