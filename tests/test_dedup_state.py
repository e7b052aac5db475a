"""Incremental-dedup checkpoint contracts run on both state kinds.

Band state (d11/d20/d22) and chunk first-occurrence state (d14/d19) share
one implementation in ``llmdata/dedup.py``. Several contracts were only
ever tested on one kind; this file runs them on the other:

1. a seed written with a batch id is refused (it would switch dedup off
   for that batch), for both kinds;
2. the hwm-zero incarnation collision is refused for chunk state;
3. compaction and stamp migration heal a mid-swap crash for chunk state;
4. band ingest releases its cached batch frame when validation fails;
5. replaying the newest committed batch is a no-op, for both kinds;
6. the ingest family (d11, d14, d19, d20, d22) returns the same result
   under a different physical plan — AQE off, no broadcast joins, an odd
   shuffle partition count and no whole-stage codegen — and matches its
   DuckDB oracle under both.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark import plans
from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup
from tests.conftest import SF_TEST
from tests.oracle_harness import _canon_rows, duck_connection

DOC = "the quick brown fox jumps over the lazy dog near the river bank today"


def _rows(spark, out: str) -> list:
    if not glob.glob(f"{out}/**/*.parquet", recursive=True):
        return []
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


@pytest.mark.parametrize(
    "writer, ingest",
    [
        (dedup.write_band_checkpoint, dedup.ingest_batch_idempotent),
        (dedup.write_chunk_checkpoint, dedup.chunk_ingest_batch_idempotent),
    ],
    ids=["band", "chunk"],
)
def test_seed_with_batch_id_refused(spark, tmp_path, writer, ingest):
    """A seed is stamped -1 by definition. A seed stamped with batch 0
    wrote no commit marker, so the hwm stayed -1 and batch 0's ingest
    excluded every seed row as its own "torn append": an exact duplicate
    of the seed was admitted. The writer now refuses that seed, and the
    default seed dedups batch 0 as it should."""
    seed = spark.createDataFrame([(1, DOC)], "doc_id long, text string")
    dup = spark.createDataFrame([(2, DOC)], "doc_id long, text string")
    path, out = str(tmp_path / "state"), str(tmp_path / "out")
    with pytest.raises(ValueError, match="seed.*batch_id=0"):
        writer(seed, path, "doc_id", "text", mode="overwrite", batch_id=0)
    writer(seed, path, "doc_id", "text", mode="overwrite", batch_id=-1)
    ingest(dup, 0, path, out)
    if writer is dedup.write_band_checkpoint:
        assert _rows(spark, out) == []  # the duplicate is dropped
    else:  # both of its chunks are dropped
        assert [(r.doc_id, r.n_chunks, r.n_dropped)
                for r in spark.read.parquet(out).collect()] == [(2, 2, 2)]


@pytest.mark.parametrize(
    "writer, ingest",
    [
        (dedup.write_band_checkpoint, dedup.ingest_batch_idempotent),
        (dedup.write_chunk_checkpoint, dedup.chunk_ingest_batch_idempotent),
    ],
    ids=["band", "chunk"],
)
def test_committed_batch_replay_is_noop(spark, tmp_path, writer, ingest):
    """Replaying the newest committed batch with the same content changes
    nothing: its commit marker, written last, proves the output and the
    state rows already landed, so the replay appends no state rows
    again and leaves the output as it was."""
    seed = spark.createDataFrame([(1, DOC)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(2, "an unrelated document about shuffle spill and executor memory"),
         (3, DOC)],
        "doc_id long, text string",
    )
    path, out = str(tmp_path / "state"), str(tmp_path / "out")
    writer(seed, path, "doc_id", "text")
    ingest(batch, 0, path, out)
    state_rows = spark.read.parquet(path).count()
    first = _rows(spark, out)
    assert first and state_rows
    ingest(batch, 0, path, out)
    assert spark.read.parquet(path).count() == state_rows
    assert _rows(spark, out) == first
    assert dedup.ingest_high_water_mark(path) == 0


def test_chunk_hwm_zero_incarnation_collision_refused(spark, tmp_path):
    """Chunk form of the band test in test_streaming.py: after one
    committed batch (hwm 0), a restarted incarnation's batch 0 with the
    same doc id but different text is refused before any state or
    output is touched; the true same-content replay is idempotent."""
    seed = spark.createDataFrame(
        [(1, "seed text about executor memory overhead accounting")],
        "doc_id long, text string",
    )
    x = spark.createDataFrame(
        [(10, "incarnation A batch about dynamic allocation upscaling")],
        "doc_id long, text string",
    )
    y = spark.createDataFrame(
        [(10, "incarnation B batch about speculative task launch quantiles")],
        "doc_id long, text string",
    )
    path, out = str(tmp_path / "chunks"), str(tmp_path / "out")
    dedup.write_chunk_checkpoint(seed, path, "doc_id", "text")
    dedup.chunk_ingest_batch_idempotent(x, 0, path, out)
    assert dedup.ingest_high_water_mark(path) == 0
    first = _rows(spark, out)
    dedup.chunk_ingest_batch_idempotent(x, 0, path, out)
    assert _rows(spark, out) == first
    # a replay may append duplicate state rows (harmless: the probe is an
    # anti-join on lh), so the state is pinned after it
    state = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    )
    with pytest.raises(ValueError, match="DIFFERENT content"):
        dedup.chunk_ingest_batch_idempotent(y, 0, path, out)
    assert _rows(spark, out) == first
    assert sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    ) == state


def _fake_mid_swap_crash(path: str, staged: str, backup: str) -> None:
    """The worst crash point of the staged swap: the table has moved to
    the backup, the verified staged copy is in place, the marker is on
    disk and nothing is at ``path``."""
    shutil.copytree(path, staged)
    shutil.move(path, backup)
    with open(path + ".swap-in-progress", "w") as fh:
        json.dump({"path": path, "staged": staged, "backup": backup}, fh)


def test_chunk_compact_rerun_heals_mid_swap_crash(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(d, " ".join(f"d{d}w{i}" for i in range(20))) for d in range(20)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, path, "doc_id", "text", n_buckets=8)
    dedup.write_chunk_checkpoint(
        spark.createDataFrame(
            [(100, " ".join(f"x{i}" for i in range(20)))],
            "doc_id long, text string",
        ),
        path, "doc_id", "text", mode="append", batch_id=0,
    )
    want = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    )
    _fake_mid_swap_crash(path, path + ".compacting", path + ".pre-compaction")
    assert not os.path.exists(path)

    stats = dedup.compact_chunk_checkpoint(spark, path)  # heals, then runs
    assert not os.path.exists(path + ".swap-in-progress")
    got = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    )
    assert got == want and stats["rows"] == len(want)
    per_dir = {
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(path, "lhb=*"))
    }
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
    assert stats["hwm"] == 0  # markers carried through the healed swap
    assert dedup.read_chunk_params(spark, path) == {
        "chunk_words": 10, "n_buckets": 8,
    }


def test_chunk_stamp_migration_rerun_heals_mid_swap_crash(spark, tmp_path):
    """Chunk form of the band test in test_streaming.py: a legacy
    (unstamped) chunk checkpoint whose migration crashed between the
    swap's renames is healed by re-running the migration, which reads
    the sidecar only after recovery."""
    corpus = spark.createDataFrame(
        [(d, f"some chunked text body number {d} for the span dedup state")
         for d in range(4)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "chunks")
    (
        dedup._doc_chunks(corpus, "doc_id", "text", 10)
        .groupBy("lh")
        .agg(F.min(F.struct(F.col("doc_id").alias("id"), "pos")).alias("fo"))
        .select("lh", F.col("fo.id").alias("doc_id"), F.col("fo.pos").alias("pos"))
        .write.parquet(path)
    )
    spark.createDataFrame([(10,)], "chunk_words int").coalesce(1).write.parquet(
        f"{path}/_chunk_params"
    )
    before = spark.read.parquet(path).count()
    _fake_mid_swap_crash(path, path + ".migrating", path + ".pre-stamp-migration")

    res = dedup.migrate_chunk_checkpoint_stamps(spark, path)
    assert res["rows"] == before and res["seed_rows"] == before
    assert res["had_stamp_col"] is False
    raw = spark.read.parquet(path)  # no mergeSchema: stamps are physical
    assert raw.count() == before
    assert raw.where(F.col("src_batch") != -1).count() == 0
    assert dedup.read_chunk_params(spark, path) == {
        "chunk_words": 10, "n_buckets": 0,
    }


def test_band_ingest_unpersists_on_validation_error(spark, tmp_path):
    """Band form of the chunk test in test_streaming.py: a k/num_hashes
    mismatch raises after the batch's bands are cached, and the cache
    must still be released."""
    corpus = spark.createDataFrame([(1, DOC)], "doc_id long, text string")
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text")
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    with pytest.raises(ValueError, match="band checkpoint"):
        dedup.ingest_batch_idempotent(
            corpus, 0, path, str(tmp_path / "out"), k=5, num_hashes=8
        )
    assert cm.isEmpty(), "validation error leaked the cached band frame"


INGEST_FAMILY = [
    "d11_incremental_dedup",
    "d14_chunk_dedup_keep_first",
    "d19_chunk_ingest_incremental",
    "d20_band_ingest_incremental",
    "d22_compacted_ingest",
]

OTHER_PLAN = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.codegen.wholeStage": "false",
}


def _result_hash(columns: list, rows: list) -> str:
    canon = _canon_rows(list(columns), [tuple(r) for r in rows])
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def test_ingest_family_result_is_plan_independent(spark):
    """The differential-equality pattern (same query, two physical
    plans, equal results): each ingest-family query hashes the same
    under the session's conf and under ``OTHER_PLAN``, and both equal
    its DuckDB oracle. The confs are restored afterwards."""
    con = duck_connection(SF_TEST)
    saved = {k: spark.conf.get(k, None) for k in OTHER_PLAN}
    hashes: dict[str, list[str]] = {}
    try:
        for conf in ({}, OTHER_PLAN):
            for k, v in conf.items():
                spark.conf.set(k, v)
            for name in INGEST_FAMILY:
                df = plans.QUERIES[name](spark, SF_TEST)
                hashes.setdefault(name, []).append(
                    _result_hash(df.columns, df.collect())
                )
                spark.catalog.clearCache()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert {k: spark.conf.get(k, None) for k in OTHER_PLAN} == saved
    for name in INGEST_FAMILY:
        res = con.sql(plans.ORACLES[name])
        oracle = _result_hash(res.columns, res.fetchall())
        assert hashes[name] == [oracle, oracle], name
