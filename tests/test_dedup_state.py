"""Incremental-dedup checkpoint contracts run on both state kinds.

Band state (d11/d20/d22) and chunk first-occurrence state (d14/d19) share
one implementation in ``llmdata/dedup.py``. Several contracts were only
ever tested on one kind; this file runs them on the other:

1. a seed written with a batch id is refused (a seed commits no batch),
   for both kinds;
2. the hwm-zero incarnation collision is refused for chunk state;
3. a chunk compaction that crashes before its publish leaves the old
   version readable, and the next compaction succeeds;
4. band ingest releases its cached batch frame when validation fails;
5. replaying the newest committed batch is a no-op, for both kinds;
6. a checkpoint in the pre-manifest format is refused with the fix
   named, for both kinds;
7. reading a checkpoint plans without running a Spark job, for both
   kinds;
8. the ingest family (d11, d14, d19, d20, d22) returns the same result
   under a different physical plan — AQE off, no broadcast joins, an odd
   shuffle partition count and no whole-stage codegen — and matches its
   DuckDB oracle under both.
"""

from __future__ import annotations

import glob
import hashlib
import os
from collections import Counter

import pytest

from pyspark_bigdata_sars_cov_2_analysis_spark import plans
from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup
from tests.conftest import SF_TEST
from tests.fixtures import jobs_during
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
    """A seed commits no batch, so a seed given batch 0 is refused: it
    would claim a commit the state does not hold. The default seed
    dedups batch 0 as it should."""
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
    nothing: its manifest, published last, proves the output and the
    state rows already landed, so the replay adds no state rows again
    and leaves the output as it was."""
    seed = spark.createDataFrame([(1, DOC)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(2, "an unrelated document about shuffle spill and executor memory"),
         (3, DOC)],
        "doc_id long, text string",
    )
    path, out = str(tmp_path / "state"), str(tmp_path / "out")
    writer(seed, path, "doc_id", "text")
    ingest(batch, 0, path, out)
    state = W._latest_manifest(path)
    first = _rows(spark, out)
    assert first and state["rows"]
    ingest(batch, 0, path, out)
    assert W._latest_manifest(path) == state
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
    state = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    )
    with pytest.raises(ValueError, match="DIFFERENT content"):
        dedup.chunk_ingest_batch_idempotent(y, 0, path, out)
    assert _rows(spark, out) == first
    assert sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    ) == state


def test_chunk_compact_rerun_heals_mid_swap_crash(spark, tmp_path,
                                                  monkeypatch):
    """Chunk form of the band test in test_checkpoint_compaction.py: a
    compaction that crashes between its rewrite and its publish leaves
    the old version readable, and the next one completes."""
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

    def crash(*_args, **_kw):
        raise RuntimeError("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(W, "_link_manifest", crash)
        with pytest.raises(RuntimeError, match="crash before publish"):
            dedup.compact_chunk_checkpoint(spark, path)
    assert sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    ) == want

    stats = dedup.compact_chunk_checkpoint(spark, path)
    got = sorted(
        map(tuple, dedup.read_chunk_checkpoint(spark, path, "doc_id").collect())
    )
    assert got == want and stats["rows"] == len(want)
    per_cell = Counter(
        f.split("/")[-2] for f in W._latest_manifest(path)["files"]
    )
    assert per_cell and all(n == 1 for n in per_cell.values()), per_cell
    assert stats["hwm"] == 0  # the high-water mark carried forward
    assert dedup.read_chunk_params(spark, path) == {
        "chunk_words": 10, "n_buckets": 8,
    }


@pytest.mark.parametrize(
    "writer, ingest, read, legacy",
    [
        (dedup.write_band_checkpoint, dedup.ingest_batch_idempotent,
         dedup.read_band_checkpoint, "_band_params"),
        (dedup.write_chunk_checkpoint, dedup.chunk_ingest_batch_idempotent,
         dedup.read_chunk_checkpoint, "_ingest_hwm"),
    ],
    ids=["band", "chunk"],
)
def test_pre_manifest_checkpoint_refused(spark, tmp_path, writer, ingest,
                                         read, legacy):
    """A checkpoint written in the pre-manifest format (a parameter
    sidecar, commit-marker files and no ``_snapshots/``) is refused on
    read, ingest and append with the fix named; re-seeding it with
    mode='overwrite' replaces it, and the checkpoint then holds only
    manifests and data."""
    seed = spark.createDataFrame([(1, DOC)], "doc_id long, text string")
    path, out = tmp_path / "state", str(tmp_path / "out")
    spark.createDataFrame([(1, "x")], "doc_id long, lh string").write.parquet(
        str(path / "part")
    )
    os.makedirs(path / legacy)
    with pytest.raises(ValueError, match="pre-manifest.*mode='overwrite'"):
        read(spark, str(path), "doc_id")
    with pytest.raises(ValueError, match="pre-manifest.*mode='overwrite'"):
        ingest(seed, 0, str(path), out)
    with pytest.raises(ValueError, match="pre-manifest.*mode='overwrite'"):
        writer(seed, str(path), "doc_id", "text", mode="append", batch_id=0)
    with pytest.raises(ValueError, match="pre-manifest"):
        dedup.ingest_high_water_mark(str(path))
    writer(seed, str(path), "doc_id", "text", mode="overwrite")
    assert sorted(os.listdir(path)) == ["_snapshots", "data"]
    assert read(spark, str(path), "doc_id").count() > 0
    assert dedup.ingest_high_water_mark(str(path)) == -1


@pytest.mark.parametrize(
    "writer, read",
    [
        (dedup.write_band_checkpoint, dedup.read_band_checkpoint),
        (dedup.write_chunk_checkpoint, dedup.read_chunk_checkpoint),
    ],
    ids=["band", "chunk"],
)
def test_checkpoint_read_plans_without_spark_jobs(spark, tmp_path, writer,
                                                 read):
    """Reading a checkpoint takes its file list, parameters and schema
    from the newest manifest, so building and planning the read runs no
    Spark job (no parameter read, no schema inference), with or without
    cell pruning."""
    corpus = spark.createDataFrame(
        [(d, f"{DOC} number {d} of the corpus") for d in range(6)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "state")
    grid = "n_sig_buckets" if writer is dedup.write_band_checkpoint else (
        "n_buckets"
    )
    writer(corpus, path, "doc_id", "text", **{grid: 2})

    def plan_reads():
        for cells in (None, [1]):
            kw = {"sig_buckets" if grid == "n_sig_buckets" else "buckets": cells}
            df = read(spark, path, "doc_id", **kw)
            df._jdf.queryExecution().executedPlan()
        return df

    df, jobs = jobs_during(spark, plan_reads)
    assert jobs == 0
    assert df.count() > 0


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
