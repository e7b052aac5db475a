"""Structured Streaming tests (SURVEY.md §2.12 — green-field surface).

Strategy: run each streaming transform over the events parquet with an
``availableNow`` trigger into a memory sink, then assert the result equals
the oracle-checked BATCH twin in plans/events.py — same logical semantics,
streaming execution.
"""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark import streaming as S
from pyspark_bigdata_sars_cov_2_analysis_spark.plans import registry
from tests.conftest import SF_TEST


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """A directory of parquet files (file-stream source needs a dir); two
    files so maxFilesPerTrigger exercises multiple micro-batches."""
    d = tmp_path_factory.mktemp("events_stream")
    df = registry.table(spark, SF_TEST, "events")
    df.repartition(2).write.mode("overwrite").parquet(str(d / "data"))
    yield str(d / "data")
    shutil.rmtree(str(d), ignore_errors=True)


def _run_stream(spark, stream_df, name: str, mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    return spark.table(name)


def test_tumbling_counts_matches_batch(spark, events_dir):
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.tumbling_counts(stream), "tumbling_mem", "complete"
    )
    # batch twin: same transform applied to the static frame
    batch = registry.table(spark, SF_TEST, "events")
    expected = S.tumbling_counts(batch)
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want and len(got) > 0


def test_session_windows_match_batch_sessionize(spark, events_dir):
    """session_window(gap=30m) must produce the same (user, session_start,
    n_events) sets as the batch lag/cumsum sessionizer (e02)."""
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.sessionized(stream), "sessions_mem", "complete"
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    batch = QUERIES["e02_sessionize"](spark, SF_TEST)
    got = sorted(
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in result.collect()
    )
    want = sorted(
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_streaming_dedup_within_watermark(spark, events_dir):
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.latest_state_per_key(stream), "dedup_mem", "append"
    )
    n_events = registry.table(spark, SF_TEST, "events").count()
    assert result.count() == n_events  # event_ids unique → all pass through


def test_sliding_counts_matches_batch(spark, events_dir):
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.sliding_counts(stream), "sliding_mem", "complete"
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    batch = QUERIES["e04_sliding_window"](spark, SF_TEST)
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_stateful_user_totals_match_batch(spark, events_dir):
    """applyInPandasWithState running totals: after an availableNow
    backfill, the LAST emitted row per user equals the batch aggregate."""
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.running_user_totals(stream), "usertotals_mem", "update"
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    # memory sink in update mode appends every emission; the final state
    # per user is its max n_events (counts only grow)
    final = (
        result.groupBy("user_id")
        .agg(
            F.max_by("n_events", "n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    batch = QUERIES["e05_user_totals"](spark, SF_TEST)
    got = sorted(
        (r["user_id"], r["n_events"], round(r["total_value"], 2))
        for r in final.collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"], r["total_value"]) for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Watermarked interval join (view→purchase attribution) must produce
    the batch twin's rows exactly once across micro-batches."""
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark,
        S.view_purchase_attribution(stream),
        "attribution_mem",
        "append",
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    batch = QUERIES["e06_view_purchase_attribution"](spark, SF_TEST)
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_latest_per_user_state_matches_batch(spark, events_dir):
    """applyInPandasWithState latest-per-user: after an availableNow
    backfill the final emission per user equals the batch window-max plan
    (e03), including the (ts DESC, event_id DESC) tiebreak."""
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.latest_per_user_state(stream), "latestuser_mem", "update"
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    # update-mode memory sink keeps every emission; the final state per
    # user is the row with the max (ts_us, event_id)
    final = (
        result.groupBy("user_id")
        .agg(
            F.max(F.struct("ts_us", "event_id", "event_type", "value")).alias("s")
        )
        .select("user_id", "s.event_id", "s.event_type", "s.value")
    )
    batch = QUERIES["e03_dedup_latest_state"](spark, SF_TEST)
    got = sorted(
        (r["user_id"], r["event_id"], r["event_type"], round(r["value"], 2))
        for r in final.collect()
    )
    want = sorted(
        (r["user_id"], r["event_id"], r["event_type"], r["value"])
        for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_available_now_incremental_lifecycle(spark, tmp_path):
    """Actual streaming-query lifecycle over a time-ordered multi-file
    layout: one file per micro-batch, watermark advancing batch to batch,
    state growing then EVICTING (observable in StreamingQueryProgress),
    and append-mode emissions that are exactly the batch twin's finalized
    windows — incremental execution evidence, not just plan equivalence."""
    import os
    import time as _time

    from pyspark.sql import Window

    src = str(tmp_path / "src")
    os.makedirs(src)
    df = registry.table(spark, SF_TEST, "events")
    bucketed = df.withColumn("b", F.ntile(6).over(Window.orderBy("ts")))
    for i in range(1, 7):
        bucketed.where(F.col("b") == i).drop("b").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(0.2)  # distinct modTimes -> deterministic file order

    stream = S.read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        S.tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("lifecycle_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]

    # multiple micro-batches actually ran (one per file)
    assert len(progresses) >= 6, [p["numInputRows"] for p in q.recentProgress]

    # the event-time watermark advanced across batches (the final no-data
    # finalization batch availableNow runs carries the last advance, so
    # scan ALL progress entries for the cutoff)
    watermarks = [
        p["eventTime"]["watermark"]
        for p in q.recentProgress
        if "watermark" in p.get("eventTime", {})
    ]
    assert len(set(watermarks)) > 1, watermarks
    assert watermarks == sorted(watermarks), watermarks

    # windowed-agg state was held AND evicted as the watermark passed
    state = [p["stateOperators"][0] for p in progresses if p["stateOperators"]]
    assert max(s["numRowsTotal"] for s in state) > 0
    assert sum(s.get("numRowsRemoved", 0) for s in state) > 0, (
        "watermark never evicted state"
    )

    # append emissions == batch twin's windows finalized by the last
    # watermark (never more, never duplicated)
    emitted = spark.table("lifecycle_mem")
    batch = S.tumbling_counts(registry.table(spark, SF_TEST, "events"))
    final_wm = watermarks[-1].replace("T", " ").split(".")[0]
    want = sorted(
        map(
            tuple,
            batch.where(
                # window END (start + 1h) must be <= watermark to finalize
                F.col("window_start")
                <= F.date_format(
                    F.to_timestamp(F.lit(final_wm)) - F.expr("INTERVAL 1 HOUR"),
                    "yyyy-MM-dd HH:mm:ss",
                )
            ).collect(),
        )
    )
    got = sorted(map(tuple, emitted.collect()))
    assert got == want and len(got) > 0


def test_checkpoint_recovery_exactly_once(spark, events_dir, tmp_path):
    """Restarting a checkpointed stream over the same source must not
    duplicate or drop windows: run to completion, 'crash', restart with
    the same checkpoint — the parquet sink holds each window exactly
    once."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = S.read_event_stream(spark, events_dir)
        q = (
            S.tumbling_counts(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream drain timed out"

    run_once()
    first = spark.read.parquet(out).count()
    run_once()  # same checkpoint: no new input -> no new output
    again = spark.read.parquet(out)
    assert again.count() == first
    # every (window, type) appears exactly once
    dups = (
        again.groupBy("window_start", "event_type")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups == 0 and first > 0


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    """Stream-static broadcast join + windowed agg must equal the
    oracle-checked batch twin (e07) after an availableNow backfill —
    and being stateless on the join, it needs no join watermark."""
    stream = S.read_event_stream(spark, events_dir)
    customers = registry.table(spark, SF_TEST, "customer")
    result = _run_stream(
        spark,
        S.segment_window_counts(stream, customers),
        "segment_mem",
        "complete",
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    batch = QUERIES["e07_segment_window"](spark, SF_TEST)
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_transform_with_state_v2_matches_batch(spark, events_dir):
    """Spark 4 StatefulProcessor (transformWithStateInPandas) running
    totals must converge to the same per-user aggregates as the v1
    applyInPandasWithState operator and the batch twin (e05).

    The TWS state-server protocol needs google.protobuf in the Python
    workers; where the env lacks it (this container), skip — the v1
    applyInPandasWithState path stays the oracle-tested default."""
    pytest.importorskip("google.protobuf")
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.running_user_totals_v2(stream), "usertotals_v2_mem", "update"
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    final = (
        result.groupBy("user_id")
        .agg(
            F.max_by("n_events", "n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    batch = QUERIES["e05_user_totals"](spark, SF_TEST)
    got = sorted(
        (r["user_id"], r["n_events"], round(r["total_value"], 2))
        for r in final.collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"], r["total_value"]) for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_streaming_neardup_ingest_band_checkpoint(spark, tmp_path):
    """The d11 streaming twin (VERDICT r6 #8): micro-batches dedup
    against the PERSISTED band checkpoint, append survivors, and append
    their own bands — so batch 2 must catch duplicates of BOTH the
    seeded corpus and batch 1's survivors. A restart over the same
    streaming checkpoint re-processes nothing (restart exactly-once)."""
    import os
    import time as _time

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

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
    band_path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, band_path, "doc_id", "text")

    src = str(tmp_path / "src")
    os.makedirs(src)
    batch1 = spark.createDataFrame(
        [(101, T[1]), (102, U1), (103, U2)], "doc_id long, text string"
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.2)  # distinct modTimes -> deterministic file order
    batch2 = spark.createDataFrame(
        [(201, U1), (202, T[2]), (203, V1)], "doc_id long, text string"
    )
    batch2.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "stream_ckpt")

    def run_once():
        q = dedup.streaming_neardup_ingest(
            spark, src, "doc_id long, text string",
            band_path, out, ckpt,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"

    run_once()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # 101 dups corpus T1; 202 dups corpus T2; 201 dups batch 1's
    # SURVIVOR 102 (U1) — only caught because batch 1 appended its bands
    assert got == [102, 103, 203], got

    # the checkpoint grew: corpus + batch survivors are all banded
    banded = dedup.read_band_checkpoint(spark, band_path, "doc_id")
    ids = {r.doc_id for r in banded.select("doc_id").distinct().collect()}
    assert ids == {1, 2, 3, 4, 5, 102, 103, 203}

    # restart over the same streaming checkpoint: nothing re-processed
    run_once()
    again = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert again == got


def test_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """The foreachBatch crash-replay hazard, driven directly: running the
    SAME (batch_df, batch_id) through ingest_batch_idempotent twice —
    exactly what a restart after a mid-batch crash does — must leave the
    output byte-identical to one run (the dynamic per-batch partition
    overwrite replaces, never appends), while a DIFFERENT batch_id lands
    in its own partition without touching the first."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(1, "seed document about the quick brown fox and the lazy dog")],
        "doc_id long, text string",
    )
    band_path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, band_path, "doc_id", "text")
    out = str(tmp_path / "out")

    batch = spark.createDataFrame(
        [(10, "a wholly new text concerning structured streaming replays"),
         (11, "another fresh body of words on idempotent batch sinks")],
        "doc_id long, text string",
    )
    dedup.ingest_batch_idempotent(batch, 0, band_path, out)
    first = sorted(
        (r.doc_id, r.ingest_batch)
        for r in spark.read.parquet(out).collect()
    )
    assert first == [(10, 0), (11, 0)]

    # crash-replay: same batch, same id — output must NOT duplicate
    dedup.ingest_batch_idempotent(batch, 0, band_path, out)
    replay = sorted(
        (r.doc_id, r.ingest_batch)
        for r in spark.read.parquet(out).collect()
    )
    assert replay == first

    # a later batch appends its own partition and leaves batch 0 alone;
    # doc 20 duplicates batch 0's survivor 10, so the checkpoint the
    # replay re-appended must still dedup correctly (no re-admission)
    batch2 = spark.createDataFrame(
        [(20, "a wholly new text concerning structured streaming replays"),
         (21, "completely unrelated prose about parquet partition pruning")],
        "doc_id long, text string",
    )
    dedup.ingest_batch_idempotent(batch2, 1, band_path, out)
    final = sorted(
        (r.doc_id, r.ingest_batch)
        for r in spark.read.parquet(out).collect()
    )
    assert final == [(10, 0), (11, 0), (21, 1)]


def test_funnel_state_matches_batch_on_ordered_stream(spark, tmp_path):
    """The stateful streaming funnel: over a ts-ordered multi-file drain
    (arrival order == event-time order, so the first-arriving eligible
    event IS the batch minimum) the final per-user stage timestamps must
    equal e11's batch step frames exactly — conversion counts included."""
    import os
    import time as _time

    from pyspark.sql import Window

    src = str(tmp_path / "funnel_src")
    os.makedirs(src)
    df = registry.table(spark, SF_TEST, "events")
    bucketed = df.withColumn("b", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    for i in range(1, 5):
        bucketed.where(F.col("b") == i).drop("b").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(0.2)

    stream = S.read_event_stream(spark, src, max_files_per_trigger=1)
    result = _run_stream(
        spark, S.funnel_state(stream), "funnel_mem", "update"
    )
    # stages only advance, so the final state per user is the max triple
    final = {
        r.user_id: (r.v, r.c, r.p)
        for r in result.groupBy("user_id")
        .agg(
            F.max("v_ts_us").alias("v"),
            F.max("c_ts_us").alias("c"),
            F.max("p_ts_us").alias("p"),
        )
        .collect()
    }

    # batch twin, e11's step logic with explicit timestamps
    e = df.select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("v"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("t") > F.col("v"))
        .groupBy("user_id")
        .agg(F.min("t").alias("c"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("t") > F.col("c"))
        .groupBy("user_id")
        .agg(F.min("t").alias("p"))
    )
    want = {
        r.user_id: (r.v, r.c, r.p)
        for r in v.join(c, "user_id", "left").join(p, "user_id", "left").collect()
    }
    # users with no view at all hold (None, None, None) state rows
    got_viewers = {u: s for u, s in final.items() if s[0] is not None}
    assert got_viewers == want and len(want) > 0


def test_watermark_drops_late_data_accounted(spark, tmp_path):
    """Late-data ACCOUNTING: an event arriving days behind the advanced
    watermark must be (1) counted in numRowsDroppedByWatermark and (2)
    absent from the emitted aggregates — the other half of the
    lifecycle test's eviction story (state leaving is only correct if
    stragglers for evicted windows are dropped, not resurrected)."""
    import os
    import time as _time

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    base = "2024-03-01 00:10:00"
    rows1 = [(i, base[:11] + f"{h:02d}:10:00", 1, "click", 1.0, "{}")
             for i, h in enumerate(range(0, 8))]
    rows2 = [(100 + i, f"2024-03-02 {h:02d}:10:00", 1, "click", 1.0, "{}")
             for i, h in enumerate(range(0, 8))]
    late = [(999, "2024-03-01 00:20:00", 1, "click", 1.0, "{}")]  # day-old
    schema = ("event_id long, ts_s string, user_id long, event_type string,"
              " value double, props string")
    for rows in (rows1, rows2, late):
        spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props"
        ).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.2)

    stream = S.read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        S.tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("late_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    assert dropped >= 1, [p["numInputRows"] for p in q.recentProgress]
    # the late event's window (Mar 1 00:00) finalized with n=1 from the
    # on-time event only — the straggler never resurrected it
    emitted = {
        (r.window_start, r.n)
        for r in spark.table("late_mem").collect()
        if r.window_start == "2024-03-01 00:00:00"
    }
    assert emitted == {("2024-03-01 00:00:00", 1)}, emitted


def test_ingest_batch_replay_survives_torn_band_append(
    spark, tmp_path, monkeypatch
):
    """ADVICE r7 #1: a crash can fall after a batch's band rows are
    written but before they are committed. Those rows are named by no
    manifest, so the replay must recompute the IDENTICAL survivor set.
    Had they been visible, survivor 11 would self-match its own bands
    and sibling near-dup 12 would cross-match them, and the scoped
    dynamic overwrite would rewrite the partition without either:
    silent loss."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    seed = ("the seed corpus document about distributed minhash band "
            "checkpoints and their exactly once ingestion semantics")
    twin = ("two sibling documents in the same batch that are near "
            "duplicates of one another yet both admitted because the "
            "incremental operator only emits cross side pairs {}")
    corpus = spark.createDataFrame(
        [(1, seed)], "doc_id long, text string"
    )
    band_path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, band_path, "doc_id", "text")
    out = str(tmp_path / "out")

    batch = spark.createDataFrame(
        [
            (10, seed + " extra"),          # dups the corpus -> dropped
            (11, twin.format("alpha")),      # near-dup of 12, admitted
            (12, twin.format("beta")),       # near-dup of 11, admitted
            (13, "a wholly fresh text on parquet partition pruning"),
        ],
        "doc_id long, text string",
    )
    # sanity: 11/12 really are LSH near-dups of each other, 13 is not
    pairs = dedup.incremental_neardup_pairs(
        batch.where("doc_id = 11"), batch.where("doc_id = 12"),
        "doc_id", "text",
    )
    assert [(r.new_id, r.corpus_id) for r in pairs.collect()] == [(11, 12)]

    # the first attempt writes its output and its band rows, then
    # crashes before the manifest publish that would commit them
    def crash(*_args, **_kw):
        raise RuntimeError("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(W, "_link_manifest", crash)
        with pytest.raises(RuntimeError, match="crash before publish"):
            dedup.ingest_batch_idempotent(batch, 0, band_path, out)
    assert dedup.ingest_high_water_mark(band_path) == -1

    # the replay (same batch_df, batch_id 0) must admit 11, 12 and 13
    dedup.ingest_batch_idempotent(batch, 0, band_path, out)
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [11, 12, 13], got

    # and a second full replay over the committed batch is a no-op
    dedup.ingest_batch_idempotent(batch, 0, band_path, out)
    again = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert again == got


def test_ingest_redelivered_id_in_later_batch_is_deduped(spark, tmp_path):
    """ADVICE r8: the replay exclusion must be scoped to the WRITING
    batch's own rows, not to every checkpoint row carrying the batch's
    doc ids. An at-least-once upstream can re-deliver the same doc id in
    a LATER batch (different batch_id); its earlier-batch bands must
    stay on the corpus side so the re-delivery self-matches and drops —
    under the old id-based exclusion it anti-joined its own history away
    and was silently re-admitted into a second output partition."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(1, "the seed corpus document about checkpoint replay scoping "
             "rules and batch identifier stamping semantics")],
        "doc_id long, text string",
    )
    band_path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, band_path, "doc_id", "text")
    out = str(tmp_path / "out")

    doc10 = (10, "a wholly fresh text about parquet partition pruning "
                 "and dynamic overwrite output idempotence guarantees")
    batch0 = spark.createDataFrame([doc10], "doc_id long, text string")
    dedup.ingest_batch_idempotent(batch0, 0, band_path, out)
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [10]

    # batch 1 re-delivers the identical doc: must dedup against its own
    # batch-0 bands and admit nothing
    batch1 = spark.createDataFrame([doc10], "doc_id long, text string")
    dedup.ingest_batch_idempotent(batch1, 1, band_path, out)
    got = [r.doc_id for r in spark.read.parquet(out).collect()]
    assert got == [10], got

    # batch_id=-1 means no batch (a seed): refused
    import pytest as _pytest
    with _pytest.raises(ValueError, match="batch_id"):
        dedup.ingest_batch_idempotent(batch1, -1, band_path, out)


def test_chunk_ingest_redelivered_id_in_later_batch_is_deduped(
    spark, tmp_path
):
    """Chunk-state twin of the re-delivery test: a doc id re-delivered
    in a later batch must find its own earlier-batch spans in the
    checkpoint (they carry a different src_batch) and drop them all —
    not have that state excluded and its spans re-admitted."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    B = [f"boiler{i}" for i in range(10)]
    U = lambda tag: [f"{tag}w{i}" for i in range(10)]  # noqa: E731

    corpus = spark.createDataFrame(
        [(1, _blocks(B, U("seed")))], "doc_id long, text string"
    )
    chunk_path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, chunk_path, "doc_id", "text")
    out = str(tmp_path / "out")

    doc10 = (10, _blocks(B, U("ten")))  # B dups the corpus
    batch0 = spark.createDataFrame([doc10], "doc_id long, text string")
    dedup.chunk_ingest_batch_idempotent(batch0, 0, chunk_path, out)
    got0 = {r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
            for r in spark.read.parquet(out).collect()}
    assert got0 == {10: (_blocks(U("ten")), 2, 1)}

    # batch 1 re-delivers doc 10: every span is already admitted (B by
    # the corpus, U("ten") by batch 0's own append), so nothing survives
    batch1 = spark.createDataFrame([doc10], "doc_id long, text string")
    dedup.chunk_ingest_batch_idempotent(batch1, 1, chunk_path, out)
    got = {(r.doc_id, r.ingest_batch): (r.clean_text, r.n_dropped)
           for r in spark.read.parquet(out).collect()}
    assert got == {(10, 0): (_blocks(U("ten")), 1), (10, 1): ("", 2)}, got

    import pytest as _pytest
    with _pytest.raises(ValueError, match="batch_id"):
        dedup.chunk_ingest_batch_idempotent(batch1, -1, chunk_path, out)


def test_ingest_refuses_batch_ids_below_high_water_mark(spark, tmp_path):
    """ADVICE r9: foreachBatch epoch ids restart at 0 whenever the
    STREAMING checkpoint is deleted or relocated (or a second pipeline
    targets the same state path), and a colliding id would clobber a
    PRIOR incarnation's same-id output partition. Each committed batch
    therefore records its id in the checkpoint manifest; ids BELOW that
    high-water mark raise loudly, while == hwm stays allowed as the
    legitimate newest-batch replay. Both state twins."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    texts = {
        0: "a first distinctive document about broadcast hash join "
           "planning and adaptive query execution thresholds",
        1: "a second distinctive document about shuffle partition "
           "coalescing and skew split heuristics in runtime plans",
        2: "a third distinctive document about columnar parquet "
           "encodings and dictionary page fallback behavior",
    }
    mk = lambda i: spark.createDataFrame(  # noqa: E731
        [(10 + i, texts[i])], "doc_id long, text string"
    )
    seed = spark.createDataFrame(
        [(1, "the seed corpus text about watermark state eviction and "
             "late arrival handling semantics")],
        "doc_id long, text string",
    )

    band_path, bout = str(tmp_path / "bands"), str(tmp_path / "bout")
    dedup.write_band_checkpoint(seed, band_path, "doc_id", "text")
    assert dedup.ingest_high_water_mark(band_path) == -1  # pre-ingest
    dedup.ingest_batch_idempotent(mk(0), 0, band_path, bout)
    dedup.ingest_batch_idempotent(mk(1), 1, band_path, bout)
    assert dedup.ingest_high_water_mark(band_path) == 1
    # incarnation restart: id 0 again, below hwm -> refused
    with _pytest.raises(ValueError, match="high-water"):
        dedup.ingest_batch_idempotent(mk(2), 0, band_path, bout)
    # == hwm is the newest-batch replay: allowed and idempotent
    dedup.ingest_batch_idempotent(mk(1), 1, band_path, bout)
    got = sorted(r.doc_id for r in spark.read.parquet(bout).collect())
    assert got == [10, 11], got
    # review r9: == hwm with DIFFERENT content is NOT a replay — it is a
    # restarted incarnation whose id happens to collide with the newest
    # committed batch (the hwm==0 blind spot of the strictly-below
    # check); the manifest's content fingerprint refuses it
    with _pytest.raises(ValueError, match="DIFFERENT content"):
        dedup.ingest_batch_idempotent(mk(2), 1, band_path, bout)
    # the manual append path shares the guard
    with _pytest.raises(ValueError, match="high-water"):
        dedup.write_band_checkpoint(mk(2), band_path, "doc_id", "text",
                                    mode="append", batch_id=0)

    chunk_path, cout = str(tmp_path / "chunks"), str(tmp_path / "cout")
    dedup.write_chunk_checkpoint(seed, chunk_path, "doc_id", "text")
    dedup.chunk_ingest_batch_idempotent(mk(0), 0, chunk_path, cout)
    dedup.chunk_ingest_batch_idempotent(mk(1), 1, chunk_path, cout)
    assert dedup.ingest_high_water_mark(chunk_path) == 1
    with _pytest.raises(ValueError, match="high-water"):
        dedup.chunk_ingest_batch_idempotent(mk(2), 0, chunk_path, cout)
    dedup.chunk_ingest_batch_idempotent(mk(1), 1, chunk_path, cout)
    with _pytest.raises(ValueError, match="DIFFERENT content"):
        dedup.chunk_ingest_batch_idempotent(mk(2), 1, chunk_path, cout)
    with _pytest.raises(ValueError, match="high-water"):
        dedup.write_chunk_checkpoint(mk(2), chunk_path, "doc_id", "text",
                                     mode="append", batch_id=0)


def test_hwm_zero_incarnation_collision_refused(spark, tmp_path):
    """Review r9: the strictly-below guard's blind spot — after exactly
    ONE committed batch (hwm==0) a restarted incarnation's first epoch
    is 0 == hwm and previously passed as a 'newest-batch replay',
    clobbering the committed batch's output partition. The manifest's
    content fingerprint closes it: same id + different docs raises; the true
    same-content replay stays allowed and idempotent."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    seed = spark.createDataFrame(
        [(1, "seed text about executor memory overhead accounting and "
             "off heap allocation limits")],
        "doc_id long, text string",
    )
    x = spark.createDataFrame(
        [(10, "incarnation A batch about dynamic allocation upscaling "
              "policies and idle executor reaping")],
        "doc_id long, text string",
    )
    # SAME doc id as incarnation A's batch, different text — the common
    # restart shape where sequential id assignment reproduces the exact
    # id range; an id-only fingerprint would call this a replay (second
    # review pass: the fingerprint must cover content, not just ids)
    y = spark.createDataFrame(
        [(10, "incarnation B batch about speculative task launch "
              "quantiles and straggler mitigation")],
        "doc_id long, text string",
    )
    path, out = str(tmp_path / "bands"), str(tmp_path / "out")
    dedup.write_band_checkpoint(seed, path, "doc_id", "text")
    dedup.ingest_batch_idempotent(x, 0, path, out)
    assert dedup.ingest_high_water_mark(path) == 0
    # true replay of the same batch: allowed, output unchanged
    dedup.ingest_batch_idempotent(x, 0, path, out)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [10]
    # restarted incarnation reusing id 0 with different docs: refused
    # BEFORE any state or output is touched
    with _pytest.raises(ValueError, match="DIFFERENT content"):
        dedup.ingest_batch_idempotent(y, 0, path, out)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [10]


def test_checkpoint_append_requires_explicit_batch_id(spark, tmp_path):
    """ADVICE r9: an append must say which batch is writing, so the
    high-water guard can refuse a colliding id (or assert a
    clean-boundary seed extension with an explicit -1); overwrites keep
    the seed default."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(1, "ten words exactly here to make one whole chunk boundary")],
        "doc_id long, text string",
    )
    for writer, name in (
        (dedup.write_band_checkpoint, "bands"),
        (dedup.write_chunk_checkpoint, "chunks"),
    ):
        path = str(tmp_path / name)
        writer(corpus, path, "doc_id", "text")  # default ok on seed
        with _pytest.raises(ValueError, match="explicit batch_id"):
            writer(corpus, path, "doc_id", "text", mode="append")
        # the two documented intents both remain expressible
        writer(corpus, path, "doc_id", "text", mode="append", batch_id=-1)
        writer(corpus, path, "doc_id", "text", mode="append", batch_id=0)


def _blocks(*chunks10):
    """Join 10-word blocks into a doc text (keeps span boundaries
    aligned so identical blocks hash identically at chunk_words=10)."""
    return " ".join(" ".join(c) for c in chunks10)


def test_streaming_chunk_dedup_ingest(spark, tmp_path):
    """The d14 streaming twin (VERDICT r7 #8): micro-batches drop spans
    already admitted by the corpus OR by earlier batches, publish
    reassembled docs per batch, and append their own new spans — and the
    result equals chunk_dedup_keep_first over the concatenated corpus
    (ids increase with arrival, so first-occurrence order agrees).
    Restart reprocesses nothing; a torn checkpoint append replays
    byte-identically (the ingest_batch_idempotent hardening)."""
    import os
    import time as _time

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    B = [f"boiler{i}" for i in range(10)]          # shared boilerplate span
    U = lambda tag: [f"{tag}w{i}" for i in range(10)]  # noqa: E731

    corpus = spark.createDataFrame(
        [(1, _blocks(B, U("seed")))], "doc_id long, text string"
    )
    chunk_path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, chunk_path, "doc_id", "text")

    src = str(tmp_path / "src")
    os.makedirs(src)
    batch1 = spark.createDataFrame(
        [(10, _blocks(B, U("ten"))),       # B dups the corpus
         (11, _blocks(U("eleven"), B))],   # B at a different position
        "doc_id long, text string",
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.2)
    batch2 = spark.createDataFrame(
        # B dups corpus; U("ten") dups batch 1's doc 10 — only caught
        # because batch 1 appended its spans to the checkpoint
        [(20, _blocks(B, U("ten"), U("twenty")))],
        "doc_id long, text string",
    )
    batch2.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "stream_ckpt")

    def run_once():
        q = dedup.streaming_chunk_dedup_ingest(
            spark, src, "doc_id long, text string",
            chunk_path, out, ckpt,
        ).start()
        assert q.awaitTermination(120), "stream drain timed out"

    run_once()
    got = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
        for r in spark.read.parquet(out).collect()
    }
    assert got[10] == (_blocks(U("ten")), 2, 1)
    assert got[11] == (_blocks(U("eleven")), 2, 1)
    assert got[20] == (_blocks(U("twenty")), 3, 2)

    # streaming == batch: the one-shot operator over the concatenated
    # corpus must agree on every streamed doc
    full = corpus.unionByName(batch1).unionByName(batch2)
    want = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
        for r in dedup.chunk_dedup_keep_first(
            full, "doc_id", "text"
        ).collect()
        if r.doc_id >= 10
    }
    assert got == want

    # restart: the streaming checkpoint re-processes nothing
    run_once()
    again = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
        for r in spark.read.parquet(out).collect()
    }
    assert again == got


def test_chunk_ingest_replay_survives_torn_append(
    spark, tmp_path, monkeypatch
):
    """Replaying the same (batch_df, batch_id) — after a committed run
    and after one that crashed between writing its chunk state and
    publishing it — must rewrite the batch partition byte-identically:
    unpublished state is named by no manifest, so the replay always
    sees the pre-batch state."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    B = [f"boiler{i}" for i in range(10)]
    U = lambda tag: [f"{tag}w{i}" for i in range(10)]  # noqa: E731

    corpus = spark.createDataFrame(
        [(1, _blocks(B, U("seed")))], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, _blocks(B, U("ten"))), (11, _blocks(U("eleven"), U("ten")))],
        "doc_id long, text string",
    )
    chunk_path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, chunk_path, "doc_id", "text")
    out = str(tmp_path / "out")

    dedup.chunk_ingest_batch_idempotent(batch, 0, chunk_path, out)
    first = sorted(
        map(tuple, spark.read.parquet(out).collect())
    )
    # doc 11's U("ten") block dups doc 10's WITHIN the batch
    assert {t[0]: t[3] for t in first} == {10: 1, 11: 1}

    # committed replay
    dedup.chunk_ingest_batch_idempotent(batch, 0, chunk_path, out)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == first

    # torn first attempt on a fresh checkpoint: state written, never
    # published — the replay must still produce `first`, not drop doc
    # 10's spans as "already admitted"
    torn_path, torn_out = str(tmp_path / "torn"), str(tmp_path / "torn_out")
    dedup.write_chunk_checkpoint(corpus, torn_path, "doc_id", "text")

    def crash(*_args, **_kw):
        raise RuntimeError("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(W, "_link_manifest", crash)
        with pytest.raises(RuntimeError, match="crash before publish"):
            dedup.chunk_ingest_batch_idempotent(batch, 0, torn_path, torn_out)
    dedup.chunk_ingest_batch_idempotent(batch, 0, torn_path, torn_out)
    assert sorted(map(tuple, spark.read.parquet(torn_out).collect())) == first


def test_chunk_checkpoint_bucketed_probe_prunes_state(spark, tmp_path):
    """VERDICT r8 #4: the per-batch state probe must PRUNE checkpoint
    cells, not scan the full linear state. Seed a many-bucket
    checkpoint, probe with a one-chunk batch: the pruned read must scan
    only files under that lhb cell, strictly fewer than the checkpoint
    holds — and the pruned anti-join must agree with the unpruned one
    (pruning only removes buckets the batch cannot match by
    construction of the shared hash)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    W = lambda d, i: f"d{d}w{i}"  # noqa: E731
    corpus = spark.createDataFrame(
        [(d, " ".join(W(d, i) for i in range(20))) for d in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, path, "doc_id", "text",
                                 n_buckets=16)
    files = writers._latest_manifest(path)["files"]
    n_dirs = len({f.split("/")[-2] for f in files})
    assert n_dirs >= 8, n_dirs  # 80 distinct spans spread the grid

    batch = spark.createDataFrame(
        [(100, " ".join(W(3, i) for i in range(10)))],  # doc 3's 1st span
        "doc_id long, text string",
    )
    chunks = dedup._doc_chunks(batch, "doc_id", "text", 10)
    buckets = sorted(
        r.b for r in chunks.select(
            dedup._lh_bucket(F.col("lh"), 16).alias("b")).distinct().collect()
    )
    assert len(buckets) == 1  # one chunk -> one bucket
    pruned = dedup.read_chunk_checkpoint(spark, path, "doc_id",
                                         buckets=buckets)
    assert {f.split("/")[-2] for f in pruned.inputFiles()} == {
        f"lhb={buckets[0]}"
    }
    # the executed scan's numFiles metric is what the read opened
    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    read_files = int(scan.metrics().apply("numFiles").value())
    total_files = len(files)
    assert 0 < read_files < total_files, (read_files, total_files)

    # correctness: pruned probe == unpruned probe on the anti-join result
    full = dedup.read_chunk_checkpoint(spark, path, "doc_id")
    got_p = sorted(map(tuple, chunks.join(
        pruned.select("lh"), "lh", "left_anti").collect()))
    got_f = sorted(map(tuple, chunks.join(
        full.select("lh"), "lh", "left_anti").collect()))
    assert got_p == got_f
    assert len(got_p) == 0  # doc 3's span is already admitted

    # end-to-end through the ingest entry point on the bucketed layout
    out = str(tmp_path / "out")
    dedup.chunk_ingest_batch_idempotent(batch, 0, path, out)
    rows = {r.doc_id: (r.clean_text, r.n_dropped)
            for r in spark.read.parquet(out).collect()}
    assert rows == {100: ("", 1)}, rows

    # appends with a mismatched bucket grid are refused
    with pytest.raises(ValueError, match="n_buckets"):
        dedup.write_chunk_checkpoint(corpus, path, "doc_id", "text",
                                     mode="append", batch_id=-1,
                                     n_buckets=8)


def test_band_checkpoint_bucketed_probe_prunes_state(spark, tmp_path):
    """Band-state twin of the chunk pruning test: the sigb sub-partition
    must let a small batch's probe open strictly fewer state files than
    the checkpoint holds, only those under its sigb cells — and the
    pruned pair set must equal the unpruned one (rows in other sigb
    buckets have a different band_sig under the SAME hash, so they can
    never share a bucket with the batch)."""
    import glob as _glob

    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    rngtext = lambda d: " ".join(  # noqa: E731
        f"w{(d * 7 + i * 13) % 97}" for i in range(30)
    )
    corpus = spark.createDataFrame(
        [(d, rngtext(d)) for d in range(60)], "doc_id long, text string"
    )
    path = str(tmp_path / "bands")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                n_sig_buckets=16)
    total_files = len(W._latest_manifest(path)["files"])
    assert total_files >= 16, total_files

    batch = spark.createDataFrame(
        [(100, rngtext(3))], "doc_id long, text string"  # dups doc 3
    )
    bands = dedup.lsh_bands(
        dedup.minhash_signatures(batch, "doc_id", "text", 3, 12),
        "doc_id", 12, 3,
    )
    sig_buckets = sorted(
        r.b for r in bands.select(
            dedup._lh_bucket(F.col("band_sig"), 16).alias("b")
        ).distinct().collect()
    )
    assert 0 < len(sig_buckets) <= 4  # one doc -> at most 4 band sigs
    pruned = dedup.read_band_checkpoint(spark, path, "doc_id",
                                        sig_buckets=sig_buckets)
    assert {f.split("/")[-2] for f in pruned.inputFiles()} <= {
        f"sigb={b}" for b in sig_buckets
    }
    pruned.collect()
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    read_files = int(scan.metrics().apply("numFiles").value())
    assert 0 < read_files < total_files, (read_files, total_files)

    # pruned == unpruned pair sets
    full = dedup.read_band_checkpoint(spark, path, "doc_id")
    got_p = sorted(map(tuple, dedup.incremental_neardup_pairs(
        batch, None, "doc_id", "text", corpus_bands=pruned).collect()))
    got_f = sorted(map(tuple, dedup.incremental_neardup_pairs(
        batch, None, "doc_id", "text", corpus_bands=full).collect()))
    assert got_p == got_f and (100, 3) in got_p, (got_p, got_f)

    # end-to-end: the duplicate batch admits nothing via the entry point
    # (an all-dup batch publishes no data files at all)
    out = str(tmp_path / "out")
    dedup.ingest_batch_idempotent(batch, 0, path, out)
    assert not _glob.glob(f"{out}/**/*.parquet", recursive=True)

    # appends with a mismatched grid are refused
    with pytest.raises(ValueError, match="n_sig_buckets"):
        dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                    mode="append", batch_id=-1,
                                    n_sig_buckets=8)


def test_chunk_ingest_equals_batch_on_random_corpora(spark, tmp_path):
    """Seeded random-corpus sweep for the d14 streaming twin: any corpus
    split into arrival-ordered micro-batches must reproduce
    chunk_dedup_keep_first over the concatenation exactly — not just on
    planted boilerplate. Tiny vocabulary forces heavy cross-batch span
    collisions."""
    import random

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    for seed in (3, 29):
        rng = random.Random(seed)
        vocab = [f"v{i}" for i in range(6)]
        docs = [
            (i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(5, 40))))
            for i in range(30)
        ]
        base = tmp_path / f"s{seed}"
        chunk_path, out = str(base / "chunks"), str(base / "out")
        seed_corpus = spark.createDataFrame(
            docs[:10], "doc_id long, text string"
        )
        dedup.write_chunk_checkpoint(seed_corpus, chunk_path, "doc_id", "text")
        for b, lo in enumerate(range(10, 30, 10)):
            batch = spark.createDataFrame(
                docs[lo:lo + 10], "doc_id long, text string"
            )
            dedup.chunk_ingest_batch_idempotent(
                batch, b, chunk_path, out
            )
        got = {
            r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
            for r in spark.read.parquet(out).collect()
        }
        full = spark.createDataFrame(docs, "doc_id long, text string")
        want = {
            r.doc_id: (r.clean_text, r.n_chunks, r.n_dropped)
            for r in dedup.chunk_dedup_keep_first(
                full, "doc_id", "text"
            ).collect()
            if r.doc_id >= 10
        }
        assert got == want, seed


def test_chunk_checkpoint_param_sidecar_guards(spark, tmp_path):
    """The recorded chunk_words must refuse a mismatched reuse on BOTH
    the read and the append path — a silent mismatch would chunk on
    different boundaries and dedup against nothing (the band-checkpoint
    ADVICE r6 rule applied to the d14 state)."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(1, "ten words exactly here to make one whole chunk boundary")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, path, "doc_id", "text",
                                 chunk_words=10)
    with _pytest.raises(ValueError, match="chunk_words"):
        dedup.read_chunk_checkpoint(spark, path, "doc_id", chunk_words=5)
    with _pytest.raises(ValueError, match="chunk_words"):
        dedup.write_chunk_checkpoint(
            corpus, path, "doc_id", "text", chunk_words=5, mode="append",
            batch_id=-1,
        )
    # matched params still read fine and the append path still works
    assert dedup.read_chunk_checkpoint(
        spark, path, "doc_id", chunk_words=10
    ).count() > 0
    dedup.write_chunk_checkpoint(
        corpus, path, "doc_id", "text", chunk_words=10, mode="append",
        batch_id=-1,
    )


def test_checkpoint_append_refused_without_sidecar(spark, tmp_path):
    """ADVICE r8: state rows must never be re-labelled with parameters
    other than the ones they were computed under. The recorded params
    ride the manifest that names the rows, so rows without a manifest —
    a writer that crashed before its first publish — are invisible: an
    append there publishes only its own rows under the caller's params.
    An overwrite re-seed and an append onto a genuinely empty path both
    still work."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(1, "ten words exactly here to make one whole chunk boundary")],
        "doc_id long, text string",
    )
    more = corpus.withColumn("doc_id", F.col("doc_id") + 1)
    for writer, read, name in (
        (dedup.write_chunk_checkpoint, dedup.read_chunk_checkpoint,
         "chunk"),
        (dedup.write_band_checkpoint, dedup.read_band_checkpoint, "band"),
    ):
        path = tmp_path / name
        writer(corpus, str(path), "doc_id", "text")
        shutil.rmtree(path / "_snapshots")  # the seed never published
        writer(more, str(path), "doc_id", "text", mode="append",
               batch_id=-1)
        snaps = W.list_parquet_snapshots(str(path))
        assert [s["version"] for s in snaps] == [1]
        assert {r.doc_id for r in read(spark, str(path), "doc_id")
                .collect()} == {2}
        # recovery: a full re-seed works, and appends resume after it
        writer(corpus, str(path), "doc_id", "text", mode="overwrite")
        writer(more, str(path), "doc_id", "text", mode="append",
               batch_id=-1)
        assert {r.doc_id for r in read(spark, str(path), "doc_id")
                .collect()} == {1, 2}
        # an append onto a brand-new empty path is still allowed
        writer(corpus, str(tmp_path / f"fresh_{name}"), "doc_id",
               "text", mode="append", batch_id=-1)


def test_checkpoint_grid_defaults_adopt_sidecar_on_append(spark, tmp_path):
    """Review r9: the grid default must not BREAK the documented append
    path on a checkpoint whose grid differs from today's default (a flat
    layout, or a deliberately smaller grid). Default (None) adopts the
    recorded grid on append; an explicit int still asserts it."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    def cells(path):
        return {f.split("/")[-2] for f in W._latest_manifest(path)["files"]}

    corpus = spark.createDataFrame(
        [(d, f"some shingled text body number {d} for banding") for d in
         range(4)],
        "doc_id long, text string",
    )
    more = corpus.withColumn("doc_id", F.col("doc_id") + 100)

    # flat band checkpoint: a default append must keep it flat, not
    # raise 0 != 16
    path = str(tmp_path / "bands_flat")
    dedup.write_band_checkpoint(corpus, path, "doc_id", "text",
                                n_sig_buckets=0)
    dedup.write_band_checkpoint(more, path, "doc_id", "text", mode="append",
                                batch_id=-1)
    assert dedup.read_band_params(spark, path)["n_sig_buckets"] == 0
    assert all(c.startswith("band=") for c in cells(path)), cells(path)
    assert dedup.read_band_checkpoint(spark, path, "doc_id").count() > 0
    # explicit grid on append still asserts
    with _pytest.raises(ValueError, match="n_sig_buckets"):
        dedup.write_band_checkpoint(more, path, "doc_id", "text",
                                    mode="append", batch_id=-1,
                                    n_sig_buckets=16)

    # chunk twin with a non-default grid: default append adopts 8
    cpath = str(tmp_path / "chunks8")
    dedup.write_chunk_checkpoint(corpus, cpath, "doc_id", "text",
                                 n_buckets=8)
    dedup.write_chunk_checkpoint(more, cpath, "doc_id", "text",
                                 mode="append", batch_id=-1)
    assert dedup.read_chunk_params(spark, cpath) == {"chunk_words": 10, "n_buckets": 8}
    # appended rows landed INSIDE the 8-bucket grid (probe-visible)
    assert 0 < len(cells(cpath)) <= 8
    with _pytest.raises(ValueError, match="n_buckets"):
        dedup.write_chunk_checkpoint(more, cpath, "doc_id", "text",
                                     mode="append", batch_id=-1,
                                     n_buckets=64)


def test_chunk_ingest_unpersists_on_validation_error(spark, tmp_path):
    """Review r9: a chunk_words-mismatch raise fires AFTER the batch's
    exploded chunk frame is cached — the finally must still release it,
    or each failed foreachBatch retry in a long session pins another
    frame in executor storage."""
    import pytest as _pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(1, "ten words exactly here to make one whole chunk boundary")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "chunks")
    dedup.write_chunk_checkpoint(corpus, path, "doc_id", "text",
                                 chunk_words=10)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    with _pytest.raises(ValueError, match="chunk_words"):
        dedup.chunk_ingest_batch_idempotent(
            corpus, 0, path, str(tmp_path / "out"), chunk_words=5
        )
    assert cm.isEmpty(), "validation error leaked the cached chunk frame"


def test_ingest_queries_empty_output_read_back(spark, tmp_path):
    """Review r9: a run where every batch publishes zero data files (no
    docs land outside the seed third, or every batch doc is a dup) must
    return an EMPTY frame from d19/d20, not an AnalysisException from
    schema inference over a footerless directory."""
    import os

    from pyspark_bigdata_sars_cov_2_analysis_spark import plans

    sf = str(tmp_path / "sf_seed_only")
    os.makedirs(sf)
    # only ids ≡ 0 (mod 3): both modulo-third batches are EMPTY
    docs = spark.createDataFrame(
        [(d * 3, f"some shingled text body number {d} for banding",
          "en", "crawl", 40) for d in range(4)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    assert plans.QUERIES["d19_chunk_ingest_incremental"](spark, sf).count() == 0
    assert plans.QUERIES["d20_band_ingest_incremental"](spark, sf).count() == 0


def test_append_skips_sidecar_rewrite(spark, tmp_path):
    """Review r9 follow-up: an append must not rewrite the recorded
    parameters — the values are identical by construction, and a
    rewrite would risk relabelling state. The append's manifest carries
    the seed's params forward unchanged, and the seed's manifest file is
    byte-identical before and after (published manifests are never
    rewritten)."""
    import os as _os

    from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    corpus = spark.createDataFrame(
        [(1, "ten words exactly here to make one whole chunk boundary")],
        "doc_id long, text string",
    )
    for writer, name in (
        (dedup.write_band_checkpoint, "band"),
        (dedup.write_chunk_checkpoint, "chunk"),
    ):
        path = str(tmp_path / name)
        writer(corpus, path, "doc_id", "text")
        seed = _os.path.join(path, "_snapshots", "v00000001.json")
        with open(seed, "rb") as fh:
            seed_bytes = fh.read()
        mtime = _os.stat(seed).st_mtime_ns
        writer(
            corpus.withColumn("doc_id", F.col("doc_id") + 1),
            path, "doc_id", "text", mode="append", batch_id=-1,
        )
        snaps = W.list_parquet_snapshots(path)
        assert [s["version"] for s in snaps] == [1, 2]
        assert snaps[1]["params"] == snaps[0]["params"]
        with open(seed, "rb") as fh:
            assert fh.read() == seed_bytes
        assert _os.stat(seed).st_mtime_ns == mtime, (
            f"the {name} seed manifest was rewritten on append"
        )


def test_statestore_reader_exposes_dedup_state(spark, events_dir, tmp_path):
    """Ops surface for §2.12 — Spark 4's ``statestore`` / ``state-metadata``
    readers: the "what is my streaming state right now" diagnostic a
    100 TB deployment needs before state grows unbounded. A drained
    dropDuplicates(user_id) stream must expose exactly the batch-distinct
    user ids as state keys (the stateful-dedup contract made directly
    inspectable), and the metadata reader must name the dedup operator
    with its checkpoint bounds."""
    ckpt = str(tmp_path / "ss_ckpt")
    stream = (
        spark.readStream.schema(
            registry.table(spark, SF_TEST, "events").schema
        )
        .parquet(events_dir)
        .dropDuplicates(["user_id"])
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    state_keys = {
        r.user_id
        for r in spark.read.format("statestore")
        .load(ckpt)
        .select(F.col("key.user_id").alias("user_id"))
        .collect()
    }
    batch_keys = {
        r.user_id
        for r in registry.table(spark, SF_TEST, "events")
        .select("user_id")
        .distinct()
        .collect()
    }
    assert state_keys == batch_keys
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert any("dedupe" in r.operatorName.lower() for r in meta), meta


def test_band_ingest_matches_independent_sequential_admission(
    spark, tmp_path
):
    """Independent semantic check for the band ingest loop (beyond the
    replay/torn tests, which verify idempotence, and d20's oracle, which
    fixes one corpus): on a random corpus, each batch's published
    admissions must equal exactly the batch docs with NO band collision
    against bands(seed ∪ previously admitted) — the sequential-admission
    definition recomputed here from lsh_bands directly, never through
    the ingest code under test. A mid-run same-content replay rides
    along to confirm it cannot perturb the admission sequence."""
    import random

    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import dedup

    def bands_of(df):
        return dedup.lsh_bands(
            dedup.minhash_signatures(df, "doc_id", "text", 3, 12),
            "doc_id", 12, 3,
        )

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(10)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 25))))
        for i in range(24)
    ]
    bp, out = str(tmp_path / "bands"), str(tmp_path / "out")
    seed_df = spark.createDataFrame(docs[:8], "doc_id long, text string")
    dedup.write_band_checkpoint(seed_df, bp, "doc_id", "text")
    corpus_docs = list(docs[:8])
    for b, lo in enumerate(range(8, 24, 8)):
        rows = docs[lo:lo + 8]
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        dedup.ingest_batch_idempotent(bdf, b, bp, out)
        if b == 0:
            dedup.ingest_batch_idempotent(bdf, b, bp, out)  # replay
        cb = bands_of(
            spark.createDataFrame(corpus_docs, "doc_id long, text string")
        ).select("band", "band_sig")
        nb = bands_of(bdf)
        dup = {
            r.doc_id
            for r in nb.join(cb, ["band", "band_sig"])
            .select("doc_id").distinct().collect()
        }
        expect = sorted(d[0] for d in rows if d[0] not in dup)
        got = sorted(
            r.doc_id
            for r in spark.read.parquet(out)
            .where(F.col("ingest_batch") == b)
            .collect()
        )
        assert got == expect, (b, got, expect)
        corpus_docs += [d for d in rows if d[0] not in dup]


def test_latest_per_user_state_survives_null_ordering_keys(spark, tmp_path):
    """Review r14: a NULL event_id arrives in the pandas state worker as
    NaN and int(nan) raised ValueError — one bad row deterministically
    killed the whole streaming query. Null-keyed rows are now skipped
    (no place in a latest-by-(ts, event_id) ordering); real rows still
    fold."""
    d = str(tmp_path / "null_events")
    base = registry.table(spark, SF_TEST, "events").limit(20)
    nulls = spark.sql(
        "SELECT CAST(1 AS BIGINT) user_id, CAST(NULL AS BIGINT) event_id, "
        "TIMESTAMP'2024-01-01 00:00:00' ts, 'view' event_type, "
        "CAST(NULL AS DOUBLE) value, CAST(NULL AS STRING) props"
    )
    base.unionByName(nulls).coalesce(1).write.mode("overwrite").parquet(d)
    stream = S.read_event_stream(spark, d)
    result = _run_stream(
        spark, S.latest_per_user_state(stream), "latestuser_null_mem",
        "update",
    )
    rows = result.collect()
    assert len(rows) > 0  # the query completed and emitted the real rows
    assert all(r.event_id is not None for r in rows)


def test_latest_state_preserves_null_attributes(spark, tmp_path):
    """Review r15: str(None) stored the literal string 'None' and a
    NULL value rode NaN into the output — the batch twin e03 emits
    NULL for both. Only the ORDERING keys (ts, event_id) must be
    non-null; carried attributes round-trip as true NULLs."""
    d = tmp_path / "null_attr_events"
    spark.createDataFrame(
        [(1, 100, 1000, None, None), (1, 50, 999, "view", 1.5)],
        "user_id long, t long, event_id long, event_type string, value double",
    ).select(
        "user_id",
        F.timestamp_micros("t").alias("ts"),
        "event_id", "event_type", "value",
    ).write.parquet(str(d))
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, "
            "event_type string, value double"
        ).parquet(str(d))
    )
    result = _run_stream(
        spark, S.latest_per_user_state(stream), "nullattr_mem", "update"
    )
    rows = result.where(F.col("ts_us") == 100).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["event_type"] is None, r  # NOT the string 'None'
    assert r["value"] is None, r  # NOT NaN


def test_sessionized_duration_matches_batch_twin(spark, events_dir):
    """Review r15: window_us is the session_window SPAN (last event +
    gap — a single-event session spans the whole gap), while the batch
    twin e02 reports max(ts)-min(ts). sessionized now emits BOTH; the
    new duration_us must equal e02's duration_us row-for-row."""
    stream = S.read_event_stream(spark, events_dir)
    result = _run_stream(
        spark, S.sessionized(stream), "sessdur_mem", "complete"
    )
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES

    got = sorted(
        (r["user_id"], r["session_start_us"], r["duration_us"])
        for r in result.collect()
    )
    want = sorted(
        (r["user_id"], r["session_start_us"], r["duration_us"])
        for r in QUERIES["e02_sessionize"](spark, SF_TEST).collect()
    )
    assert got == want and len(got) > 0
    # and the span column exceeds the duration by construction
    assert result.where(F.col("window_us") < F.col("duration_us")).count() == 0
