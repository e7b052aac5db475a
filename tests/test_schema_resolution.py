"""Schema resolution without a Spark job per read.

Input tables (``plans.registry.table``) read with Spark's own inferred
schema, cached per input identity and inference confs; snapshot versions
read with the schema their manifest records. Pins: a warm read runs no
job, a rewritten input or a flipped inference conf infers again, snapshot
reads keep their dtypes and rows, and schema-less legacy manifests still
read.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers as W
from pyspark_bigdata_sars_cov_2_analysis_spark.io.readers import TESTDATA_TABLES
from pyspark_bigdata_sars_cov_2_analysis_spark.plans import registry
from tests.conftest import SF_TEST
from tests.fixtures import jobs_during

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"


def test_warm_table_reads_run_no_job(spark):
    for name in TESTDATA_TABLES:
        registry.table(spark, SF_TEST, name)
    frames, jobs = jobs_during(
        spark,
        lambda: {n: registry.table(spark, SF_TEST, n) for n in TESTDATA_TABLES},
    )
    assert jobs == 0
    # the cached schema is inference's own, metadata included
    for name, df in frames.items():
        if name != "events":  # events.ts may be rebuilt from nanos
            inferred = spark.read.parquet(f"{SF_TEST}/{name}.parquet").schema
            assert df.schema == inferred, name
    assert frames["events"].schema["ts"].dataType.simpleString() == "timestamp"


def test_rewritten_input_infers_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert registry.table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    got = registry.table(spark, str(tmp_path), "t")
    assert got.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in got.collect()] == [(3, "x")]
    # a directory input is keyed by its files
    d = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(d)
    assert registry.table(spark, str(tmp_path), "d").columns == ["id"]
    spark.range(2).selectExpr("id", "id * 2 AS v").write.mode("overwrite").parquet(d)
    got = registry.table(spark, str(tmp_path), "d")
    assert got.columns == ["id", "v"]
    assert sorted(tuple(r) for r in got.collect()) == [(0, 0), (1, 2)]


def test_inference_confs_key_the_cache(spark, tmp_path):
    ns = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001],
                           pa.timestamp("ns")),
        }),
        ns, version="2.6",
    )
    blob = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), blob)
    prior = {k: spark.conf.get(k) for k in (NANOS_AS_LONG, BINARY_AS_STRING)}
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        assert registry._parquet_schema(spark, ns)["ts"].dataType.simpleString() == "bigint"
        # table() rebuilds the timestamp from the nanos, truncated to micros
        ev = registry.table(spark, str(tmp_path), "events")
        assert ev.schema["ts"].dataType.simpleString() == "timestamp"
        assert [r.us for r in ev.orderBy("id").selectExpr("unix_micros(ts) AS us").collect()] == [
            1_700_000_000_123_456, 1_700_000_001_000_000,
        ]
        # with the legacy conf off, Spark refuses TIMESTAMP(NANOS): the
        # cached bigint schema must not be served under the flipped conf
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(Exception, match="Illegal Parquet type"):
            registry._parquet_schema(spark, ns)
        spark.conf.set(NANOS_AS_LONG, "true")
        assert registry._parquet_schema(spark, ns)["ts"].dataType.simpleString() == "bigint"

        for flag, want in (("false", "binary"), ("true", "string"), ("false", "binary")):
            spark.conf.set(BINARY_AS_STRING, flag)
            assert registry._parquet_schema(spark, blob)["b"].dataType.simpleString() == want
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def _typed(spark, lo, hi):
    rows = [
        (i, decimal.Decimal(f"{i}.25"), datetime.datetime(2024, 1, 1, 0, 0, i),
         [i, i + 1], (i, f"s{i}"))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "id bigint, amt decimal(12,2), ts timestamp, arr array<int>, "
        "st struct<a:int,b:string>",
    )


def _wide(spark, lo, hi):
    """``_typed`` plus the types whose inference a conf could steer or a
    frame could spell differently: timestamp_ntz, binary, a map, a
    varchar and an array of structs."""
    from pyspark.sql import functions as F

    return _typed(spark, lo, hi).select(
        "*",
        F.col("ts").cast("timestamp_ntz").alias("tn"),
        F.col("id").cast("string").cast("binary").alias("bin"),
        F.create_map(F.lit("k"), F.col("id").cast("int")).alias("m"),
        F.expr("cast(concat('v', id) as varchar(8))").alias("vc"),
        F.array(
            F.struct(F.col("id").cast("int").alias("k"), F.lit("x").alias("w"))
        ).alias("recs"),
    )


def test_snapshot_versions_read_with_manifest_schema(spark, tmp_path):
    """Every publish records the writing frame's schema; for each kind
    of version (overwrite, append, two range compactions, delete,
    evolved append) that schema is what inference over the version's
    files returns, and the version reads with it, rows unchanged —
    without a job unless the version is evolved (merge-read)."""
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_wide(spark, 0, 3), path)
    W.write_parquet_snapshot(_wide(spark, 3, 5), path, mode="append")
    W.compact_parquet_snapshot(spark, path, cluster_by=["id"])
    W.compact_parquet_snapshot(
        spark, path, target_files=2, cluster_by=["id", "amt"]
    )
    W.delete_from_snapshot(spark, path, "id = 1")
    W.write_parquet_snapshot(
        _wide(spark, 5, 7).selectExpr("*", "cast(id as string) AS extra"),
        path, mode="append", allow_schema_evolution=True,
    )
    modes = [s["mode"] for s in W.list_parquet_snapshots(path)]
    assert modes == [
        "overwrite", "append", "compact", "compact", "delete", "append"
    ]
    for version in (None, 1, 2, 3, 4, 5, 6):
        frame, jobs = jobs_during(
            spark,
            lambda: W.read_parquet_snapshot(spark, path, version=version),
        )
        snap = W._load_manifest(path, version or 6)
        if not snap.get("evolved"):
            assert jobs == 0, version
        assert [list(p) for p in frame.dtypes] == snap["schema"]
        inferred = spark.read.option(
            "mergeSchema", bool(snap.get("evolved"))
        ).parquet(*snap["files"])
        assert [list(p) for p in inferred.dtypes] == snap["schema"], version
        assert frame.schema == inferred.schema, version
        assert sorted(frame.collect()) == sorted(inferred.collect())
    assert W.read_parquet_snapshot(spark, path).count() == 6
    assert W.read_parquet_snapshot(spark, path, version=5).count() == 4


def test_schemaless_legacy_manifest_still_reads(spark, tmp_path):
    path = str(tmp_path / "tbl")
    W.write_parquet_snapshot(_typed(spark, 0, 3), path)
    mf = os.path.join(path, W._SNAP_DIR, "v00000001.json")
    with open(mf) as fh:
        legacy = json.load(fh)
    del legacy["schema"]
    with open(mf, "w") as fh:
        json.dump(legacy, fh)
    got = W.read_parquet_snapshot(spark, path)
    assert got.columns == ["id", "amt", "ts", "arr", "st"]
    assert sorted(r.id for r in got.collect()) == [0, 1, 2]
