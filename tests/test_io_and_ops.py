"""Unit tests for sinks, set-op edge cases, and operators without a
cross-engine oracle (SURVEY.md §5.2 items 1 and 4)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from pyspark_bigdata_sars_cov_2_analysis_spark.io.writers import (
    write_json_single_file,
    write_parquet,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.operators import setops, sorts
from tests.conftest import SF_TEST


def test_json_single_file_contract(spark, tmp_path):
    """S6 — coalesce(1) JSON-lines: exactly one part file, rereadable
    (ref: spark/jobs/cases_time_analysis.py:309-314)."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )
    out = str(tmp_path / "single")
    write_json_single_file(df, out)
    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 1
    with open(parts[0]) as f:
        lines = [json.loads(line) for line in f]
    assert len(lines) == 100 and lines[0].keys() == {"id", "doubled"}
    back = spark.read.json(out)
    assert back.count() == 100


def test_parquet_partitioned_writer(spark, tmp_path):
    df = spark.read.parquet(f"{SF_TEST}/orders.parquet")
    out = str(tmp_path / "by_status")
    write_parquet(df, out, partition_by=["o_orderstatus"])
    # partition dirs exist → partition pruning is possible on read
    dirs = {p.split("=")[-1] for p in glob.glob(os.path.join(out, "o_orderstatus=*"))}
    assert dirs == {"F", "O", "P"}
    pruned = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    assert pruned.count() == df.where(F.col("o_orderstatus") == "F").count()


def test_union_by_name_missing_columns(spark):
    """U1 — unionByName with allowMissingColumns (the safe version of the
    reference's positional unions)."""
    a = spark.createDataFrame([(1, "x")], "id int, extra string")
    b = spark.createDataFrame([(2,)], "id int")
    out = a.unionByName(b, allowMissingColumns=True)
    rows = {(r["id"], r["extra"]) for r in out.collect()}
    assert rows == {(1, "x"), (2, None)}


def test_intersect_except_all_duplicates(spark):
    """U3 — *All variants preserve duplicate multiplicity."""
    a = spark.createDataFrame([(1,), (1,), (2,)], "v int")
    b = spark.createDataFrame([(1,), (2,), (2,)], "v int")
    assert sorted(
        r["v"] for r in setops.intersect_rows(a, b, keep_duplicates=True).collect()
    ) == [1, 2]
    assert [r["v"] for r in setops.except_rows(a, b, keep_duplicates=True).collect()] == [1]


def test_seeded_split_reproducible(spark):
    df = spark.read.parquet(f"{SF_TEST}/customer.parquet")
    a1, b1 = sorts.seeded_split(df, [0.8, 0.2], seed=2020)
    a2, b2 = sorts.seeded_split(df, [0.8, 0.2], seed=2020)
    assert a1.count() == a2.count() and b1.count() == b2.count()
    assert sorted(r["c_custkey"] for r in b1.collect()) == sorted(
        r["c_custkey"] for r in b2.collect()
    )


def test_recode_values_default_passthrough(spark):
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.relational import (
        recode_values,
    )

    df = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    out = recode_values(df, "k", {"a": "A"}, default=None)
    assert {r["k"] for r in out.collect()} == {"A", "b", "c"}


def test_mlp_inference_matches_numpy(spark):
    """u07's real-MLP UDF must equal a driver-side numpy forward pass with
    the same seeded weights — the golden that replaces a SQL oracle for
    non-SQL-expressible tensor compute."""
    import numpy as np

    from pyspark_bigdata_sars_cov_2_analysis_spark.plans import QUERIES
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table
    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.pandas_udfs import _load_mlp

    got = {
        r["vec_id"]: r["score"]
        for r in QUERIES["u07_mlp_inference"](spark, SF_TEST).collect()
    }
    emb = table(spark, SF_TEST, "embeddings").collect()
    model = _load_mlp()
    batch = np.stack([np.asarray(r["embedding"], dtype="float64") for r in emb])
    want = np.floor(model(batch) * 1e6 + 0.5) / 1e6
    assert len(got) == len(emb) > 0
    for r, w in zip(emb, want):
        assert got[r["vec_id"]] == w


def test_salted_join_equivalence(spark):
    """salted_join must return exactly the plain join's rows (skew salting
    is a physical rewrite, not a semantic one)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import joins
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table
    from tests.conftest import SF_TEST

    o = table(spark, SF_TEST, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, SF_TEST, "lineitem").select("l_orderkey", "l_quantity")
    plain = li.join(o, on=li.l_orderkey == o.o_orderkey)
    salted = joins.salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=5)
    assert "__salt" not in salted.columns
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.select(*plain.columns).collect())
    )


def test_salted_join_spreads_hot_key(spark):
    """A pathological single-key frame must land in n_salts distinct
    (key, salt) groups — the whole point of the rewrite."""
    from pyspark.sql import functions as F

    from pyspark_bigdata_sars_cov_2_analysis_spark.operators import joins

    hot = spark.range(1000).select(F.lit(7).alias("k"), F.col("id").alias("payload"))
    dim = spark.range(10).select(F.col("id").alias("k2"), F.lit("x").alias("attr"))
    out = joins.salted_join(hot, dim, "k", "k2", n_salts=4)
    assert out.count() == 1000
    salts = (
        hot.withColumn(
            "__salt", F.pmod(F.xxhash64("k", "payload"), F.lit(4)).cast("int")
        )
        .select("__salt")
        .distinct()
        .count()
    )
    assert salts == 4


def test_text_reader_lines_and_wholefile(spark, tmp_path):
    from pyspark_bigdata_sars_cov_2_analysis_spark.io.readers import read_text

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.txt").write_text("line one\nline two\n")
    (p / "b.txt").write_text("solo\n")
    lines = read_text(spark, str(p))
    assert lines.count() == 3
    whole = read_text(spark, str(p), whole_file=True)
    assert whole.count() == 2


def test_partitioned_layout_prunes_on_read(spark, tmp_path):
    """A filter on the partition column must prune at planning time —
    PartitionFilters in the scan, and only the matching day's files read."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io.writers import write_parquet
    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

    path = str(tmp_path / "events_by_day")
    e = table(spark, SF_TEST, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    write_parquet(e, path, partition_by=["day"])
    days = [r[0] for r in spark.read.parquet(path).select("day").distinct().collect()]
    assert len(days) > 1, "need multiple partitions for pruning to mean anything"
    one = spark.read.parquet(path).where(F.col("day") == sorted(days)[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    assert one.count() == e.where(F.date_format("ts", "yyyy-MM-dd") == sorted(days)[0]).count()


def test_json_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE + declared corrupt column: malformed JSON lines are
    captured with their raw text (quarantinable, countable) while good
    rows parse normally — not silently nulled, not batch-failing."""
    from pyspark.sql.types import LongType, StringType, StructType

    from pyspark_bigdata_sars_cov_2_analysis_spark.io.readers import read_json

    p = str(tmp_path / "mixed.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "name": "ok"}\n')
        f.write('{"id": 2, "name": "also ok"}\n')
        f.write('{"id": 3, "name": broken!!\n')
    schema = (
        StructType()
        .add("id", LongType())
        .add("name", StringType())
    )
    df = read_json(spark, p, schema=schema, corrupt_column="_bad").cache()
    good = df.where(F.col("_bad").isNull())
    bad = df.where(F.col("_bad").isNotNull())
    assert sorted((r.id, r.name) for r in good.collect()) == [
        (1, "ok"), (2, "also ok")
    ]
    assert bad.count() == 1 and "broken" in bad.collect()[0]._bad
    df.unpersist()
    # the caller's schema object must not have grown
    assert len(schema.fields) == 2
    import pytest
    with pytest.raises(ValueError):
        read_json(spark, p, corrupt_column="_bad")


_AUDIT_PROBE = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[2]")
    .appName("audit-metrics-probe")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from pyspark_bigdata_sars_cov_2_analysis_spark.io.writers import (
    write_json_single_file,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

li = (
    table(spark, {sf!r}, "lineitem")
    .where(F.col("l_quantity") < 30)
    .select("l_orderkey", "l_quantity", "l_tax", "l_returnflag")
)
metrics = write_json_single_file(
    li,
    {out!r},
    audit_metrics={{
        "n_rows": F.count(F.lit(1)),
        "qty_total": F.sum("l_quantity"),
        "null_taxes": F.sum(F.col("l_tax").isNull().cast("int")),
    }},
)
truth = li.agg(
    F.count(F.lit(1)).alias("n"),
    F.sum("l_quantity").alias("q"),
    F.sum(F.col("l_tax").isNull().cast("int")).alias("nc"),
).collect()[0]
written = spark.read.json({out!r}).count()
print("AUDIT:" + json.dumps({{
    "metrics": {{k: float(v) for k, v in metrics.items()}},
    "n": float(truth.n), "q": float(truth.q), "nc": float(truth.nc),
    "written": written,
}}))
spark.stop()
"""


def test_write_json_audit_metrics(tmp_path):
    """X-family operational pattern, promoted to engine API:
    ``write_json_single_file(..., audit_metrics=...)`` attaches an
    ``Observation`` so audit metrics (row counts, sums, null tallies)
    accumulate DURING the write job — at 100 TB this replaces a second
    full-scan validation pass with a free piggyback on the write.

    Runs in an isolated interpreter (the ``test_env_contract`` subprocess
    pattern) because the first ``observe()`` on a session initializes its
    non-serializable ``ObservationManager``, after which MLlib models
    whose ``trainingSummary`` references the session fail task
    serialization (``NotSerializableException: ObservationManager`` —
    this broke ``pipelines/clinical.py``'s bench when the round-6 demo
    ran on the shared fixture). See the warning in ``io/writers.py``."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "audited")
    proc = subprocess.run(
        [sys.executable, "-c",
         _AUDIT_PROBE.format(repo=repo, sf=SF_TEST, out=out)],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("AUDIT:")]
    assert lines, f"probe produced no audit line\n{proc.stdout}\n{proc.stderr}"
    got = json.loads(lines[-1][len("AUDIT:"):])
    m = got["metrics"]
    assert m["n_rows"] == got["n"]
    assert abs(m["qty_total"] - got["q"]) < 1e-6
    assert m["null_taxes"] == got["nc"]
    # the write itself happened, in the same job the metrics rode on
    assert got["written"] == got["n"] > 0


def test_quantized_sum_arrow_null_elements():
    """u08 worker edge cases, driven as plain Arrow batches (no Spark):
    a NULL list row AND a null element INSIDE a list must both yield
    NULL qsum (F.aggregate-style propagation). Before the round-7 fix,
    element nulls became NaN whose int64 cast is undefined garbage."""
    import pyarrow as pa

    from pyspark_bigdata_sars_cov_2_analysis_spark.udf.pandas_udfs import (
        quantized_sum_arrow,
    )

    emb = pa.array(
        [[0.5, 1.0], None, [0.25, None], []],
        type=pa.list_(pa.float64()),
    )
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3, 4], type=pa.int64()), emb],
        ["vec_id", "embedding"],
    )
    (out,) = list(quantized_sum_arrow(iter([batch])))
    assert out.column("qsum").to_pylist() == [16384 + 32768, None, None, 0]
    # sliced batches keep absolute offsets into the shared values buffer
    (tail,) = list(quantized_sum_arrow(iter([batch.slice(2)])))
    assert tail.column("qsum").to_pylist() == [None, 0]


def test_zorder_value_bit_exact(spark):
    """zorder_value must implement the exact Morton interleave (x bits at
    even positions, y at odd) — checked against an independent pure-Python
    reference over a sweep of coordinates, including the grid corners."""
    def z_ref(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 0), (0, 255), (255, 255),
           (170, 85), (128, 64)]
    df = spark.createDataFrame(pts, "x: long, y: long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y",
            sorts.zorder_value([F.col("x"), F.col("y")], bits=8).alias("z"),
        ).collect()
    }
    assert got == {(x, y): z_ref(x, y) for x, y in pts}


def test_time_range_frame_gap_semantics(spark):
    """w07's reason to exist: on gapped days a ROWS frame silently pulls
    stale rows across the gap while a RANGE frame shrinks. Planted series
    day 1,2,3,10 (n=1 each): at day 10 ROWS-3 sums 4, RANGE-3-days sums 1."""
    from pyspark.sql.window import Window

    daily = spark.createDataFrame(
        [("a", "2021-01-01", 1), ("a", "2021-01-02", 1),
         ("a", "2021-01-03", 1), ("a", "2021-01-10", 1)],
        "event_type: string, day: string, n: long",
    ).select("event_type", F.to_date("day").alias("d"), "n")
    rows_w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 0)
    range_w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-3, 0)
    )
    out = {
        r.d.isoformat(): (r.rows_sum, r.range_sum)
        for r in daily.select(
            "d",
            F.sum("n").over(rows_w).alias("rows_sum"),
            F.sum("n").over(range_w).alias("range_sum"),
        ).collect()
    }
    assert out["2021-01-03"] == (3, 3)   # contiguous: frames agree
    assert out["2021-01-10"] == (4, 1)   # gapped: ROWS leaks, RANGE shrinks


def test_parquet_merge_schema_read(spark, tmp_path):
    """The read side of u12's schema evolution: a table whose later files
    carry an extra column must surface it with mergeSchema (old files
    null-padded), while documenting that the default single-footer read
    may drop it. Written as two append generations of one directory."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.io.readers import (
        read_parquet,
    )

    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id: long, v: string"
    ).write.parquet(path)
    spark.createDataFrame(
        [(3, "c", 30.0)], "id: long, v: string, score: double"
    ).write.mode("append").parquet(path)

    merged = read_parquet(spark, path, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 30.0}
    # and the whole multiset survives
    assert sorted(r.id for r in merged.collect()) == [1, 2, 3]


def test_countmin_unseen_probe_estimates_zero(spark):
    """A probe item whose buckets were never touched must estimate 0
    (the left-join/coalesce path) — never NULL, never a phantom count."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.llmdata import sketches

    cms = sketches.countmin_table(
        spark.createDataFrame([("alpha", 5)], "item: string, cnt: long"),
        "item",
        "cnt",
    )
    probes = spark.createDataFrame(
        [("alpha",), ("never-seen-item-xyz",)], "item: string"
    )
    est = {
        r.item: r.est
        for r in sketches.countmin_estimate(cms, probes, "item").collect()
    }
    assert est["alpha"] >= 5
    assert est["never-seen-item-xyz"] == 0


def test_zorder_value_random_sweep_matches_reference(spark):
    """200 seeded-random coordinate pairs (full 16-bit range, 2 and 3
    dimensions) must interleave identically to the pure-Python reference
    — the broad companion to the corner-point test."""
    import random as _random

    rng = _random.Random(20260814)

    def z_ref(coords, bits):
        z = 0
        n = len(coords)
        for i in range(bits):
            for j, c in enumerate(coords):
                z |= ((c >> i) & 1) << (i * n + j)
        return z

    for dims, bits in ((2, 16), (3, 10)):
        pts = [
            tuple(rng.randrange(1 << bits) for _ in range(dims))
            for _ in range(100)
        ]
        schema = ", ".join(f"c{j}: long" for j in range(dims))
        df = spark.createDataFrame(pts, schema)
        got = [
            r.z
            for r in df.select(
                sorts.zorder_value(
                    [F.col(f"c{j}") for j in range(dims)], bits=bits
                ).alias("z")
            ).collect()
        ]
        want = [z_ref(p, bits) for p in pts]
        assert sorted(got) == sorted(want), (dims, bits)
