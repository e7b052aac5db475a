"""Environment-contract guard (round-3 postmortem).

Round 3 broke because the environment moved (PySpark 4.1.2 infers parquet
``timestamp[us]`` as TIMESTAMP_NTZ) and nothing in tests/ exercised the
driver's exact path: a VANILLA SparkSession — no ``start_session`` conf
pins — calling ``plans.registry.table()``. This test runs that path in a
fresh subprocess interpreter so the session fixture's pins can't mask an
inference drift, and asserts the load-bearing dtypes/confs.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("env-contract-probe")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import table

ev = table(spark, "/root/testdata/sf0.001", "events")
out = {{
    "ts_dtype": dict(ev.dtypes).get("ts"),
    "tz": spark.conf.get("spark.sql.session.timeZone"),
    "nanos_as_long": spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
    "infer_ntz": spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled"),
    "n": ev.limit(5).count(),
    "unix_micros_ok": True,
}}
# the exact expression that hard-failed in round 3 on TIMESTAMP_NTZ
try:
    from pyspark.sql import functions as F
    ev.select(F.unix_micros("ts")).limit(1).collect()
except Exception as exc:
    out["unix_micros_ok"] = False
    out["err"] = str(exc)[:200]
print("CONTRACT:" + json.dumps(out))
spark.stop()
"""


def test_vanilla_session_events_contract():
    proc = subprocess.run(
        [sys.executable, "-c", PROBE.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("CONTRACT:")]
    assert lines, f"probe produced no contract line\n{proc.stdout}\n{proc.stderr}"
    got = json.loads(lines[-1][len("CONTRACT:"):])
    assert got["ts_dtype"] == "timestamp", got
    assert got["tz"] == "UTC", got
    assert got["nanos_as_long"] == "true", got
    assert got["infer_ntz"] == "false", got
    assert got["n"] == 5, got
    assert got["unix_micros_ok"], got


WORKER_PROBE = r"""
import sys
sys.path[:0] = [{repo!r}, {tests!r}]
import oracle_harness
from pyspark_bigdata_sars_cov_2_analysis_spark import plans, start_session

spark = start_session("worker-import-probe", master="local[1]")
name = "u05_grouped_forecast"
oracle_harness.compare(spark, name, plans.QUERIES[name], plans.ORACLES[name], {sf!r})
print("WORKERS_IMPORTED")
spark.stop()
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """Python workers find the package through the session's executor
    PYTHONPATH, not the driver's current directory: a driver started
    outside the checkout, with no PYTHONPATH in its environment, runs a
    pandas-UDF query (u05) to its oracle's result."""
    from tests.conftest import SF_TEST

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    probe = WORKER_PROBE.format(
        repo=REPO, tests=os.path.join(REPO, "tests"), sf=SF_TEST
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert "WORKERS_IMPORTED" in proc.stdout, proc.stderr[-3000:]


OPTIMIZED_PROBE = r"""
import sys
sys.path[:0] = [{repo!r}, {tests!r}]
import oracle_harness
from pyspark_bigdata_sars_cov_2_analysis_spark import plans, start_session

spark = start_session("optimized-probe", master="local[1]")
for name in ("e15_snapshot_sink_stream", "e16_scd2_stream_enrichment"):
    oracle_harness.compare(
        spark, name, plans.QUERIES[name], plans.ORACLES[name], {sf!r}
    )
    print("MATCHED", name, flush=True)
spark.stop()
"""


def test_drains_and_scratch_survive_python_O(tmp_path):
    """Under ``python -O`` (asserts stripped) the streaming queries still
    wait for their drains and match their oracles, and the process leaves
    no ``spark_graft_*`` scratch entry in its ``TMPDIR`` once it exits."""
    from tests.conftest import SF_TEST

    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_GRAFT_DRIVER_MEM="1g")
    probe = OPTIMIZED_PROBE.format(
        repo=REPO, tests=os.path.join(REPO, "tests"), sf=SF_TEST
    )
    proc = subprocess.run(
        [sys.executable, "-O", "-c", probe],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    matched = [l for l in proc.stdout.splitlines() if l.startswith("MATCHED")]
    assert len(matched) == 2, (proc.stdout, proc.stderr[-3000:])
    assert proc.returncode == 0, proc.stderr[-3000:]
    left = [n for n in os.listdir(tmpdir) if n.startswith("spark_graft_")]
    assert left == [], left


class _StubQuery:
    def __init__(self, finished: bool):
        self.finished = finished
        self.stopped = False

    def awaitTermination(self, timeout):
        return self.finished

    def stop(self):
        self.stopped = True


class _StubWriter:
    def __init__(self, query: _StubQuery):
        self.query = query
        self.trigger_kwargs = None

    def trigger(self, **kwargs):
        self.trigger_kwargs = kwargs
        return self

    def start(self):
        return self.query


def test_drain_stops_and_names_a_query_that_times_out():
    """``registry.drain`` stops a stream still running at its timeout and
    raises an error naming the query; a finished one returns untouched.
    Stub writer and query, so no JVM starts."""
    import pytest

    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import drain

    late = _StubQuery(finished=False)
    with pytest.raises(TimeoutError, match="e99_probe"):
        drain(_StubWriter(late), "e99_probe")
    assert late.stopped

    done = _StubQuery(finished=True)
    writer = _StubWriter(done)
    drain(writer, "e99_probe")
    assert not done.stopped
    assert writer.trigger_kwargs == {"availableNow": True}


SESSION_PROBE = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark_bigdata_sars_cov_2_analysis_spark import session


class _Builder:
    conf = {{}}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


class _Session:
    builder = _Builder()


session.SparkSession = _Session
conf = session.start_session()
print("SESSION:" + json.dumps({{
    "master": conf["master"],
    "shuffle": conf["spark.sql.shuffle.partitions"],
    "cpus": len(os.sched_getaffinity(0)),
}}))
"""


def test_session_defaults_follow_host_cpus():
    """With ``SPARK_GRAFT_CPUS`` unset, ``start_session`` sizes local mode
    and the shuffle partitions from the CPUs the process may run on, not
    from a fixed count. The builder is replaced, so no JVM starts."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    proc = subprocess.run(
        [sys.executable, "-c", SESSION_PROBE.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("SESSION:")]
    assert lines, proc.stderr[-3000:]
    got = json.loads(lines[-1][len("SESSION:"):])
    assert got["master"] == f"local[{got['cpus']}]", got
    assert got["shuffle"] == str(got["cpus"]), got


def test_attestation_window_arithmetic(tmp_path):
    """Attestation checks the FIRST ``WINDOW`` names of ``queries()``.
    The order is computed from the CORRECTNESS records: names never
    green (rows, schema and hash all matching) first, in registry
    order; then the rest by the round they were last green in, oldest
    first, ties broken by position in that round's record. Pinned on
    fabricated records, then checked on the repo's own: the computed
    window repeats no name the newest record attested green."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from pyspark_bigdata_sars_cov_2_analysis_spark import plans

    def green(ok=True):
        return {"rows_match": True, "schema_match": True, "hash_match": ok}

    # unpadded round numbers: r10 must sort after r9 numerically
    records = {
        "CORRECTNESS_r2.json": {n: green() for n in "abcd"},
        "CORRECTNESS_r9.json": {"c": green(), "a": green(),
                                "b": green(ok=False)},
        "CORRECTNESS_r10.json": {"d": green(), "e": green(ok=False)},
        # not a round record: ignored
        "CORRECTNESS_notes.json": {"f": green()},
    }
    for fname, rec in records.items():
        (tmp_path / fname).write_text(json.dumps(rec))
    names = ["f", "a", "b", "c", "d", "e"]
    # f, e never green (registry order); b last green r2; c, a last
    # green r9 in that record's order; d last green r10
    assert entry._attestation_order(names, str(tmp_path)) == [
        "f", "e", "b", "c", "a", "d",
    ]
    empty = tmp_path / "none"
    empty.mkdir()
    assert entry._attestation_order(names, str(empty)) == names

    ordered = entry._ordered_names()
    assert sorted(ordered) == sorted(plans.QUERIES)
    assert list(entry.queries()) == ordered
    window = set(ordered[: entry.WINDOW])
    rounds = {}
    for rec in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(rec)[len("CORRECTNESS_r"):-len(".json")])
        with open(rec) as fh:
            rounds[rnd] = json.load(fh)
    newest = rounds[max(rounds)]
    assert not window & {n for n, r in newest.items() if entry._green(r)}
    ever = {n for rec in rounds.values() for n, r in rec.items()
            if entry._green(r)}
    never = [n for n in plans.QUERIES if n not in ever]
    assert ordered[: len(never)] == never
