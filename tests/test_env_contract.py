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


def test_attestation_window_arithmetic():
    """The driver attests the FIRST 50 registered queries. The round-5
    head silently miscounted (21+33 > 50) and 4 queued re-attestations
    fell off the end (ADVICE r5) — pin the arithmetic: every priority
    name must exist in the registry, carry no duplicates, and the
    window must be exactly _PRIORITY_FIRST (all of it) plus the first
    WINDOW − len(_PRIORITY_FIRST) names of _STALE_QUEUE — the cut point
    is computed, never hand-counted in a comment."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from pyspark_bigdata_sars_cov_2_analysis_spark import plans

    listed = (
        entry._PRIORITY_FIRST + entry._STALE_QUEUE + entry._NEXT_WINDOW_FIRST
    )
    assert len(listed) == len(set(listed)), "duplicate priority names"
    unknown = [n for n in listed if n not in plans.QUERIES]
    assert not unknown, f"priority names not in registry: {unknown}"
    ordered = entry._ordered_names()
    assert len(ordered) == len(set(ordered)) == len(plans.QUERIES)
    window = ordered[: entry.WINDOW]
    want = entry._PRIORITY_FIRST + entry._STALE_QUEUE[
        : entry.WINDOW - len(entry._PRIORITY_FIRST)
    ]
    assert window == want, (
        "attestation window drifted from the planned head"
    )
    assert len(entry._PRIORITY_FIRST) == 0, (
        "head accounting changed — re-derive the window plan and update "
        "this pin"
    )
    # round 15 has no failed attestations (r14 was 50/50 green) and no
    # never-attested registrations (r14 held additions at 0), so the
    # head is pure staleness rotation (VERDICT r14 #1)
    # round 15 commits to ZERO new registrations (VERDICT r14 #4)
    assert entry._NEXT_WINDOW_FIRST == []
    # a never-attested query must be in the CURRENT window, or be one of
    # the late-round registrations explicitly committed to LEAD the next
    # window (_NEXT_WINDOW_FIRST — the standing overflow rule: late
    # additions queue behind a full committed window rather than
    # displacing a stale name; local parity covers them until rotation).
    # This invariant is UNCONDITIONAL — it must hold before and after
    # any future CORRECTNESS file lands.
    attested = set()
    for rec in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(rec) as fh:
            attested.update(json.load(fh).keys())
    never = [n for n in plans.QUERIES if n not in attested]
    allowed = set(window) | set(entry._NEXT_WINDOW_FIRST)
    assert all(n in allowed for n in never), (
        f"never-attested queries outside the attestation window and the "
        f"committed next-window head: "
        f"{[n for n in never if n not in allowed]}"
    )
    # `ml01_classifier_bench` (last attested r5) is outside the
    # COMMITTED r15/r16 windows: it was rows-only (a slot bought no
    # hash attestation) until r15 gave it a DuckDB oracle, and a
    # committed window plan is never displaced mid-flight. It is now
    # the stalest hash-eligible name — the r17 planner should lead
    # with it.
    assert "ml01_classifier_bench" not in (
        entry._PRIORITY_FIRST + entry._STALE_QUEUE + entry._NEXT_WINDOW_FIRST
    )
    # Staleness pins. VERDICT r13 What's-wrong #2: derive the plan from
    # the record AS OF planning time — records ≤ r14 only — so the pins
    # hold identically before and after CORRECTNESS_r15.json (or any
    # later record) lands.
    latest = {}
    for rec in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(rec)[len("CORRECTNESS_r"):-len(".json")])
        if rnd > 14:
            continue
        with open(rec) as fh:
            for name in json.load(fh):
                latest[name] = max(latest.get(name, 0), rnd)
    # the r15 window must be exactly the 11 r10-stale names spilled
    # past the r14 cut + the FIRST 39 names whose latest (as-of-r14)
    # attestation is round 11, each in their own record order (cut
    # after q8_market_share)
    with open(os.path.join(REPO, "CORRECTNESS_r10.json")) as fh:
        r10_order = list(json.load(fh).keys())
    r10_stale = [n for n in r10_order if latest.get(n) == 10]
    with open(os.path.join(REPO, "CORRECTNESS_r11.json")) as fh:
        r11_order = list(json.load(fh).keys())
    r11_stale = [n for n in r11_order if latest.get(n) == 11]
    window_tail = entry._STALE_QUEUE[: entry.WINDOW - len(entry._PRIORITY_FIRST)]
    assert len(r10_stale) == 11 and len(r11_stale) == 50
    assert window_tail[:11] == r10_stale, (
        "r15 window head drifted from the CORRECTNESS_r10 record"
    )
    assert window_tail[11:] == r11_stale[:39], (
        "r15 window tail drifted from the CORRECTNESS_r11 record"
    )
    assert window_tail[-1] == "q8_market_share"
    # VERDICT r14 #1: the round-16 head is a complete forward plan —
    # the 11 r11-stale names past the r15 cut (ending
    # q20_potential_promotion), then the 50 r12-stale names in their
    # CORRECTNESS_r12 order (11 + 39 fit a clean 50-slot r16 window;
    # the last 11 spill to r17)
    r16_head = entry._STALE_QUEUE[entry.WINDOW - len(entry._PRIORITY_FIRST):]
    assert len(r16_head) == 11 + 50
    assert r16_head[:11] == r11_stale[39:]
    assert r16_head[11] == "o14_snapshot_lifecycle"
    assert r16_head[-1] == "w04_lag_lead_rank"
    # the r16 continuation must be EXACTLY the names whose latest
    # (as-of-r14) attestation is round 12, in their CORRECTNESS_r12
    # order
    with open(os.path.join(REPO, "CORRECTNESS_r12.json")) as fh:
        r12_order = list(json.load(fh).keys())
    r12_stale = [n for n in r12_order if latest.get(n) == 12]
    assert r16_head[11:] == r12_stale, "r16 continuation drifted from record"
    # Pre-gated r15 pin: the moment the driver's CORRECTNESS_r15.json
    # lands, it must contain EXACTLY this committed window — and this
    # test stays green either way.
    r15_rec = os.path.join(REPO, "CORRECTNESS_r15.json")
    if os.path.exists(r15_rec):
        with open(r15_rec) as fh:
            served = set(json.load(fh).keys())
        assert served == set(window), (
            f"driver served a different r15 window: "
            f"unexpected={sorted(served - set(window))} "
            f"missing={sorted(set(window) - served)}"
        )
