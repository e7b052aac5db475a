"""One run of one workload, in a fresh process started by ``run.py``.

Load model: closed loop, one client. This process runs the workload's
queries one after another, each as construction
(``plans.QUERIES[name](spark, data_dir)``) then action (a row count),
with the session's caches cleared between queries. The first pass is the
cold pass, in the workload's listed order: the first query of a process
pays most of the JVM's warm-up, and which query that was moved the cold
pass by 20%. Warm passes follow until ``--seconds`` is used up, at least
the workload's ``warm_passes``. The seed only permutes the query order
inside each warm pass.

Passes and queries are timed in CPU seconds of the run's processes (this
driver, its JVM and the JVM's Python workers), which ``run.py`` pins to
one CPU, and in wall seconds. The end-to-end pass and query metrics are
the CPU ones: the host is a shared virtual machine, and the time the
hypervisor gives to its other guests lands in wall time but, with
paravirtual steal accounting, in no process's CPU time. The wall times
and the host's steal share during each pass stay in the run's record.

With ``--trace 1`` the cold pass and every other warm pass are traced:
spans around each phase and each wrapped layer function, Spark's job,
stage, Catalyst and operator accounting per query, and a streaming
listener. The untraced warm passes of the same run give the tracing
overhead.

The result is written as JSON to ``--out``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import time
from contextlib import nullcontext

import oracle
import sparkstats
import tracing
from run import disk_bytes
from workloads import MEASURED_DATA, SMOKE_DATA, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "pyspark_bigdata_sars_cov_2_analysis_spark"
SETUPS = 3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_SPAWN_TIME"])

    from pyspark import SparkContext

    from pyspark_bigdata_sars_cov_2_analysis_spark import plans, start_session

    SparkContext._ensure_initialized()
    launch_s = time.time() - spawned

    data_name = SMOKE_DATA if args.smoke else MEASURED_DATA
    data_dir = os.path.join(HERE, "data", data_name)
    wl = WORKLOADS[args.workload]
    bench = Bench(plans, data_dir, oracle.load()[data_name], args)

    spark, setups = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_up(spark, plans.registry.table, data_dir)
        setups.append((t1 - t0, time.perf_counter() - t1))
    bench.attach(spark)

    rng = random.Random(args.seed)
    traced_run = args.trace == 1
    # a traced run needs an untraced warm pass beside its traced ones
    min_warm = max(wl.warm_passes, 2) if traced_run else wl.warm_passes
    passes = [bench.run_pass(list(wl.queries), 0, traced_run)]
    warm_start = time.perf_counter()
    while True:
        n = len(passes)
        traced = traced_run and n % 2 == 0
        passes.append(bench.run_pass(rng.sample(wl.queries, len(wl.queries)), n, traced))
        elapsed = time.perf_counter() - warm_start
        if n >= min_warm and elapsed + passes[-1]["wall_s"] > args.seconds:
            break
    t0 = time.perf_counter()
    bench.check_digests()
    verify_s = time.perf_counter() - t0

    result = bench.summarize(passes, launch_s, setups)
    result["detail"].update(
        workload=args.workload, seed=args.seed, data=data_name, verify_s=verify_s,
        cpus=os.environ["SPARK_GRAFT_CPUS"], spark_version=spark.version,
    )
    if bench.tracer is not None:
        with open(args.out + ".spans.json", "w") as f:
            json.dump(bench.tracer.to_json(), f)
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


def warm_up(spark, table, data_dir: str) -> None:
    """Read every table's parquet footer. Python workers are left to the
    first query that needs them, so set-up costs the same on every
    workload."""
    for fname in sorted(os.listdir(data_dir)):
        table(spark, data_dir, fname.removesuffix(".parquet")).schema


class Bench:
    def __init__(self, plans, data_dir: str, oracles: dict, args) -> None:
        self.plans = plans
        self.data_dir = data_dir
        self.oracles = oracles
        self.scratch = args.scratch
        self.tracer = tracing.Tracer() if args.trace == 1 else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_frames: dict[str, object] = {}

    def attach(self, spark) -> None:
        self.spark = spark
        self.pids = (os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer is not None:
            self.stats = sparkstats.SparkStats(spark)
            self.streams = sparkstats.StreamCounter()
            spark.streams.addListener(self.streams)

    # --- passes ---------------------------------------------------------

    def run_pass(self, order: list[str], pass_no: int, traced: bool) -> dict:
        rec = {"pass": pass_no, "traced": traced, "queries": {}}
        cpu0, host0 = group_cpu_s(), host_ticks()
        if traced:
            rec["layers"] = self._traced_pass(order, pass_no, rec)
        else:
            t0 = time.perf_counter()
            for name in order:
                rec["queries"][name] = self._run_query(name, None)
            rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = group_cpu_s() - cpu0
        rec["host_steal"] = steal_share(host0)
        return rec

    def _traced_pass(self, order: list[str], pass_no: int, rec: dict) -> dict:
        tr = self.tracer
        tr.pass_no = pass_no
        first_span = len(tr.spans)
        layers: dict[str, float] = {}
        streams0 = dict(self.streams.totals)
        written0 = self._bytes_written()
        stored = inputs = peak = 0
        with self._wrapped(), tr.span("pass") as pass_span:
            for name in order:
                tr.query = name
                tmp0 = disk_bytes(os.path.join(self.scratch, "tmp"))
                q0 = len(tr.spans)
                q = rec["queries"][name] = self._run_query(name, layers)
                stored += max(disk_bytes(os.path.join(self.scratch, "tmp")) - tmp0, 0)
                tables = {s.detail for s in tr.spans[q0:] if s.name == "plans.read_table"}
                inputs += sum(os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
                              for t in tables)
                peak = max(peak, disk_bytes(self.scratch))
            tr.query = None
        rec["wall_s"] = pass_span.end - pass_span.start
        for name, q in rec["queries"].items():
            per = tracing.layer_self_times(
                tr.spans, lambda s: s.pass_no == pass_no and s.query == name)
            for not_a_layer in _STRUCTURAL + ("trace.collect",):
                per.pop(not_a_layer, None)
            if per:
                q["largest_layer"] = max(per, key=per.get)
        per = tracing.layer_self_times(tr.spans, lambda s: s.pass_no == pass_no)
        unattributed = sum(per.get(name, 0.0) for name in _STRUCTURAL)
        spans = tr.spans[first_span:]
        for name, key, count in _WRAPPED_TOTALS:
            ds = [s.end - s.start for s in spans if s.name == name]
            layers[key] = sum(ds)
            if count:
                layers[count] = len(ds)
        self.stats.drain_events()
        for k, v in self.streams.totals.items():
            layers[k] = v - streams0[k]
        layers.update({
            "io.bytes_written": self._bytes_written() - written0,
            "io.scratch_bytes_peak": peak,
            "io.stored_bytes_per_input_byte": stored / inputs if inputs else 0.0,
            "trace.coverage": 1 - unattributed / rec["wall_s"],
        })
        return layers

    def _run_query(self, name: str, layers: dict | None) -> dict:
        """Build and count one query. With ``layers`` (a traced pass), also
        add its Spark accounting and spans into ``layers``."""
        tr = self.tracer if layers is not None else None
        q: dict = {}
        self.attempted += 1
        try:
            with _maybe(tr, "query"):
                if tr is not None:
                    self.stats.new_jobs()
                    q0 = len(tr.spans) - 1  # this query's span
                cpu0 = group_cpu_s()
                t0 = time.perf_counter()
                with _maybe(tr, "plans.build"):
                    df = self.plans.QUERIES[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                if tr is not None:
                    build_jobs = self.stats.new_jobs()
                t2 = time.perf_counter()
                with _maybe(tr, "exec.action"):
                    counted = df.groupBy().count()
                    rows = counted.collect()[0][0]
                t3 = time.perf_counter()
                q.update(build_s=t1 - t0, action_s=t3 - t2, cpu_s=group_cpu_s() - cpu0)
                if tr is not None:
                    with tr.span("trace.collect"):
                        self._collect(q0, build_jobs, counted, layers)
                with _maybe(tr, "plans.release"):
                    released = self.plans.registry.release_plan_caches()
                    self.spark.catalog.clearCache()
                if layers is not None:
                    _add(layers, {"plans.build_s": q["build_s"],
                                  "exec.action_s": q["action_s"],
                                  "plans.tracked_caches": released})
            if rows != self.oracles[name]["rows"]:
                raise AssertionError(
                    f"{rows} rows, oracle has {self.oracles[name]['rows']}")
            self.last_frames[name] = df
        except Exception as e:  # a failing query is counted, not fatal
            self.failed += 1
            self.last_frames.pop(name, None)
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            q["error"] = True
        return q

    def _collect(self, q0: int, build_jobs: list, counted, layers: dict) -> None:
        tr, st = self.tracer, self.stats
        action_jobs = st.new_jobs()
        _add(layers, st.build_stats(build_jobs))
        _add(layers, st.action_stats(action_jobs))
        _add(layers, st.operator_stats(counted._jdf))
        offset = time.time() - time.perf_counter()
        intervals = [("exec.job", a, b) for a, b in st.job_intervals(build_jobs + action_jobs)]
        phases = st.catalyst_phases(counted._jdf)
        for phase in ("analysis", "optimization", "planning"):
            a, b = phases.get(phase, (0.0, 0.0))
            layers[f"catalyst.{phase}_s"] = layers.get(f"catalyst.{phase}_s", 0.0) + b - a
            if phase in phases:
                intervals.append((f"catalyst.{phase}", a, b))
        placed = []
        for name, a, b in intervals:
            a, b = a - offset, b - offset
            placed.append((name, a, b, tr.innermost(q0, a, b)))
        for name, a, b, parent in placed:
            tr.add(name, a, b, parent if parent is not None else q0)

    def _wrapped(self):
        from pyspark_bigdata_sars_cov_2_analysis_spark.io import writers
        from pyspark_bigdata_sars_cov_2_analysis_spark.plans import registry

        def table_name(args, kwargs):
            return args[2] if len(args) > 2 else kwargs["name"]

        return tracing.wrapped(self.tracer, [
            ("plans.read_table", registry, "table", table_name),
            ("io.snapshot_publish", writers, "write_parquet_snapshot", None),
            ("io.snapshot_compact", writers, "compact_parquet_snapshot", None),
            ("io.snapshot_vacuum", writers, "vacuum_parquet_snapshots", None),
        ], prefix=PACKAGE)

    def _bytes_written(self) -> int:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        return total

    # --- results --------------------------------------------------------

    def check_digests(self) -> None:
        """Collect each query's frame from the last pass it passed and
        compare its digest against the oracle's, outside every timing."""
        for name, df in sorted(self.last_frames.items()):
            self.attempted += 1
            try:
                got = oracle.spark_digest(df)
            except Exception as e:  # counted like a failed query
                got = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
            if got != self.oracles[name]:
                self.failed += 1
                self.errors.append(f"{name}: digest {got} != oracle {self.oracles[name]}")

    def summarize(self, passes: list[dict], launch_s: float, setups: list) -> dict:
        """A warm pass is the sum of its queries' median warm times. The tail
        is the slowest query's median: a run has too few samples for a
        percentile with ten beyond it."""
        cold, warm = passes[0], [p for p in passes[1:] if not p["traced"]]
        runs: dict[str, list[dict]] = {}
        for p in warm:
            for name, q in p["queries"].items():
                if "error" not in q:
                    runs.setdefault(name, []).append(q)

        def typical(key) -> dict[str, float]:
            return {name: statistics.median(key(q) for q in qs) for name, qs in runs.items()}

        def p50(key) -> float:
            return statistics.median(key(q) for qs in runs.values() for q in qs) if runs else 0.0

        cpu, wall = typical(lambda q: q["cpu_s"]), typical(lambda q: q["build_s"] + q["action_s"])
        setup_each = [a + b for a, b in setups]
        e2e = {
            "setup_s": launch_s + statistics.median(setup_each),
            "cold_pass_cpu_s": sum(q.get("cpu_s", 0.0) for q in cold["queries"].values()),
            "warm_pass_cpu_s": sum(cpu.values()),
            "query_p50_cpu_s": p50(lambda q: q["cpu_s"]),
            "query_tail_cpu_s": max(cpu.values(), default=0.0),
            "peak_rss_mb": self._peak_rss_mb(),
        }
        detail = {
            "query_samples": sum(len(qs) for qs in runs.values()),
            "slowest_query": max(cpu, key=cpu.get, default=None),
            "wall": {
                "cold_pass_s": sum(q.get("build_s", 0.0) + q.get("action_s", 0.0)
                                   for q in cold["queries"].values()),
                "warm_pass_s": sum(wall.values()),
                "query_p50_s": p50(lambda q: q["build_s"] + q["action_s"]),
                "query_tail_s": max(wall.values(), default=0.0),
            },
            "passes": [{"traced": p["traced"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"],
                        "host_steal": p["host_steal"],
                        "query_s": {name: q.get("build_s", 0) + q.get("action_s", 0)
                                    for name, q in p["queries"].items()},
                        "query_cpu_s": {name: q.get("cpu_s", 0)
                                        for name, q in p["queries"].items()}}
                       for p in passes],
            "failed_ratio": self.failed / self.attempted,
            "errors": self.errors,
            "setups": setup_each,
        }
        per_layer = {
            "session.launch_s": launch_s,
            "session.start_s": statistics.median(a for a, _ in setups),
            "session.warmup_s": statistics.median(b for _, b in setups),
        }
        traced_warm = [p for p in passes[1:] if p["traced"]]
        if traced_warm:
            for key in traced_warm[0]["layers"]:
                per_layer[key] = statistics.median(p["layers"].get(key, 0) for p in traced_warm)
            per_layer["trace.overhead_s"] = (
                statistics.median(p["wall_s"] for p in traced_warm)
                - statistics.median(p["wall_s"] for p in warm))
            detail["largest_layer"] = {
                name: q["largest_layer"] for name, q in traced_warm[-1]["queries"].items()
                if "largest_layer" in q}
            last = traced_warm[-1]["pass"]
            detail["layer_self_s"] = tracing.layer_self_times(
                self.tracer.spans, lambda s: s.pass_no == last)
        return {"end_to_end": e2e, "per_layer": per_layer, "attempted": self.attempted,
                "failed": self.failed, "detail": detail}

    def _peak_rss_mb(self) -> float:
        total_kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024


_WRAPPED_TOTALS = (
    ("io.snapshot_publish", "io.snapshot_publish_s", "io.snapshot_publishes"),
    ("io.snapshot_compact", "io.snapshot_compact_s", None),
    ("io.snapshot_vacuum", "io.snapshot_vacuum_s", None),
)
# spans that only group others; their self time is time no layer covers
_STRUCTURAL = ("pass", "query")


_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def group_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process group: the
    driver, its JVM and the JVM's Python workers, with the workers that
    exited counted in the parent that reaped them. On a kernel with
    paravirtual steal accounting, time the hypervisor stole is not in it."""
    pgid = os.getpgid(0)
    ticks = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _CLOCK_TICKS


def host_ticks() -> list[int]:
    """The host's cumulative CPU time by kind, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(since: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor since ``since``."""
    delta = [b - a for a, b in zip(since, host_ticks())]
    return delta[7] / max(sum(delta), 1)


def _add(into: dict, more: dict) -> None:
    for k, v in more.items():
        into[k] = into.get(k, 0) + v


def _maybe(tr, name):
    return tr.span(name) if tr is not None else nullcontext()


if __name__ == "__main__":
    main()
