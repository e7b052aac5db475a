"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run it from the root of a checkout. It starts ``driver.py`` in a new
process, pinned with everything it starts to one CPU of the host, on a
``local[1]`` Spark session, inside a scratch root of its own under
``.perfbench_out/`` that holds the run's ``TMPDIR``, ``SPARK_LOCAL_DIRS``
and JVM temp dir. When the run's processes have all ended it measures
the bytes left in that root and deletes it.

The last line of standard output is the result: ``correct``,
``attempted``, ``failed`` and ``metrics``, the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0`` and its per-layer metrics with
``--trace 1``. The line before it is the full record of the run: host
cpus, the pinned CPU, Spark version, seed, every metric, the per-query
largest layer of a traced run, and any failure. A traced run also leaves
its spans in ``.perfbench_out/``. ``--smoke`` runs the smallest data set
for a quick check of the whole path.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_bigdata_sars_cov_2_analysis_spark"
DRIVER_MEMORY = "1g"
# The JIT stops at C1 and the GC is serial. With C2 the compiler threads
# used more CPU than the queries through every pass of a run, and how much
# depended on timing; C1 settles within the cold pass.
JVM_OPTIONS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
RUN_TIMEOUT_S = 170
EXIT_TIMEOUT_S = 30


def disk_bytes(path: str) -> int:
    """Bytes on disk of the files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_blocks * 512
            except FileNotFoundError:
                pass  # removed while walking
    return total


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    started = time.monotonic()
    # The run, and every process it starts, gets one CPU: the last this
    # process may use. Spread over the host's CPUs, Spark's many thread
    # hand-offs waited on CPUs the hypervisor had taken away, and runs of
    # the same code moved by 2x as the host's other guests came and went.
    host_cpus = os.sched_getaffinity(0)
    cpu = max(host_cpus)
    os.sched_setaffinity(0, {cpu})
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.join(ROOT, ".perfbench_out")
    scratch = os.path.join(out_dir, run_id)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(scratch, "local"))
    out = os.path.join(out_dir, f"{run_id}.json")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        # the driver and its Python workers import the package from the
        # checkout, whatever their current directory
        PYTHONPATH=ROOT,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-memory {DRIVER_MEMORY} --driver-java-options "
            f"{shlex.quote(f'-Djava.io.tmpdir={tmp} {JVM_OPTIONS}')} pyspark-shell"),
        # the same string hashes, set orders and plans in every run
        PYTHONHASHSEED="0",
        PERFBENCH_SPAWN_TIME=repr(time.time()),
    )
    cmd = [sys.executable, os.path.join(HERE, "driver.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scratch", scratch, "--out", out]
    if args.smoke:
        cmd.append("--smoke")
    # a session of its own, so that the JVM and Python workers the driver
    # starts can be waited for and, failing that, stopped as one group
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    _stop_group(proc, timed_out=code is None)
    scratch_left = disk_bytes(scratch)
    shutil.rmtree(scratch)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: driver ended with {code}", file=sys.stderr)
        return 1

    with open(out) as f:
        res = json.load(f)
    res["per_layer"]["io.scratch_bytes_left"] = scratch_left
    kind = "per_layer" if args.trace else "end_to_end"
    missing = [m["name"] for m in spec[kind] if m["name"] not in res[kind]]
    metrics = {m["name"]: {"value": res[kind].get(m["name"], 0), "unit": m["unit"]}
               for m in spec[kind]}
    record = dict(res["detail"], host_cpus=len(host_cpus), pinned_cpu=cpu,
                  trace=args.trace, missing_metrics=missing,
                  run_s=time.monotonic() - started,
                  end_to_end=res["end_to_end"], per_layer=res["per_layer"])
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _stop_group(proc: subprocess.Popen, timed_out: bool) -> None:
    """Wait for every process of the run's group to end: the driver, its
    JVM and the JVM's Python workers. What is left after
    ``EXIT_TIMEOUT_S``, or at once if the driver timed out, is killed."""
    deadline = time.monotonic() + (0 if timed_out else EXIT_TIMEOUT_S)
    killed = False
    while True:
        if proc.poll() is not None and not _live_members(proc.pid):
            return
        if time.monotonic() > deadline:
            if killed:
                print(f"perfbench: processes of group {proc.pid} survived SIGKILL",
                      file=sys.stderr)
                return
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass  # ended meanwhile
            killed = True
            deadline = time.monotonic() + EXIT_TIMEOUT_S
        time.sleep(0.1)


def _live_members(pgid: int) -> list[int]:
    """Processes of group ``pgid`` that have not exited (zombies excluded)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(entry))
    return out


if __name__ == "__main__":
    sys.exit(main())
