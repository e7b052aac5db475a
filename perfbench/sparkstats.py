"""Read Spark's own accounting for one query phase, from outside the engine.

- Jobs of a phase: every job whose id is above the last id seen before the
  phase. One client runs one query at a time, so the id range is exact,
  and it also catches streaming micro-batch jobs, which set their own job
  group.
- Stage metrics: ``statusStore().lastStageAttempt`` per job stage.
- Catalyst phases: ``queryExecution().tracker().phases()`` of the action.
- Operator metrics: ``SQLMetric`` values summed by node kind over the final
  adaptive plan, descending into every query stage.
- Streaming: a ``StreamingQueryListener`` counting drains, batches, batch
  time and state rows.

All of these work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener


class SparkStats:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self._sc.statusStore()
        self.last_job = -1

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list:
        """Jobs submitted since the previous call, oldest first."""
        self.drain_events()
        jobs = []
        # the store lists the newest job first
        for j in self._conv.asJava(self._store.jobsList(None)):
            if j.jobId() <= self.last_job:
                break
            jobs.append(j)
        jobs.reverse()
        if jobs:
            self.last_job = jobs[-1].jobId()
        return jobs

    def job_intervals(self, jobs) -> list[tuple[float, float]]:
        """(submitted, completed) of each finished job, in epoch seconds."""
        out = []
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out

    def build_stats(self, jobs) -> dict[str, float]:
        return {"plans.build_jobs": len(jobs),
                "plans.build_tasks": sum(j.numCompletedTasks() for j in jobs)}

    def action_stats(self, jobs) -> dict[str, float]:
        stats = {f"exec.{k}": 0 for k in (
            "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
        stats["exec.jobs"] = len(jobs)
        for j in jobs:
            for sid in self._conv.asJava(j.stageIds()):
                s = self._store.lastStageAttempt(sid)
                if str(s.status()) == "SKIPPED":
                    continue
                stats["exec.stages"] += 1
                stats["exec.tasks"] += s.numCompleteTasks()
                stats["exec.run_s"] += s.executorRunTime() / 1e3
                stats["exec.cpu_s"] += s.executorCpuTime() / 1e9
                stats["exec.gc_s"] += s.jvmGcTime() / 1e3
                stats["exec.input_bytes"] += s.inputBytes()
                stats["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
                stats["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
                stats["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return stats

    def catalyst_phases(self, jdf) -> dict[str, tuple[float, float]]:
        """Phase name -> (start, end) in epoch seconds."""
        phases = self._conv.asJava(jdf.queryExecution().tracker().phases())
        return {
            k: (phases[k].startTimeMs() / 1e3, phases[k].endTimeMs() / 1e3)
            for k in phases.keySet()
        }

    def operator_stats(self, jdf) -> dict[str, float]:
        stats = {k: 0 for k in OPERATOR_METRICS}
        pending = [jdf.queryExecution().executedPlan()]
        while pending:
            node = pending.pop()
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                pending.append(node.executedPlan())
                continue
            if name.endswith("QueryStage"):
                pending.append(node.plan())
                continue
            pending.extend(self._conv.asJava(node.children()))
            kind = _node_kind(name)
            if kind is None:
                continue
            if kind in ("exchange", "broadcast"):
                stats["op.exchanges"] += 1
            if kind == "smj":
                stats["op.smj_joins"] += 1
            metrics = self._conv.asJava(node.metrics())
            for key, metric_name in _NODE_METRICS.get(kind, ()):
                m = metrics.get(key)
                if m is not None:
                    stats[metric_name] += _metric_value(m)
        return stats


OPERATOR_METRICS = (
    "op.scan_time_s", "op.scan_rows", "op.exchanges", "op.exchange_bytes",
    "op.bhj_build_s", "op.smj_joins", "op.agg_time_s", "op.sort_time_s",
    "udf.python_rows", "udf.python_bytes_sent", "udf.python_bytes_received",
)

_NODE_METRICS = {
    "scan": (("scanTime", "op.scan_time_s"), ("numOutputRows", "op.scan_rows")),
    "exchange": (("dataSize", "op.exchange_bytes"),),
    "broadcast": (("dataSize", "op.exchange_bytes"), ("buildTime", "op.bhj_build_s")),
    "agg": (("aggTime", "op.agg_time_s"),),
    "sort": (("sortTime", "op.sort_time_s"),),
    "python": (
        ("pythonNumRowsReceived", "udf.python_rows"),
        ("pythonDataSent", "udf.python_bytes_sent"),
        ("pythonDataReceived", "udf.python_bytes_received"),
    ),
}

_PYTHON_NODES = ("Python", "InPandas", "InArrow")


def _node_kind(name: str) -> str | None:
    if name.startswith("Scan ") or name.startswith("BatchScan"):
        return "scan"
    if name == "Exchange":
        return "exchange"
    if name == "BroadcastExchange":
        return "broadcast"
    if name == "SortMergeJoin":
        return "smj"
    if name.endswith("Aggregate"):
        return "agg"
    if name == "Sort":
        return "sort"
    if any(p in name for p in _PYTHON_NODES):
        return "python"
    return None


def _metric_value(m) -> float:
    """A metric's value in its natural unit, times in seconds."""
    kind = m.metricType()
    if kind == "timing":
        return m.value() / 1e3
    if kind == "nsTiming":
        return m.value() / 1e9
    return m.value()


class StreamCounter(StreamingQueryListener):
    """Counts streaming work: one drain per started query, one batch per
    progress event, batch wall time and the state rows each batch ends
    with."""

    def __init__(self) -> None:
        self.totals = {"streaming.drains": 0, "streaming.batches": 0,
                       "streaming.batch_s": 0.0, "streaming.state_rows": 0}

    def onQueryStarted(self, event) -> None:
        self.totals["streaming.drains"] += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.totals["streaming.batches"] += 1
        self.totals["streaming.batch_s"] += p.batchDuration / 1e3
        self.totals["streaming.state_rows"] += sum(
            op.numRowsTotal for op in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
