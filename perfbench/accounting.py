"""Spark accounting scoped to one timed run, read from Spark's own
status stores over py4j (both work with the UI disabled).

- Stage data: ``SparkContext.statusStore().stageList(statuses, details,
  withSummaries, quantiles, taskStatus)`` (the Spark 4.1 signature; the
  quantiles are a Java ``double[]``).
- SQL metrics ("time to run Python workers", "data sent to Python
  workers", ...): ``sharedState().statusStore()``.

A run is scoped by a job group (its jobs and their stages) plus an
SQL-execution-id watermark. Both stores are fed by the asynchronous
listener bus, which is drained before reading.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

QUANTILES = (0.5, 1.0)

# SQL metric display names (Spark 4.1 PythonSQLMetrics) → per-layer keys
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "worker_start_s",
    "time to initialize Python workers": "worker_init_s",
    "data sent to Python workers": "arrow_in_mb",
    "data returned from Python workers": "arrow_out_mb",
}

_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_TOTAL = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?) ?([A-Za-z]+)")


def parse_metric_total(text: str) -> float:
    """Total of a formatted SQL metric in seconds (timings) or MiB
    (sizes): ``"12 ms"``, ``"0.0 B"`` or ``"total (min, med, max
    ...)\\n14.1 s (216 ms, ...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line.strip())
    if m is None or m.group(2) not in _UNIT:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


@dataclass
class StageStats:
    stage_id: int
    status: str
    num_tasks: int
    run_ms: int
    gc_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    task_run_ms: tuple[float, ...]  # executorRunTime at QUANTILES


@dataclass
class RunAccount:
    jobs: list[int]
    stages: list[StageStats]
    sql: dict[str, float] = field(default_factory=dict)

    @property
    def core_ms(self) -> int:
        return sum(s.run_ms for s in self.stages)

    def layer_metrics(self) -> dict[str, float]:
        ran = [s for s in self.stages if s.task_run_ms]
        kernel = max(ran, key=lambda s: s.run_ms, default=None)
        skew = 0.0
        if kernel is not None and kernel.task_run_ms[0] > 0:
            skew = kernel.task_run_ms[1] / kernel.task_run_ms[0]
        out = {
            "pipeline.jobs": float(len(self.jobs)),
            "pipeline.shuffle_mb": sum(s.shuffle_write_bytes for s in self.stages) / 2**20,
            "pipeline.task_skew": skew,
            "pipeline.max_task_s": max((s.task_run_ms[1] for s in ran), default=0.0) / 1e3,
            "pipeline.gc_s": sum(s.gc_ms for s in self.stages) / 1e3,
            "sources.scan_mb": sum(s.input_bytes for s in self.stages) / 2**20,
        }
        for key in PYTHON_METRICS.values():
            out[f"assemble.{key}"] = self.sql.get(key, 0.0)
        return out


class SparkAccounting:
    """Begin/end brackets around one run: ``begin(label)`` sets a job
    group and notes the SQL watermark; ``end()`` drains the listener bus
    and returns that run's :class:`RunAccount`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._stages = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._group: str | None = None
        self._exec_mark = -1
        self._n = 0

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def begin(self, label: str) -> None:
        self._drain()
        self._n += 1
        self._group = f"perfbench-{self._n}-{label}"
        self._exec_mark = self._last_execution_id()
        self.sc.setJobGroup(self._group, label)

    def end(self) -> RunAccount:
        self._drain()
        group, self._group = self._group, None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        return RunAccount(jobs, self._stage_stats(stage_ids), self._sql_metrics())

    def _stage_stats(self, stage_ids: set[int]) -> list[StageStats]:
        jvm, gw = self.sc._jvm, self.sc._gateway
        q = gw.new_array(jvm.double, len(QUANTILES))
        for i, v in enumerate(QUANTILES):
            q[i] = v
        seq = self._stages.stageList(
            jvm.java.util.ArrayList(), False, True, q, jvm.java.util.ArrayList()
        )
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() not in stage_ids:
                continue
            dist = s.taskMetricsDistributions()
            task_ms: tuple[float, ...] = ()
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                task_ms = tuple(rt.apply(k) for k in range(rt.length()))
            out.append(
                StageStats(
                    s.stageId(),
                    str(s.status()),
                    s.numTasks(),
                    s.executorRunTime(),
                    s.jvmGcTime(),
                    s.inputBytes(),
                    s.shuffleWriteBytes(),
                    task_ms if s.numCompleteTasks() > 0 else (),
                )
            )
        return sorted(out, key=lambda s: s.stage_id)

    def _sql_metrics(self) -> dict[str, float]:
        totals = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= self._exec_mark:
                continue
            values = self._sql.executionMetrics(e.executionId())
            seen = set()
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = PYTHON_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    totals[key] += parse_metric_total(v.get())
        return totals
