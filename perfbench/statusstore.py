"""Read Spark's own status stores after an op.

Two stores are read through the py4j gateway, both of which work with
``spark.ui.enabled=false``:

* ``sc._jsc.sc().statusStore()`` (AppStatusStore): jobs, stages, shuffle
  bytes and task run-time quantiles;
* ``spark._jsparkSession.sharedState().statusStore()`` (SQLAppStatusStore):
  the SQL plan graph of each execution and its operator metrics, e.g. the
  MapInArrow "time to run Python workers" or the ShuffledHashJoin output rows.

The listener bus fills both stores asynchronously, so :meth:`StatusStore.since`
first waits for the bus to drain.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SUMMABLE = ("sum", "size", "timing", "nsTiming")  # "average" has no total
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str, metric_type: str) -> float:
    """SQL metric text → float: seconds for timings, bytes for sizes.

    The store keeps each value as the UI shows it, either ``"1,234"`` or
    ``"total (min, med, max (stageId: taskId))\\n10.6 s (331 ms, ...)"``;
    the total is the first value on the last line.
    """
    m = _VALUE.match(text.rsplit("\n", 1)[-1])
    if m is None:
        raise ValueError(f"unparsable {metric_type} metric: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if metric_type in ("timing", "nsTiming"):
        return num * _TIME_UNITS[unit]
    if metric_type == "size":
        return num * _SIZE_UNITS[unit]
    return num


@dataclass
class StageStat:
    run_s: float  # summed executor run time of the stage's tasks
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    task_p50_s: float
    task_max_s: float

    @property
    def task_skew(self) -> float:
        return self.task_max_s / self.task_p50_s if self.task_p50_s > 0 else 1.0


@dataclass
class OpStats:
    """What Spark recorded for the jobs and SQL executions of one op."""

    jobs: int = 0
    stages: list[StageStat] = field(default_factory=list)
    # (node name, metric name) → summed value over the op's executions
    sql: dict[tuple[str, str], float] = field(default_factory=dict)

    @property
    def shuffle_bytes(self) -> int:
        return sum(s.shuffle_write_bytes for s in self.stages)

    def task_skew(self) -> float:
        """max / p50 task run time in the stage that ran longest."""
        if not self.stages:
            return 1.0
        return max(self.stages, key=lambda s: s.run_s).task_skew

    def join_stage_skew(self) -> float:
        """max / p50 task run time in the stage that read the most shuffle."""
        readers = [s for s in self.stages if s.shuffle_read_bytes > 0]
        if not readers:
            return 1.0
        return max(readers, key=lambda s: s.shuffle_read_bytes).task_skew

    def metric(self, node: str, name: str) -> float:
        return self.sql.get((node, name), 0.0)


@dataclass
class Mark:
    job_id: int
    execution_id: int


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        """The newest job and SQL execution ids recorded so far."""
        self._drain()
        jobs = [j.jobId() for j in self._list(self._app.jobsList(None))]
        execs = [e.executionId() for e in self._list(self._sql.executionsList())]
        return Mark(max(jobs, default=-1), max(execs, default=-1))

    def since(self, mark: Mark) -> OpStats:
        """Jobs, executed stages and SQL metrics recorded after ``mark``."""
        self._drain()
        out = OpStats()
        stage_ids: set[int] = set()
        for j in self._list(self._app.jobsList(None)):
            if j.jobId() > mark.job_id:
                out.jobs += 1
                stage_ids.update(self._list(j.stageIds()))
        for sid in sorted(stage_ids):
            st = self._stage(sid)
            if st is not None:
                out.stages.append(st)
        for e in self._list(self._sql.executionsList()):
            eid = e.executionId()
            if eid > mark.execution_id:
                self._add_sql(eid, out.sql)
        return out

    def _stage(self, sid: int) -> StageStat | None:
        sd = self._app.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            return None  # skipped: its shuffle output was reused
        p50 = mx = 0.0
        summary = self._app.taskSummary(sid, sd.attemptId(), self._quantiles)
        if summary.isDefined():
            p50, mx = (v / 1e3 for v in self._list(summary.get().executorRunTime()))
        return StageStat(
            sd.executorRunTime() / 1e3,
            sd.shuffleReadBytes(),
            sd.shuffleWriteBytes(),
            p50,
            mx,
        )

    def _add_sql(self, eid: int, acc: dict) -> None:
        values = self._sql.executionMetrics(eid)
        for node in self._list(self._sql.planGraph(eid).allNodes()):
            for m in self._list(node.metrics()):
                if m.metricType() not in _SUMMABLE:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    key = (node.name(), m.name())
                    acc[key] = acc.get(key, 0.0) + parse_metric(v.get(), m.metricType())
