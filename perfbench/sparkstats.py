"""Read Spark's own per-query metrics from the status stores, from outside
the library.

Two stores are read through the JVM gateway:

- the SQL status store (``sharedState().statusStore()``): one record per
  SQL execution, with its stage ids, its plan graph (which names the
  output path of a write) and the per-node SQL metrics such as the
  ``MapInPandas`` node's Python time and Arrow bytes;
- the core status store (``SparkContext.statusStore()``): exact per-stage
  counters (shuffle bytes, spill, GC time, failed tasks) and per-task run
  times.

The SQL metrics are read from the plan graph as ``makeDotFile`` renders
it (one gateway call per execution instead of one per metric); their
values arrive formatted for display (``"4.2 MiB"``, ``"1.2 s (...)"``),
and ``parse_metric`` turns the total back into bytes, seconds or a count.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
         "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
# one plan node of ``SparkPlanGraph.makeDotFile``: name, metrics, tooltip
_DOT_NODE_RE = re.compile(
    r'label="(?:<br>)?<b>([^<]*)</b><br><br>(.*?)" tooltip="([^"]*)"')
_MULTI = " total (min, med, max (stageId: taskId))"
_WRITE = "Execute InsertIntoHadoopFsRelationCommand "


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric, in bytes, seconds or units."""
    m = _VALUE_RE.match(text or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def parse_dot(dot: str) -> tuple[dict[tuple[str, str], list[str]],
                                 str | None]:
    """(metrics keyed by (node, metric), output path of a write) from a
    plan graph rendered by ``makeDotFile``. A metric with per-task
    values spans two ``<br>`` lines: ``name total (min, med, max ...)``
    and then ``total (min, med, max (stage s.a: task t))``."""
    metrics: dict[tuple[str, str], list[str]] = {}
    path = None
    for name, body, tooltip in _DOT_NODE_RE.findall(dot):
        name = name.strip()
        if tooltip.startswith(_WRITE):
            path = tooltip[len(_WRITE):].split(",", 1)[0]
        lines = body.split("<br>")
        i = 0
        while i < len(lines):
            line = lines[i]
            if line.endswith(_MULTI) and i + 1 < len(lines):
                key, value = line[:-len(_MULTI)], lines[i + 1]
                i += 2
            else:
                key, _, value = line.partition(": ")
                i += 1
            metrics.setdefault((name, key), []).append(value)
    return metrics, path


@dataclass
class Execution:
    """One SQL execution and its metrics, keyed by ``node/metric``."""
    id: int
    wall_s: float
    output_path: str | None
    stages: list[int]
    metrics: dict[tuple[str, str], list[str]] = field(default_factory=dict)

    def total(self, node: str, metric: str) -> float:
        """Sum of a metric over every plan node whose name starts with
        ``node`` (e.g. all ``Exchange`` nodes)."""
        return sum(parse_metric(v) for k, vs in self.metrics.items()
                   if k[0].startswith(node) and k[1] == metric for v in vs)

    def metric_stage(self, node: str, metric: str) -> int | None:
        """Stage id the formatted metric names as holding its max task."""
        for (n, name), vs in self.metrics.items():
            if n.startswith(node) and name == metric:
                for v in vs:
                    m = _STAGE_RE.search(v)
                    if m:
                        return int(m.group(1))
        return None


@dataclass
class StageTotals:
    failed_tasks: int = 0
    run_s: float = 0.0
    wall_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


class SparkStats:
    """Passive reader over one SparkSession's status stores."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def sync(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the executions that already finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self.sync()
        return int(self._sql.executionsCount())

    def executions(self, since: int) -> list[Execution]:
        """Finished executions recorded after ``mark()`` returned
        ``since``."""
        self.sync()
        n = int(self._sql.executionsCount()) - since
        out = []
        for e in self._list(self._sql.executionsList(since, max(n, 0))):
            done = e.completionTime()
            if not done.isDefined():
                continue
            eid = e.executionId()
            metrics, path = parse_dot(self._sql.planGraph(eid).makeDotFile(
                self._sql.executionMetrics(eid)))
            out.append(Execution(
                id=int(eid),
                wall_s=(done.get().getTime() - e.submissionTime()) / 1000.0,
                output_path=path,
                stages=sorted(int(s) for s in self._list(e.stages())),
                metrics=metrics))
        return out

    def _stage_attempts(self, stage_id: int) -> list:
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._spark.sparkContext._gateway.new_array(
            self._jvm.double, 0)
        try:
            return self._list(self._app.stageData(stage_id, False, empty,
                                                  False, quantiles))
        except Exception:  # stage evicted from the store: nothing to add
            return []

    def stage_totals(self, stage_ids) -> StageTotals:
        t = StageTotals()
        for sid in stage_ids:
            for s in self._stage_attempts(sid):
                if str(s.status()) == "SKIPPED":
                    continue
                t.failed_tasks += int(s.numFailedTasks())
                t.run_s += int(s.executorRunTime()) / 1000.0
                sub, done = s.submissionTime(), s.completionTime()
                if sub.isDefined() and done.isDefined():
                    t.wall_s += (done.get().getTime()
                                 - sub.get().getTime()) / 1000.0
                t.shuffle_write_bytes += int(s.shuffleWriteBytes())
                t.spill_bytes += int(s.diskBytesSpilled())
                t.gc_s += int(s.jvmGcTime()) / 1000.0
        return t

    def task_seconds(self, stage_id: int) -> list[float]:
        """Executor run time of every successful task of a stage."""
        out = []
        for s in self._stage_attempts(stage_id):
            tasks = self._list(self._app.taskList(
                stage_id, int(s.attemptId()), 1 << 20))
            for task in tasks:
                tm = task.taskMetrics()
                if str(task.status()) == "SUCCESS" and tm.isDefined():
                    out.append(int(tm.get().executorRunTime()) / 1000.0)
        return out
