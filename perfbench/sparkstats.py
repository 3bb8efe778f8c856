"""Readers for Spark's own bookkeeping: the SQL status store (plan-node
metrics per execution) and the status tracker (jobs, stages, tasks).

Spark formats SQL metric values for its UI ("4.1 KiB", "1.7 s",
"total (min, med, max ...)\\n6.8 s (...)"); ``parse_metric`` turns them back
into bytes, seconds or counts at the precision Spark prints.
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(kind: str, text: str) -> float | None:
    """Bytes for ``size``, seconds for ``timing``/``nsTiming``, the number
    for ``sum``; None for kinds with no total (``average``)."""
    if kind not in ("size", "timing", "nsTiming", "sum"):
        return None
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        return None
    number = float(m.group(1).replace(",", ""))
    if kind == "size":
        return number * _SIZE[m.group(2)]
    if kind in ("timing", "nsTiming"):
        return number * _TIME[m.group(2)]
    return number


@dataclass
class NodeMetrics:
    name: str
    desc: str
    values: dict[str, float] = field(default_factory=dict)


@dataclass
class Execution:
    id: int
    seconds: float
    jobs: list[int]
    nodes: list[NodeMetrics]

    def nodes_named(self, name: str, desc_part: str = "") -> list[NodeMetrics]:
        return [n for n in self.nodes if n.name == name and desc_part in n.desc]

    def total(self, metric: str, name: str, desc_part: str = "") -> float:
        return sum(n.values.get(metric, 0.0) for n in self.nodes_named(name, desc_part))


class SparkStats:
    """Groups the work of one benchmark phase under a job group and reads
    back the SQL executions and jobs it produced."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._jsc = self.sc._jsc.sc()

    def _settle(self) -> None:
        # listener events arrive asynchronously; wait until they are applied
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def next_execution_id(self) -> int:
        self._settle()
        execs = self._store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() + 1 if n else 0

    def executions(
        self, first_id: int, end_id: int | None, node_names: tuple[str, ...]
    ) -> list[Execution]:
        """Executions with ``first_id <= id < end_id`` (no upper limit when
        ``end_id`` is None), with the metrics of their plan nodes named in
        ``node_names`` (each metric read is a round trip to the JVM). An
        execution's end reaches the store a little after its action returned,
        so poll until each has a completion time (its metrics are final only
        then)."""
        deadline = time.monotonic() + 10
        while True:
            self._settle()
            execs = self._store.executionsList()
            uis = [execs.apply(i) for i in range(execs.size())]
            uis = [
                ui for ui in uis
                if ui.executionId() >= first_id and (end_id is None or ui.executionId() < end_id)
            ]
            if all(ui.completionTime().isDefined() for ui in uis) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        return [
            self._execution(ui, node_names) for ui in uis if ui.completionTime().isDefined()
        ]

    def _execution(self, ui, node_names: tuple[str, ...]) -> Execution:
        eid = ui.executionId()
        values = self._store.executionMetrics(eid)
        nodes = []
        graph = self._store.planGraph(eid).allNodes()
        for i in range(graph.size()):
            node = graph.apply(i)
            if node.name() not in node_names:
                continue
            nm = NodeMetrics(node.name(), node.desc())
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                text = values.get(m.accumulatorId())
                if text.isDefined():
                    v = parse_metric(m.metricType(), text.get())
                    if v is not None:
                        nm.values[m.name()] = nm.values.get(m.name(), 0.0) + v
            nodes.append(nm)
        jobs = ui.jobs().keySet().toSeq()
        return Execution(
            id=eid,
            seconds=(ui.completionTime().get().getTime() - ui.submissionTime()) / 1e3,
            jobs=[jobs.apply(i) for i in range(jobs.size())],
            nodes=nodes,
        )

    def job_count(self, group: str) -> int:
        self._settle()
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def task_skew(self, job_ids: list[int]) -> float:
        """max / median task run time in the jobs' longest stage."""
        self._settle()
        tracker = self.sc.statusTracker()
        app_store = self._jsc.statusStore()
        best: list[float] = []
        for job in job_ids:
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds:
                sinfo = tracker.getStageInfo(stage)
                if sinfo is None:
                    continue
                tasks = app_store.taskList(stage, sinfo.currentAttemptId, 1 << 20)
                runs = []
                for i in range(tasks.size()):
                    tm = tasks.apply(i).taskMetrics()
                    if tm.isDefined():
                        runs.append(tm.get().executorRunTime() / 1e3)
                if sum(runs) > sum(best):
                    best = runs
        if not best or statistics.median(best) <= 0:
            return 0.0
        return max(best) / statistics.median(best)
