"""Readers for Spark's in-process status stores.

Two stores hold what the benchmark needs, both readable over py4j with
the UI disabled:

- the core ``AppStatusStore`` (``sc.statusStore()``): cumulative
  executor totals — task time, GC time, input and shuffle bytes;
- the ``SQLAppStatusStore`` (``sharedState().statusStore()``): one
  record per SQL execution with submission/completion times, its plan
  graph, and the final value of every SQL metric as a formatted string.

Every read drains the listener bus first, so it sees the events of the
job that just finished.  Callers read only between timed windows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_B = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)\s*$")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric, in seconds, bytes or a count.

    Spark formats a metric either as a bare total (``"60 ms"``,
    ``"126.5 KiB"``, ``"7,653"``, ``"1.3"``) or, when several tasks
    reported it, as a header line and ``"<total> (<min>, <med>, <max>
    (stage ..: task ..))"``. Both forms yield the total."""
    lines = text.strip().splitlines()
    if lines and lines[0].startswith("total ("):
        lines = lines[1:]
    if not lines:
        raise ValueError(f"empty metric text: {text!r}")
    head = lines[0].split(" (", 1)[0]
    m = _VALUE.match(head)
    if m is None:
        raise ValueError(f"unparseable metric text: {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return number
    if unit in _TIME_S:
        return number * _TIME_S[unit]
    if unit in _SIZE_B:
        return number * _SIZE_B[unit]
    raise ValueError(f"unknown unit {unit!r} in metric text: {text!r}")


@dataclass(frozen=True)
class Execution:
    """One SQL execution: id and its epoch-millisecond window."""

    id: int
    start_ms: int
    end_ms: int

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


#: executor-total field -> ExecutorSummary getter
_EXECUTOR_FIELDS = {
    "task_s": "totalDuration",
    "gc_s": "totalGCTime",
    "input_b": "totalInputBytes",
    "shuffle_read_b": "totalShuffleRead",
    "shuffle_write_b": "totalShuffleWrite",
}
_MS_FIELDS = {"task_s", "gc_s"}


class StatusStores:
    """Reads both stores of one SparkSession."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._core = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def executor_totals(self) -> dict[str, float]:
        """Cumulative executor totals (seconds and bytes)."""
        self.drain()
        execs = self._core.executorList(True)
        tot = dict.fromkeys(_EXECUTOR_FIELDS, 0.0)
        for i in range(execs.size()):
            e = execs.apply(i)
            for key, getter in _EXECUTOR_FIELDS.items():
                tot[key] += getattr(e, getter)()
        for key in _MS_FIELDS:
            tot[key] /= 1000.0
        return tot

    def execution_count(self) -> int:
        self.drain()
        return int(self._sql.executionsCount())

    def executions_since(self, count: int) -> list[Execution]:
        """Executions recorded after the first ``count`` ones."""
        self.drain()
        total = int(self._sql.executionsCount())
        rows = self._sql.executionsList(count, total - count)
        out = []
        for i in range(rows.size()):
            e = rows.apply(i)
            done = e.completionTime()
            end = done.get().getTime() if done.isDefined() else e.submissionTime()
            out.append(Execution(int(e.executionId()), int(e.submissionTime()), int(end)))
        return out

    def node_metrics(self, execution_id: int, wanted) -> list[tuple[str, float]]:
        """(metric name, total) for the SQL metrics of one execution's
        plan nodes whose name is in ``wanted``. A cached subtree prints
        its nodes in every plan that reads it; each accumulator is
        counted once."""
        values = self._sql.executionMetrics(execution_id)
        nodes = self._sql.planGraph(execution_id).allNodes()
        seen: set[int] = set()
        out = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = node.metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                if metric.name() not in wanted:
                    continue
                acc = int(metric.accumulatorId())
                text = values.get(acc)
                if acc in seen or not text.isDefined():
                    continue
                seen.add(acc)
                out.append((metric.name(), parse_metric(text.get())))
        return out


def catalyst_phases_ms(jdf) -> dict[str, float]:
    """Analysis/optimization/planning milliseconds of a Dataset's own
    QueryExecution, read from its planning tracker."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        out[name] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out
