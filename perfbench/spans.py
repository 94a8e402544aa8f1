"""Spans around the benchmark's calls into the library, and a reader for the
metrics Spark recorded on the plans the benchmark executed.

Spans stay in memory and are written out with the run record. A disabled
tracer records nothing, so untraced runs pay only a context-manager call.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# the plan nodes that run the library's Python: mapInArrow stages, pandas
# UDFs, and applyInPandas / applyInArrow groups
PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job": self.job,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _scala_metrics(node) -> dict[str, tuple[float, str]]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        out[kv._1()] = (float(metric.value()), metric.metricType())
    return out


def plan_nodes(df) -> list[dict]:
    """Per-node metrics of ``df``'s executed plan, descending through AQE
    into the final plan and its query stages. Read it from the DataFrame
    that was executed: a new DataFrame gets a fresh queryExecution whose
    metrics are all 0. Timings come back in seconds."""
    nodes: list[dict] = []

    def walk(p) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())  # the final plan once the query ran
            return
        metrics = {}
        for key, (value, kind) in _scala_metrics(p).items():
            if kind == "timing":
                value /= 1e3
            elif kind == "nsTiming":
                value /= 1e9
            metrics[key] = value
        nodes.append({"node": p.nodeName(), "metrics": metrics})
        if cls.endswith("QueryStageExec"):  # a leaf that wraps its stage
            walk(p.plan())
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def zero_nodes(nodes: list[dict]) -> list[str]:
    """Nodes that carry metrics but read 0 on every one of them. After an
    action every node in the final plan ran, so all-zero points at a wrong
    read (a fresh queryExecution reads all zeros) and is flagged, not
    reported as 0."""
    return [
        n["node"]
        for n in nodes
        if n["metrics"] and not any(n["metrics"].values())
    ]


def _sum(nodes, match, key) -> float:
    return sum(n["metrics"].get(key, 0.0) for n in nodes if match(n["node"]))


def layer_totals(nodes: list[dict]) -> dict[str, float]:
    """Arrow-boundary, shuffle and JVM-scan totals over one executed plan."""

    def is_python(name):
        return name in PYTHON_NODES

    def is_exchange(name):
        return name == "Exchange"

    def is_scan(name):
        return name.startswith("Scan parquet")

    return {
        "arrow.bytes_sent": _sum(nodes, is_python, "pythonDataSent"),
        "arrow.bytes_recv": _sum(nodes, is_python, "pythonDataReceived"),
        "arrow.rows_recv": _sum(nodes, is_python, "pythonNumRowsReceived"),
        "arrow.py_time_s": _sum(nodes, is_python, "pythonTotalTime"),
        "shuffle.bytes_written": _sum(nodes, is_exchange, "shuffleBytesWritten"),
        "shuffle.records_written": _sum(nodes, is_exchange, "shuffleRecordsWritten"),
        "scan.jvm_rows": _sum(nodes, is_scan, "numOutputRows"),
        "scan.jvm_time_s": _sum(nodes, is_scan, "scanTime"),
    }


def python_node_rows(nodes: list[dict]) -> list[dict]:
    """The Arrow-boundary metrics of each Python plan node, for the record."""
    return [
        {"node": n["node"], **{k: v for k, v in n["metrics"].items() if k.startswith("python")}}
        for n in nodes
        if n["node"] in PYTHON_NODES
    ]
