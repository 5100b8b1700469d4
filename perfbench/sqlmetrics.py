"""Read Spark's own SQL metrics from the session's SQL status store.

Every SQL execution keeps its plan graph and the final value of each node
metric, formatted for display (``"14.3 MiB"``, ``"47 ms"``, ``"50,000"``,
or for per-task metrics ``"total (min, med, max (stageId: taskId))\\n28.3 s
(3.6 s, 6.1 s, 6.5 s (stage 1.0: task 1))"``). This module turns those
strings back into numbers in seconds, bytes and counts. The store is
populated with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Dict, List, Optional

_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_BYTES = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)\)\s*$")


@dataclass
class Metric:
    """One node metric: its total and, for per-task metrics, the min, median
    and max over tasks plus the stage that produced the max."""

    total: float
    task_min: Optional[float] = None
    task_med: Optional[float] = None
    task_max: Optional[float] = None
    stage: Optional[int] = None


def _number(num: str, unit: Optional[str]) -> float:
    v = float(num.replace(",", ""))
    if unit in _SECONDS:
        return v * _SECONDS[unit]
    if unit in _BYTES:
        return v * _BYTES[unit]
    return v


def parse(text: str) -> Metric:
    """Parse one formatted metric value into base units (s, bytes, count)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    vals = [_number(n, u) for n, u in _VALUE.findall(body.split("(stage")[0])]
    m = Metric(total=vals[0])
    if len(vals) >= 4:
        m.task_min, m.task_med, m.task_max = vals[1:4]
        st = _STAGE.search(body)
        m.stage = int(st.group(1)) if st else None
    return m


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in _iter(store.executionsList())),
               default=-1)


def read_executions(spark, after_id: int) -> List[Dict[str, List[Metric]]]:
    """Metrics of every SQL execution with id > ``after_id``, oldest first.
    Each execution maps ``"<node name>/<metric name>"`` to one Metric per
    plan node carrying it."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in sorted(_iter(store.executionsList()), key=lambda e: e.executionId()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        found: Dict[str, List[Metric]] = {}
        for node in _iter(store.planGraph(eid).allNodes()):
            for m in _iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    key = f"{node.name().strip()}/{m.name()}"
                    found.setdefault(key, []).append(parse(v.get()))
        out.append(found)
    return out


def nodes(executions: List[Dict[str, List[Metric]]], node: str, metric: str) -> List[Metric]:
    """A metric of every plan node whose name starts with ``node``."""
    return [
        m
        for ex in executions
        for key, ms in ex.items()
        if key.startswith(node) and key.endswith("/" + metric)
        for m in ms
    ]


def total(executions: List[Dict[str, List[Metric]]], node: str, metric: str) -> float:
    """Sum of a metric over every plan node carrying it; raises LookupError
    when no node does, so a renamed node or metric cannot read as 0."""
    found = nodes(executions, node, metric)
    if not found:
        raise LookupError(f"no plan node {node!r} with metric {metric!r}")
    return sum(m.total for m in found)


def stage_tasks(spark, stage_id: int) -> int:
    info = spark.sparkContext.statusTracker().getStageInfo(stage_id)
    return info.numTasks if info is not None else 0
