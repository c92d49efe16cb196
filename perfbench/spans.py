"""Spans around the benchmark's calls into the engine, plus the SQL
metrics of the Spark executions each span triggered.

A span records name, start, end, parent and run id. Spans stay in
memory and are written out once, when the run ends. SQL metrics come
from the session's status store, which Spark keeps even with the UI
disabled; the final (adaptive) plan of every execution started inside
a span is walked and its node metrics are summed by node and metric.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?"


def _parse(text: str, metric_type: str) -> dict:
    """Spark's rendered metric -> {'total': x, 'med': y, 'max': z}.
    Sizes are bytes, timings seconds, sums plain counts."""
    lines = text.strip().split("\n")
    body = lines[-1]
    found = re.findall(_NUM, body)

    def val(num, unit):
        x = float(num.replace(",", ""))
        return x * _UNITS.get(unit or "", 1.0) if metric_type != "sum" else x

    out = {"total": val(*found[0])} if found else {}
    if len(lines) > 1 and len(found) >= 4:  # total (min, med, max (stage: task))
        out["med"], out["max"] = val(*found[2]), val(*found[3])
    return out


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes every span a
    no-op, so timed passes and traced passes share one code path."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def rebind(self, spark) -> None:
        """Read SQL metrics from the status store of ``spark``."""
        self.spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _last_execution(self) -> int:
        lst = self._store.executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1

    @contextmanager
    def span(self, name: str, plan: bool = False):
        """Time the body; with ``plan=True`` also harvest the SQL metrics
        of every execution it started (into ``rec['plan']``)."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        first = self._last_execution() if plan else None
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
        if plan:
            rec["plan"] = self.plan_metrics(first)

    def plan_metrics(self, after_id: int) -> dict:
        """Sum the metrics of executions with id > ``after_id``, keyed
        '<node>/<metric>'; '.med'/'.max' keys keep per-task spread."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        acc: dict[str, float] = {}
        lst = self._store.executionsList()
        ids = [lst.apply(i).executionId() for i in range(lst.size())]
        for eid in (e for e in ids if e > after_id):
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                kind = node.name().split(" ")[0]
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    raw = values.get(m.accumulatorId())
                    if not raw.isDefined():
                        continue
                    for stat, x in _parse(raw.get(), m.metricType()).items():
                        key = f"{kind}/{m.name()}" + ("" if stat == "total" else f".{stat}")
                        acc[key] = max(acc.get(key, 0.0), x) if stat != "total" else acc.get(key, 0.0) + x
        acc["executions"] = float(sum(1 for e in ids if e > after_id))
        return acc

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
