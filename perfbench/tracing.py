"""Tracing from outside the program.

- `Tracer` keeps spans (name, start, end, parent, run id) in memory around
  each layer call the benchmark makes and writes them out at exit.
- `SqlMetrics` reads Spark's own SQL metrics for the executions a span
  launched, from the session's status store (this works with the UI off),
  and `summarize` maps MapInArrow, Window, Exchange and Sort nodes to layers.
- `ladder_self_times` turns a cumulative noop ladder (scan, +battery, ...)
  into per-layer self times: each layer's span minus the part of it that
  the layers below cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# (node-name prefix, layer). First match wins; "Sort" must not catch
# SortMergeJoin or SortAggregate, so it is matched exactly below.
_PREFIX_LAYERS = (
    ("MapInArrow", "battery"),
    ("MapInPandas", "battery"),
    ("ArrowEvalPython", "battery"),
    ("BatchEvalPython", "battery"),
    ("FlatMapGroupsInPandas", "battery"),
    ("FlatMapCoGroupsInPandas", "battery"),
    ("Window", "windows"),
    ("Scan", "sources"),
)


class Tracer:
    """In-memory spans; one run id per benchmark process."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def ladder_self_times(rungs: list[tuple[str, float]]) -> dict[str, float]:
    """Cumulative ladder [(layer, seconds of scan..layer)] -> layer self
    seconds: each rung minus the one below it (the first rung is its own
    self time). Noise can make a difference negative; it is kept as
    measured, so the self times always sum to the top rung."""
    out, below = {}, 0.0
    for name, total in rungs:
        out[name] = total - below
        below = total
    return out


def parse_metric(kind: str, text: str) -> float | None:
    """One SQL metric's display string -> a number (bytes, seconds or a count).

    Spark formats a metric over several tasks as
    "total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)"; the total
    is the first value on the last line."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    if kind == "sum":
        return float(head.replace(",", ""))
    parts = head.split()
    if len(parts) != 2:
        return None
    num, unit = float(parts[0].replace(",", "")), parts[1]
    if kind == "size":
        return num * _SIZE[unit]
    if kind in ("timing", "nsTiming"):
        return num * _TIME[unit]
    return None


def layer_of(node_name: str) -> str | None:
    if node_name == "Sort":
        return "sort"
    if "Exchange" in node_name:
        return "exchange"
    for prefix, layer in _PREFIX_LAYERS:
        if node_name.startswith(prefix):
            return layer
    return None


def summarize(executions: list[list[tuple[str, dict]]]) -> dict:
    """Layer figures over the executions one span launched: node counts are
    the largest any one plan had (the plan's shape), bytes and seconds are
    summed over all of them."""
    out = {
        "udf_nodes": 0, "window_nodes": 0, "exchange_nodes": 0, "sort_nodes": 0,
        "python_bytes_sent": 0.0, "python_bytes_received": 0.0, "python_s": 0.0,
        "shuffle_bytes": 0.0, "spill_bytes": 0.0,
    }
    for nodes in executions:
        counts = {"battery": 0, "windows": 0, "exchange": 0, "sort": 0}
        for name, m in nodes:
            layer = layer_of(name)
            if layer in counts:
                counts[layer] += 1
            if layer == "battery":
                out["python_bytes_sent"] += m.get("data sent to Python workers", 0.0)
                out["python_bytes_received"] += m.get(
                    "data returned from Python workers", 0.0
                )
                out["python_s"] += m.get("time to run Python workers", 0.0)
            elif layer == "exchange":
                out["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
            out["spill_bytes"] += m.get("spill size", 0.0)
        for layer, key in (
            ("battery", "udf_nodes"), ("windows", "window_nodes"),
            ("exchange", "exchange_nodes"), ("sort", "sort_nodes"),
        ):
            out[key] = max(out[key], counts[layer])
    return out


class SqlMetrics:
    """Spark's SQL metrics for the executions started since the last mark."""

    _WANTED = {
        "data sent to Python workers", "data returned from Python workers",
        "time to run Python workers", "shuffle bytes written", "spill size",
    }

    def __init__(self, spark):
        self._jss = spark._jsparkSession
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._last = -1
        self.mark()

    def _executions(self):
        # the listener bus is asynchronous: drain it so the store holds the
        # final (adaptive) plan and every metric of finished executions
        self._bus.waitUntilEmpty()
        store = self._jss.sharedState().statusStore()
        ex = store.executionsList()
        return store, [ex.apply(k) for k in range(ex.size())]

    def mark(self) -> None:
        _, ex = self._executions()
        self._last = max([e.executionId() for e in ex], default=self._last)

    def since_mark(self) -> list[list[tuple[str, dict]]]:
        """[(node name, {metric name: value})] per execution, then re-mark."""
        store, ex = self._executions()
        out = []
        for e in ex:
            eid = e.executionId()
            if eid <= self._last:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            plan = []
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name().strip()
                metrics = {}
                if layer_of(name) is not None or name in ("Window", "Sort"):
                    ms = node.metrics()
                    for j in range(ms.size()):
                        m = ms.apply(j)
                        if m.name() not in self._WANTED:
                            continue
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            parsed = parse_metric(m.metricType(), v.get())
                            if parsed is not None:
                                metrics[m.name()] = parsed
                plan.append((name, metrics))
            out.append(plan)
            self._last = max(self._last, eid)
        return out
