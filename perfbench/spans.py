"""Tracing for the per-layer run: spans, job groups and Spark plan metrics.

Spans are recorded from the benchmark's side only: ``install`` replaces the
public entry points of each layer module with a wrapper that records
(name, start, end, parent, op id) around the call. Spans stay in memory and
are written out once, when the run ends.

Spark-side numbers come from the SQL status store: after each operation the
benchmark drains the listener bus and reads, for every SQL execution the
operation started, the final (AQE) plan graph with its node metrics.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import time
from contextlib import contextmanager

# layer -> (module, attribute) entry points wrapped while tracing
WRAPPED = {
    "sources": [("s2geo_spark.sources.pages", "extract_geo")],
    "spatial": [
        ("s2geo_spark.operators.spatial", "polygons_to_df"),
        ("s2geo_spark.operators.spatial", "build_index_df"),
        ("s2geo_spark.operators.spatial", "localize_index"),
        ("s2geo_spark.operators.spatial", "contains_join_indexed"),
        ("s2geo_spark.operators.spatial", "cap_contains_join"),
    ],
    "functions": [
        ("s2geo_spark.functions", "tile_assign"),
        ("s2geo_spark.functions", "s2_face_ij_attach"),
    ],
    "manifest": [
        ("s2geo_spark.plans.manifest", "ManifestedRun.run"),
        ("s2geo_spark.plans.manifest", "ManifestedRun.done_partitions"),
    ],
    "streaming": [
        ("s2geo_spark.streaming.pipeline", "spatial_join_stream"),
        ("s2geo_spark.streaming.pipeline", "run_to_memory"),
    ],
    "kernel": [
        ("s2geo_spark.kernel.cellid_v1", "from_latlng"),
        ("s2geo_spark.kernel.cellid_v1", "from_face_ij"),
        ("s2geo_spark.kernel.shapeindex", "contains_from_anchor"),
        ("s2geo_spark.kernel.shapeindex", "build_polygon_index"),
    ],
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for layer, targets in WRAPPED.items():
            for mod_name, attr in targets:
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = owner.__dict__[leaf]
                setattr(owner, leaf, self._wrap(f"{layer}.{leaf}", orig))
                self._undo.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._undo):
            setattr(owner, leaf, orig)
        self._undo.clear()

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's.
        Children of one span run sequentially on the driver thread, so
        their durations do not overlap."""
        child_sum = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, cs in zip(self.spans, child_sum):
            if s["end"] is not None:
                layer = s["name"].split(".", 1)[0]
                out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - cs
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark plan metrics from the SQL status store
# ---------------------------------------------------------------------------

_NODE_RE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _value(text: str) -> float | None:
    """'2,550' -> 2550; '65.6 KiB' -> bytes; '7 ms' / '1.2 s' -> seconds."""
    parts = text.strip().split(" ")
    try:
        num = float(parts[0].replace(",", ""))
    except ValueError:
        return None
    if len(parts) > 1 and parts[1] in _SIZE:
        return num * _SIZE[parts[1]]
    if len(parts) > 1 and parts[1] in _TIME:
        return num * _TIME[parts[1]]
    return num


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """Plan-graph DOT text -> [(node name, {metric: value})]."""
    nodes = []
    for label in _NODE_RE.findall(dot):
        items = label.split("<br>")
        name = ""
        metrics: dict[str, float] = {}
        k = 0
        while k < len(items):
            item = items[k]
            k += 1
            if not item:
                continue
            if item.startswith("<b>"):
                name = item.replace("<b>", "").replace("</b>", "").strip()
            elif item.endswith("(min, med, max (stageId: taskId))") and k < len(items):
                key = item.split(" total (")[0]
                metrics[key] = _value(items[k].split(" (")[0]) or 0.0
                k += 1
            elif ": " in item:
                key, val = item.rsplit(": ", 1)
                v = _value(val)
                if v is not None:
                    metrics[key] = v
        nodes.append((name, metrics))
    return nodes


class PlanHarvest:
    """Reads the final plans of SQL executions started since the last call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.last = self._newest()

    def _newest(self) -> int:
        n = self.store.executionsCount()
        if n == 0:
            return -1
        lst = self.store.executionsList(n - 1, 1)
        return int(lst.apply(0).executionId()) if lst.size() else -1

    def mark(self) -> int:
        """Drain the listener bus; the newest execution id seen so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._newest()

    def nodes(self, after: int, upto: int) -> list[tuple[str, dict[str, float]]]:
        """Plan nodes of the executions with after < id <= upto."""
        out = []
        for eid in range(after + 1, upto + 1):
            if not self.store.execution(eid).isDefined():
                continue
            graph = self.store.planGraph(eid)
            out.extend(parse_plan_dot(graph.makeDotFile(self.store.executionMetrics(eid))))
        return out

    def collect(self) -> list[tuple[str, dict[str, float]]]:
        """Plan nodes of every execution since the previous collect."""
        newest = self.mark()
        out = self.nodes(self.last, newest)
        self.last = newest
        return out


def _sum(nodes, node_pred, metric) -> float:
    return sum(m.get(metric, 0.0) for n, m in nodes if node_pred(n))


def _is_python(name: str) -> bool:
    return any(t in name for t in ("Pandas", "Python", "Arrow"))


def layer_metrics(nodes) -> dict[str, float]:
    """Fold one operation's plan nodes into the per-layer counters."""
    scan = lambda n: n.startswith("Scan")  # noqa: E731
    out = {
        "sources.scan_rows": _sum(nodes, scan, "number of output rows"),
        "sources.scan_s": _sum(nodes, scan, "scan time"),
        "sources.geo_rows": _sum(nodes, lambda n: n == "Filter", "number of output rows"),
        "spatial.term_rows": _sum(nodes, lambda n: n == "Generate", "number of output rows"),
        "spatial.candidate_rows": _sum(
            nodes, lambda n: n in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"),
            "number of output rows",
        ),
        "spatial.kept_rows": _sum(nodes, lambda n: n == "MapInPandas", "number of output rows"),
        "spatial.bcast_build_s": _sum(nodes, lambda n: n == "BroadcastExchange", "time to build")
        + _sum(nodes, lambda n: n == "BroadcastExchange", "time to collect"),
        "exchange.count": float(sum(1 for n, _ in nodes if n == "Exchange")),
        "exchange.shuffle_bytes": _sum(nodes, lambda n: n == "Exchange", "shuffle bytes written"),
        "exchange.shuffle_records": _sum(nodes, lambda n: n == "Exchange", "shuffle records written"),
        "exchange.fetch_wait_s": _sum(nodes, lambda n: n == "Exchange", "fetch wait time"),
        "python.boot_s": _sum(nodes, _is_python, "time to start Python workers"),
        "python.init_s": _sum(nodes, _is_python, "time to initialize Python workers"),
        "python.total_s": _sum(nodes, _is_python, "time to run Python workers"),
        "python.bytes_sent": _sum(nodes, _is_python, "data sent to Python workers"),
        "python.bytes_received": _sum(nodes, _is_python, "data returned from Python workers"),
        "python.rows_received": _sum(nodes, _is_python, "number of output rows"),
    }
    cand = out["spatial.candidate_rows"]
    out["spatial.keep_ratio"] = out["spatial.kept_rows"] / cand if cand else 0.0
    return out
