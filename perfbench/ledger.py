"""Span tracing and the per-layer ledger built from Spark's own metrics.

A span wraps one call into a layer's public function from the
benchmark's files. While it is open, the Spark job description is the
span's id, so every SQL execution the call starts carries that id as
its description. After the run, the ledger reads each execution's plan
graph and metric values from the SQL status store
(``sharedState().statusStore()``: ``executionsList``, ``planGraph``,
``executionMetrics``), which is filled whether or not the Spark UI is
enabled, and attributes them to the span that started them.

Metric values arrive formatted ("1.2 MiB", "total (min, med, max ...)
\\n9.0 s (160 ms, 1.7 s, 2.4 s (stage 0.0: task 0))"); :func:`parse_metric`
turns them back into base units (bytes, seconds, counts).
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
    "TiB": 1024 ** 4, "PiB": 1024 ** 5,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

#: job-description key Spark copies into each SQL execution's description
_DESCRIPTION = "spark.job.description"


def _value(text: str) -> float:
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    number, unit = m.groups()
    return float(number.replace(",", "")) * _UNITS.get(unit, 1.0)


def parse_metric(text: str) -> tuple[float, float | None, float | None]:
    """Formatted SQL metric -> (total, task median, task max) in base
    units. Single-task and plain-sum metrics have no median/max."""
    if "\n" not in text:
        return _value(text), None, None
    body = text.split("\n", 1)[1]
    total, _, spread = body.partition(" (")
    parts = spread.split(", ")
    if len(parts) < 3:
        return _value(total), None, None
    return _value(total), _value(parts[1]), _value(parts[2].split(" (")[0])


@dataclass
class Execution:
    """One SQL execution: wall seconds and, per plan node, its name and
    metrics as {metric name: (total, median, max)}."""
    span_id: str
    seconds: float
    nodes: list[tuple[str, dict[str, tuple]]]

    def total(self, metric: str, node_prefix: str = "") -> float:
        return sum(m[metric][0] for name, m in self.nodes
                   if metric in m and name.startswith(node_prefix))

    def has_node(self, prefix: str) -> bool:
        return any(name.startswith(prefix) for name, _ in self.nodes)


@dataclass
class Span:
    span_id: str
    layer: str
    parent: str | None
    seconds: float = 0.0


@dataclass
class Ledger:
    """Records spans when ``enabled``; a disabled ledger's spans are
    plain pass-throughs, so the untraced run pays nothing.

    Spark fills its status store whether or not anyone reads it, so the
    only cost tracing adds to a measured call is the span bookkeeping
    itself, which ``bookkeeping_s`` accumulates."""
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _ids: itertools.count = field(default_factory=itertools.count)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        span = Span(f"{layer}#{next(self._ids)}", layer,
                    self._stack[-1] if self._stack else None)
        prev = sc.getLocalProperty(_DESCRIPTION)
        sc.setLocalProperty(_DESCRIPTION, span.span_id)
        self._stack.append(span.span_id)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            span.seconds = t2 - t1
            self._stack.pop()
            sc.setLocalProperty(_DESCRIPTION, prev)
            self.spans.append(span)
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def descendants(self, layer: str) -> set[str]:
        """Ids of every span of ``layer`` and of all spans nested in
        them."""
        ids = {s.span_id for s in self.spans if s.layer == layer}
        grew = True
        while grew:
            more = {s.span_id for s in self.spans if s.parent in ids} - ids
            ids |= more
            grew = bool(more)
        return ids

    def seconds(self, layer: str) -> float:
        return sum(s.seconds for s in self.spans if s.layer == layer)

    def count(self, layer: str) -> int:
        return sum(1 for s in self.spans if s.layer == layer)

    def executions(self) -> list[Execution]:
        """Every SQL execution that ran inside a span of this ledger."""
        known = {s.span_id for s in self.spans}
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if ex.description() not in known:
                continue
            eid = ex.executionId()
            done = ex.completionTime()
            end_ms = done.get().getTime() if done.isDefined() else ex.submissionTime()
            values = store.executionMetrics(eid)
            nodes = []
            node_it = store.planGraph(eid).allNodes().iterator()
            while node_it.hasNext():
                node = node_it.next()
                metrics = {}
                metric_it = node.metrics().iterator()
                while metric_it.hasNext():
                    metric = metric_it.next()
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        metrics[metric.name()] = parse_metric(value.get())
                nodes.append((node.name(), metrics))
            out.append(Execution(ex.description(),
                                 (end_ms - ex.submissionTime()) / 1000.0, nodes))
        return out


# ---------------------------------------------------------------------------
# layer sums over a set of executions
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"


def python_nodes(execs: list[Execution]):
    """(execution, node metrics) of every node that crosses into Python
    workers (MapInArrow, MapInPandas, FlatMapGroupsInPandas,
    ArrowEvalPython, ...)."""
    for ex in execs:
        for _, metrics in ex.nodes:
            if PY_SENT in metrics:
                yield ex, metrics


def scan_metrics(execs: list[Execution]) -> dict[str, float]:
    return {
        "scan.time_s": sum(e.total("scan time", "Scan parquet") for e in execs),
        "scan.bytes_read": sum(e.total("size of files read", "Scan parquet")
                               for e in execs),
        "scan.files_read": sum(e.total("number of files read", "Scan parquet")
                               for e in execs),
    }


def arrow_metrics(execs: list[Execution]) -> dict[str, float]:
    nodes = [m for _, m in python_nodes(execs)]

    def tot(name: str) -> float:
        return sum(m[name][0] for m in nodes if name in m)

    # the Python node's "number of output rows" counts the rows the
    # workers returned to the JVM
    return {
        "arrow.bytes_to_python": tot(PY_SENT),
        "arrow.bytes_from_python": tot(PY_RECEIVED),
        "arrow.rows_from_python": tot("number of output rows"),
        "arrow.python_run_s": tot(PY_RUN),
        "arrow.worker_start_s": tot(PY_START),
        "arrow.worker_init_s": tot(PY_INIT),
    }


def aggregate_metrics(execs: list[Execution]) -> dict[str, float]:
    peaks = [m["peak memory"][0] for e in execs for name, m in e.nodes
             if name.startswith("HashAggregate") and "peak memory" in m]
    return {
        "aggregate.time_s": sum(e.total("time in aggregation build", "HashAggregate")
                                for e in execs),
        "aggregate.peak_memory": max(peaks, default=0.0),
        "exchange.shuffle_bytes": sum(e.total("shuffle bytes written", "Exchange")
                                      for e in execs),
    }


WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def is_write(ex: Execution) -> bool:
    return ex.has_node(WRITE_NODE)


def partitioned_rows_written(execs: list[Execution]) -> float:
    """Rows written by partitioned (data) writes; the lineage append is
    unpartitioned and has no dynamic partitions."""
    rows = 0.0
    for ex in execs:
        for name, m in ex.nodes:
            if (name.startswith(WRITE_NODE)
                    and m.get("number of dynamic part", (0,))[0] > 0):
                rows += m["number of output rows"][0]
    return rows
