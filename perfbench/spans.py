"""Tracing for the benchmark: spans around public operator calls, one
Spark job group per span, and the Spark event log joined back to the
spans on job group.

A span records name, start, end, parent and run id; spans live in
memory and are written once, at exit. In a traced run each call's
output is forced at the layer boundary (``force``) so that lazy work
lands inside the span that created it. Untraced runs make the same
calls with no span, job group or forcing.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    iteration: int
    start: float
    end: float = 0.0
    rows_out: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.id}"


def force(out):
    """Materialize a call's output: DataFrames are checkpointed eagerly
    (the returned frame reads the blocks, so no work is repeated
    downstream). Returns (output, rows of the first DataFrame)."""
    if isinstance(out, DataFrame):
        df = out.localCheckpoint(eager=True)
        return df, df.count()
    if isinstance(out, tuple):
        forced = [force(o) for o in out]
        rows = next((r for o, (_, r) in zip(out, forced) if isinstance(o, DataFrame)), 0)
        return tuple(f for f, _ in forced), rows
    return out, len(out) if hasattr(out, "__len__") else 0


@dataclass
class Tracer:
    spark: object
    run_id: str
    enabled: bool
    iteration: int = 0
    calls: int = 0
    failed: int = 0
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def call(self, name: str, fn, *args, then=None, **kwargs):
        """Run one public operator call, as span ``name`` (``layer.function``).
        ``then(output)``, if given, collects or writes the output inside
        the same span: delivering a layer's result is that layer's work."""
        self.calls += 1
        if not self.enabled:
            try:
                out = fn(*args, **kwargs)
                if then:
                    then(out)
                return out
            except Exception:
                self.failed += 1
                raise
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.id if parent else None, self.run_id,
                    self.iteration, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        sc.setLocalProperty(JOB_GROUP, span.group)
        sc.setLocalProperty(JOB_DESC, name)
        try:
            out, span.rows_out = force(fn(*args, **kwargs))
            if then:
                then(out)
        except Exception:
            self.failed += 1
            raise
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(JOB_GROUP, parent.group if parent else None)
            sc.setLocalProperty(JOB_DESC, parent.name if parent else None)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in kids[s.id] if b > s.start and a < s.end]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


# ---------------------------------------------------------------- event log

JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin")
PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython")


@dataclass
class GroupMetrics:
    """Task and SQL metrics of every job run under one job group."""

    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    failed_tasks: int = 0
    # rows the Python UDF nodes received
    python_rows: int = 0
    # one (rows out, build-side rows in, fed by an explode) per hash join
    # that carries a refine predicate as its join condition
    refine_joins: list[tuple[int, int, bool]] = field(default_factory=list)


def read_events(path: str):
    """Events of one application: ``path`` is an event-log file or a
    rolling-log directory (``events_<n>_*`` files read in order)."""
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def join_condition(simple: str) -> str:
    """The non-equi condition of a hash join's plan string, '' if none:
    ``... Inner, BuildRight, (cond), false`` -> ``(cond)``. Catalyst
    moves a filter on joined columns into this condition, so the join's
    output rows are the rows that passed the refine."""
    if "Build" not in simple:
        return ""
    tail = simple.split("Build", 1)[1].split(", ", 1)
    return tail[1].rsplit(", ", 1)[0] if len(tail) == 2 and ", " in tail[1] else ""


def _has_generate(node: dict) -> bool:
    return node["nodeName"].startswith("Generate") or any(_has_generate(c) for c in node.get("children", []))


def _rows_acc(node: dict) -> int | None:
    return next((m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == "number of output rows"), None)


def _rows_below(node: dict) -> int | None:
    """Output-rows metric of the first node at or below ``node`` that has
    one, through single-child wrappers (exchanges, query stages)."""
    while _rows_acc(node) is None and len(node.get("children", [])) == 1:
        node = node["children"][0]
    return _rows_acc(node)


def _plan_nodes(node: dict, refines: set, python: set) -> None:
    """Collect (output-rows acc, build-side rows acc, explode-fed) for
    every hash join with a condition, and the output-rows accs of Python
    UDF nodes (they append a column, so output rows = rows sent)."""
    name, simple = node["nodeName"], node.get("simpleString", "")
    kids = node.get("children", [])
    if name.startswith(JOIN_NODES) and len(kids) == 2 and join_condition(simple):
        build = kids[1] if "BuildRight" in simple else kids[0]
        out_acc, build_acc = _rows_acc(node), _rows_below(build)
        if out_acc is not None and build_acc is not None:
            refines.add((out_acc, build_acc, _has_generate(node)))
    if name.startswith(PYTHON_EVAL):
        acc = _rows_acc(node)
        if acc is not None:
            python.add(acc)
    for c in kids:
        _plan_nodes(c, refines, python)


def group_metrics(events) -> dict[str, GroupMetrics]:
    """Join task metrics and SQL node metrics to job groups.

    Stages map to the group of the first job that ran them; an SQL
    metric's updates are summed over the tasks that reported them and
    belong to the group of those tasks."""
    stage_group: dict[int, str] = {}
    refines: set = set()
    python: set = set()
    acc_sum: dict[int, int] = defaultdict(int)
    acc_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(JOB_GROUP)
            if group:
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
        elif "sparkPlanInfo" in e:
            _plan_nodes(e["sparkPlanInfo"], refines, python)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # metrics the driver sets, e.g. a broadcast's build-side rows
            for acc, upd in e["accumUpdates"]:
                acc_sum[acc] += int(upd)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            g = out[group]
            if e["Task End Reason"]["Reason"] != "Success":
                g.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
            g.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
            g.peak_exec_mem_mb = max(g.peak_exec_mem_mb, m.get("Peak Execution Memory", 0) / 2**20)
            for acc in e["Task Info"].get("Accumulables", []):
                try:
                    upd = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if acc.get("Name") == "time to run Python workers":
                    g.python_s += upd / 1e3
                acc_sum[acc["ID"]] += upd
                acc_group[acc["ID"]] = group
    for acc in python:
        if acc in acc_group:
            out[acc_group[acc]].python_rows += acc_sum[acc]
    for out_acc, build_acc, fed_by_explode in refines:
        if out_acc in acc_group:
            out[acc_group[out_acc]].refine_joins.append((acc_sum[out_acc], acc_sum[build_acc], fed_by_explode))
    return dict(out)


def find_event_log(log_dir: str) -> str:
    entries = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application event log in {log_dir}, found {len(entries)}")
    return entries[0]
