"""Spans around layer calls, and per-layer metrics from Spark's event log.

A span is recorded around each call the benchmark makes into a layer:
name (the layer's module), start, end, parent, and the run id every
span of one run shares. While a span is open its id is the Spark job
group, so every job, stage and task in the event log can be attributed
to the innermost span that launched it. Spans stay in memory and are
written out once, when the run ends.

Layer metrics (summed over a layer's spans):

    wall_s            span durations
    self_s            span durations minus the part child spans cover
    driver_s          self time during which none of the span's own
                      Spark jobs ran: query construction, planning,
                      listing, commit and scheduling gaps on the driver
    jobs              Spark jobs the span launched itself
    task_cpu_s        executor CPU of those jobs' tasks
    python_s          time tasks spent in Python workers (the SQL
                      metrics of the layer's Python operators)
    shuffle_write_mb  shuffle bytes written
    spill_mb          memory + disk bytes spilled
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

BASE_METRICS = ("wall_s", "self_s", "driver_s", "jobs", "task_cpu_s",
                "python_s", "shuffle_write_mb", "spill_mb")

# SQL metrics read from the executed plans: the time tasks spend in
# Python workers (Arrow/pandas map and UDF operators), and the rows the
# nested-loop joins emit (the pairs a similarity step scores)
_PYTHON_TIME = "time to run Python workers"
_PAIR_JOINS = ("BroadcastNestedLoopJoin", "CartesianProduct")
_UNIT_S = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """The untraced runs' tracer: records nothing."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def hold(self, layer: str, df) -> None:
        pass

    def note(self, layer: str, **counts) -> None:
        pass

    def take_notes(self) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and tags every Spark job with its span's id.

    ``hold`` reads the analysis/optimization/planning phases of an
    executed DataFrame; ``note`` queues counts that need a Spark job of
    their own, evaluated by ``take_notes`` outside every span."""

    def __init__(self, run_id: str, spark) -> None:
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.plan_ms: dict[str, float] = defaultdict(float)
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._notes: list[tuple[str, dict]] = []

    def hold(self, layer: str, df) -> None:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            self.plan_ms[layer] += it.next()._2().durationMs()

    def note(self, layer: str, **counts) -> None:
        self._notes.append((layer, counts))

    def take_notes(self) -> None:
        for layer, counts in self._notes:
            for k, v in counts.items():
                self.counts[layer][k] += v() if callable(v) else v
        self._notes.clear()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span("s%d" % len(self.spans), name,
                  parent.sid if parent else None, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(sp.sid, "%s %s" % (self.run_id, sp.name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "span": sp.sid, "name": sp.name,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    **sp.attrs}) + "\n")


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m.get("metricType"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> dict:
    """Per job group: job intervals (s), task metrics and SQL metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql_metric: dict[int, tuple] = {}
    tasks: list[tuple[int, dict]] = []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1e3}
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev))
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, sql_metric)
    groups: dict[str, dict] = defaultdict(lambda: {
        "intervals": [], "jobs": 0, "task_cpu_s": 0.0, "python_s": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "pairs_scored": 0.0})
    for j in jobs.values():
        if j["group"] is not None:
            g = groups[j["group"]]
            g["jobs"] += 1
            g["intervals"].append((j["start"], j.get("end", j["start"])))
    for stage, ev in tasks:
        job = jobs.get(stage_job.get(stage, -1))
        if job is None or job["group"] is None:
            continue
        g = groups[job["group"]]
        tm = ev.get("Task Metrics") or {}
        g["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        g["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / 2**20
        g["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                          + tm.get("Disk Bytes Spilled", 0)) / 2**20
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            node, name, mtype = sql_metric.get(a.get("ID"), ("", "", None))
            if name == _PYTHON_TIME:
                g["python_s"] += float(a.get("Update") or 0) * _UNIT_S.get(mtype, 1e-3)
            elif name == "number of output rows" and node in _PAIR_JOINS:
                g["pairs_scored"] += float(a.get("Update") or 0)
    return dict(groups)


def layer_metrics(tracer: Tracer, groups: dict) -> dict[str, dict[str, float]]:
    """Per layer name: the BASE_METRICS summed over its spans."""
    children = defaultdict(list)
    for sp in tracer.spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(BASE_METRICS, 0.0))
    empty = {"intervals": [], "jobs": 0}
    for sp in tracer.spans:
        wall = sp.end - sp.start
        kids = [(c.start, c.end) for c in children[sp.sid]]
        self_s = wall - _union_len(kids, sp.start, sp.end)
        g = groups.get(sp.sid, empty)
        busy = _union_len(g["intervals"] + kids, sp.start, sp.end)
        m = out[sp.name]
        m["wall_s"] += wall
        m["self_s"] += self_s
        m["driver_s"] += max(wall - busy, 0.0)
        m["jobs"] += g["jobs"]
        for k in ("task_cpu_s", "shuffle_write_mb", "spill_mb"):
            m[k] += g.get(k, 0.0)
        # a Python operator runs inside the job of the call that executes
        # it (a lazy plan's write): credit its time to the layer that
        # built it
        out[sp.attrs.get("python_owner") or sp.name]["python_s"] += g.get("python_s", 0.0)
        if g.get("pairs_scored"):
            out[sp.name]["pairs_scored"] = out[sp.name].get("pairs_scored", 0.0) + g["pairs_scored"]
    return dict(out)
