"""Spans around calls into lotus_spark, and the Spark event-log parser.

A span records one call into a public ``lotus_spark`` function (or a
whole unit of workload work): its name, parent, start and end. While a
span is open, every Spark job the calling thread submits carries the
span's id as its job group, so the event log attributes jobs, stages
and tasks to spans without touching the library.

The event log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``); ``parse_event_log`` reads the
JSON-lines file and returns per-job records with their task metrics
summed, including the Python-worker metrics Spark attaches to
``ArrowEvalPython`` / ``MapInPandas`` stages.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory. A disabled tracer yields ``None`` and
    sets no job group, so the untraced path is the plain call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, parent, time.time())
        self._stack.append(s)
        self.sc.setJobGroup(f"pb-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"pb-{outer.id}", outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# SQL-metric names Spark gives the Python-worker stages' accumulables
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.eval_s",
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
}
_MS_METRICS = {"python.boot_s", "python.init_s", "python.eval_s"}

TASK_METRICS = ("spark.tasks", "spark.executor_run_s",
                "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes",
                "spark.shuffle_write_bytes")


def _zero() -> dict:
    m = {k: 0.0 for k in TASK_METRICS}
    m.update({v: 0.0 for v in PYTHON_METRICS.values()})
    m["spark.stages"] = 0.0
    return m


def _add_task(m: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    m["spark.tasks"] += 1
    m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["spark.input_bytes"] += (tm.get("Input Metrics") or {}).get(
        "Bytes Read", 0)
    m["spark.shuffle_write_bytes"] += (
        tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is None:
            continue
        v = float(acc.get("Update") or 0)
        m[key] += v / 1e3 if key in _MS_METRICS else v


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return files[0]


def parse_event_log(path: str) -> list[dict]:
    """One record per job: ``group``, ``start``/``end`` (epoch seconds)
    and its summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = {"group": props.get("spark.jobGroup.id"),
                     "start": ev["Submission Time"] / 1e3, "end": None,
                     "metrics": _zero()}
                jobs[ev["Job ID"]] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]]["metrics"]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is not None:
                    _add_task(jobs[jid]["metrics"], ev)
    return list(jobs.values())


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


def _children(spans: list[Span]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    return kids


def _subtree(kids: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out


def layer_totals(spans: list[Span], jobs: list[dict],
                 unit: str = "unit") -> dict:
    """Per-unit layer metrics over the spans named ``unit``.

    - ``spark.*`` and ``python.*``: task metrics of every job submitted
      inside a unit;
    - ``driver.plan_s``: for each call directly inside a unit, the time
      from its start to its first job (its whole time if it ran none);
    - ``driver.self_s``: unit wall time minus the union of its job spans;
    - ``<span>.s``, ``<span>.jobs``, ``<span>.input_bytes``: each named
      call's wall time, jobs and scan bytes;
    - any counts the unit or its calls recorded on their spans.

    Every value is a total over the units divided by their number.
    """
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        g = j["group"] or ""
        if g.startswith("pb-"):
            by_span.setdefault(int(g[3:]), []).append(j)
    by_id = {s.id: s for s in spans}
    kids = _children(spans)
    units = [s for s in spans if s.name == unit]
    out = _zero()
    out.update({"unit.s": 0.0, "spark.jobs": 0.0, "driver.plan_s": 0.0,
                "driver.self_s": 0.0})

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for u in units:
        ujobs = [j for i in _subtree(kids, u.id) for j in by_span.get(i, [])]
        add("unit.s", u.end - u.start)
        add("spark.jobs", len(ujobs))
        for j in ujobs:
            for k, v in j["metrics"].items():
                add(k, v)
        add("driver.self_s", (u.end - u.start) - union_length(
            [(j["start"], j["end"] or u.end) for j in ujobs]))
        for k, v in u.counts.items():
            add(k, v)
        for i in _subtree(kids, u.id)[1:]:
            s = by_id[i]
            sjobs = [j for k in _subtree(kids, i) for j in by_span.get(k, [])]
            if s.parent == u.id:
                first = min((j["start"] for j in sjobs), default=s.end)
                add("driver.plan_s", max(0.0, min(first, s.end) - s.start))
            add(f"{s.name}.s", s.end - s.start)
            add(f"{s.name}.jobs", len(sjobs))
            add(f"{s.name}.input_bytes", sum(
                j["metrics"]["spark.input_bytes"] for j in sjobs))
            for k, v in s.counts.items():
                add(k, v)
    n = max(1, len(units))
    out = {k: v / n for k, v in out.items()}
    out["units"] = len(units)
    return out
