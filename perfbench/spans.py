"""Tracing from outside the program: spans around calls into each layer's
public functions, Spark job groups per span, and counters parsed from
Spark's event log.

A :class:`Tracer` rebinds module attributes (``etl.load``,
``etl.write_parquet`` ...) to wrappers that record a span and set a
unique Spark job group for its duration. After the session stops,
:func:`read_event_log` turns the event log into per-job task counters
and :meth:`Tracer.layer_counters` rolls them up per span name.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "pb-span-"

#: per-span counters taken from the event log
TASK_COUNTERS = ("tasks", "task_s", "input_bytes", "records_read", "shuffle_write_bytes",
                 "spill_bytes", "output_bytes", "failed_tasks")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans while :attr:`active`; wrappers pass straight through
    otherwise, so untraced ops run the same code path."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.op, time.time())
        self.spans.append(s)
        self._stack.append(s.sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{top.sid}", top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span measured by the caller (outside any op)."""
        self.spans.append(Span(len(self.spans), name, None, None, start, end))

    def patch(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` to a span-recording wrapper."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ rollup --

    def layer_counters(self, jobs: dict[int, dict], cores: int) -> dict[str, dict[str, float]]:
        """Per span name: counters averaged per unit, where a unit is one
        traced op for spans inside ops and one call otherwise.

        Job and task counters are inclusive of child spans; ``self_s`` is
        the span's wall time minus its children's; ``driver_gap_s`` is
        wall time during which no job of the span (or its children) ran.
        """
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.sid)
        by_span: dict[int, list[dict]] = {}
        for job in jobs.values():
            g = job.get("group") or ""
            if g.startswith(GROUP_PREFIX):
                by_span.setdefault(int(g[len(GROUP_PREFIX):]), []).append(job)

        def subtree_jobs(sid: int) -> list[dict]:
            out = list(by_span.get(sid, []))
            for c in children.get(sid, []):
                out.extend(subtree_jobs(c))
            return out

        totals: dict[str, dict[str, float]] = {}
        units: dict[str, set] = {}
        for s in self.spans:
            wall = s.end - s.start
            kids = children.get(s.sid, [])
            self_s = wall - sum(self.spans[c].end - self.spans[c].start for c in kids)
            js = subtree_jobs(s.sid)
            busy = _covered([(j["submit"], j["end"]) for j in js], s.start, s.end)
            t = totals.setdefault(s.name, dict.fromkeys(
                ("wall_s", "self_s", "jobs", "driver_gap_s", *TASK_COUNTERS), 0.0))
            t["wall_s"] += wall
            t["self_s"] += self_s
            t["jobs"] += len(js)
            t["driver_gap_s"] += wall - busy
            for j in js:
                for k in TASK_COUNTERS:
                    t[k] += j[k]
            units.setdefault(s.name, set()).add(("op", s.op) if s.op is not None else ("call", s.sid))
        out = {}
        for name, t in totals.items():
            n = len(units[name])
            avg = {k: v / n for k, v in t.items()}
            avg["core_util"] = avg["task_s"] / (avg["wall_s"] * cores) if avg["wall_s"] > 0 else 0.0
            out[name] = avg
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(directory: str) -> dict[int, dict]:
    """Parse every Spark event log in ``directory`` into
    ``{job_id: {group, submit, end, jobs' task counters}}`` with times in
    epoch seconds. Task metrics are summed per stage and a stage's
    counters go to the first job that lists it (a skipped stage's tasks
    ran only once)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{directory}/*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "submit": ev["Submission Time"] / 1000.0, "end": None,
                                 **dict.fromkeys(TASK_COUNTERS, 0.0)}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], dict.fromkeys(TASK_COUNTERS, 0.0)), ev)
    for sid, counters in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            for k in TASK_COUNTERS:
                jobs[jid][k] += counters[k]
    for job in jobs.values():
        if job["end"] is None:  # still running at stop: count to its start
            job["end"] = job["submit"]
    return jobs


def _add_task(c: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    c["failed_tasks"] += 1 if info.get("Failed") else 0
    c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    inp = m.get("Input Metrics") or {}
    c["input_bytes"] += inp.get("Bytes Read", 0)
    c["records_read"] += inp.get("Records Read", 0)
    c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
