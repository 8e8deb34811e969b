"""Spans, Spark event-log attribution and process memory for the benchmark.

Spans are recorded by the benchmark around its calls into each layer of
``gliner_spark``; the package itself is not instrumented. Every span
tags the Spark jobs submitted while it is the innermost open span with
its own job group, so the event log attributes each job to exactly one
span. A parent's counters are the sum over itself and its descendants.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.span_id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``spark_context`` is optional so the span
    arithmetic runs without Spark; with it, each span sets the job group
    of the calling thread while it is the innermost open span."""

    def __init__(self, run_id: str, spark_context=None, clock=time.perf_counter):
        self.run_id = run_id
        self.sc = spark_context
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name,
                 parent.span_id if parent else None, self.run_id, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._tag(parent)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "span_id": s.span_id, "name": s.name, "parent": s.parent,
                    "run_id": s.run_id, "start": s.start, "end": s.end,
                }) + "\n")


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, ())
            if c.end > s.start and c.start < s.end
        )
        out[s.span_id] = s.duration - covered
    return out


# ------------------------------------------------------------ event log

SPARK_COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_run_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "shuffle_stages", "task_skew")


def _empty_counters() -> dict:
    return {k: 0 for k in SPARK_COUNTERS}


def parse_event_log(lines) -> dict[str, dict]:
    """Job group → Spark counters from event-log JSON lines.

    A job counts once, in the group it was submitted under. Tasks are
    attributed through their stage to the group of the job that
    submitted the stage; a stage that several jobs share but only one
    ran contributes its tasks once. ``task_skew`` is max/median task run
    time of the group's longest-running stage."""
    jobs: dict[str, int] = {}
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[g] = jobs.get(g, 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            stage_tasks.setdefault(ev["Stage ID"], []).append(ev)

    out: dict[str, dict] = {}
    for g, n in jobs.items():
        out.setdefault(g, _empty_counters())["jobs"] = n
    for sid, tasks in stage_tasks.items():
        c = out.setdefault(stage_group.get(sid), _empty_counters())
        run_s, wrote = [], 0
        for ev in tasks:
            m = ev.get("Task Metrics") or {}
            failed = (ev.get("Task Info") or {}).get("Failed", False) or \
                (ev.get("Task End Reason") or {}).get("Reason") != "Success"
            c["tasks"] += 1
            c["failed_tasks"] += int(bool(failed))
            r = m.get("Executor Run Time", 0) / 1000.0
            run_s.append(r)
            c["executor_run_s"] += r
            sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            wrote += sw
            c["shuffle_write_bytes"] += sw
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + \
                sr.get("Local Bytes Read", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        if wrote:
            c["shuffle_stages"] += 1
        total = sum(run_s)
        med = statistics.median(run_s)
        if total > c.setdefault("_dominant_s", 0.0):
            c["_dominant_s"] = total
            c["task_skew"] = max(run_s) / med if med > 0 else 1.0
    for c in out.values():
        c.pop("_dominant_s", None)
    return out


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Parse every finished event log under ``log_dir`` into one map."""
    lines = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith(".") or name.endswith(".inprogress"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines.extend(f)
    return parse_event_log(lines)


def span_counters(spans: list[Span], by_group: dict[str, dict],
                  inclusive: bool = False) -> dict[int, dict]:
    """span_id → counters of the jobs run under that span (``inclusive``
    adds its descendants'). ``task_skew`` is not summed: the inclusive
    value is the largest over the subtree."""
    own = {s.span_id: dict(by_group.get(s.group) or _empty_counters())
           for s in spans}
    if not inclusive:
        return own
    out = {sid: dict(c) for sid, c in own.items()}
    for s in sorted(spans, key=lambda s: -s.span_id):  # children first
        if s.parent is None:
            continue
        p, c = out[s.parent], out[s.span_id]
        for k in SPARK_COUNTERS:
            p[k] = max(p[k], c[k]) if k == "task_skew" else p[k] + c[k]
    return out


def layer_totals(spans: list[Span], by_group: dict[str, dict]) -> dict[str, dict]:
    """layer → wall_s (outermost spans of the layer), self_s and Spark
    counters (each job once, whichever span of the layer ran it)."""
    selfs = self_times(spans)
    own = span_counters(spans, by_group)
    by_id = {s.span_id: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s.layer, {"wall_s": 0.0, "self_s": 0.0,
                                     **_empty_counters()})
        parent = by_id.get(s.parent)
        if parent is None or parent.layer != s.layer:
            t["wall_s"] += s.duration
        t["self_s"] += selfs[s.span_id]
        for k in SPARK_COUNTERS:
            v = own[s.span_id][k]
            t[k] = max(t[k], v) if k == "task_skew" else t[k] + v
    return out


# ------------------------------------------------------------ memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status(pid: int) -> tuple[str, int] | None:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            fields = dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return None
    hwm = fields.get("VmHWM")
    return fields["Name"].strip(), int(hwm.split()[0]) if hwm else 0


class PeakRss:
    """Samples the kernel high-water mark (VmHWM) of every descendant
    process until stopped: the Spark JVM and the Python workers under
    it. Per-pid maxima are kept, so workers that exit still count."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.hwm_kb: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=10)
            self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        kids = _children_map()
        todo, seen = list(kids.get(os.getpid(), ())), set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            todo.extend(kids.get(pid, ()))
            st = _status(pid)
            if st is not None and st[1] >= self.hwm_kb.get(pid, ("", 0))[1]:
                self.hwm_kb[pid] = st

    def totals_mb(self) -> dict[str, float]:
        jvm = sum(kb for name, kb in self.hwm_kb.values() if name == "java")
        py = sum(kb for name, kb in self.hwm_kb.values()
                 if name.startswith("python"))
        return {"jvm_mb": jvm / 1024.0, "workers_mb": py / 1024.0}
