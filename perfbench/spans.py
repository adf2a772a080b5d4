"""Spans, Spark job groups and the event-log fold for the traced run.

A span is recorded around each call into a layer's public function.
Each span also names the Spark job group of the jobs it starts, so the
event log folds task time, GC, shuffle and spill per span.  Spans stay
in memory; the caller prints them at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter() - self._t0
        try:
            yield
        finally:
            end = time.perf_counter() - self._t0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent, parent)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def wrap(self, owner, attr: str, name: str, patches: list) -> None:
        """Replace ``owner.attr`` by a spanned call; ``patches`` records
        the original so ``unwrap`` can put it back."""
        fn = getattr(owner, attr, None)
        if fn is None:
            return

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        patches.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    @staticmethod
    def unwrap(patches: list) -> None:
        for owner, attr, fn in reversed(patches):
            setattr(owner, attr, fn)
        patches.clear()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def subtree(self, root: str) -> set[str]:
        names = {root}
        for _ in range(len(self.spans)):
            names |= {s["name"] for s in self.spans if s["parent"] in names}
        return names


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task/GC time, shuffle and
    spill bytes, job intervals and per-stage task run times."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    task_times: dict[int, list[int]] = defaultdict(list)
    stage_sums: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    done_stages: list[int] = []
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id") or "-"
                    job_span[jid] = [ev["Submission Time"] / 1000, None]
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    task_times[sid].append(m.get("Executor Run Time", 0))
                    s = stage_sums[sid]
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    s["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    done_stages.append(ev["Stage Info"]["Stage ID"])
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
        "spill_bytes": 0, "shuffle_bytes": 0, "job_intervals": [], "stage_tasks": [],
    })
    for jid, grp in job_group.items():
        g = groups[grp]
        g["jobs"] += 1
        g["job_intervals"].append(tuple(job_span[jid]))
    for sid in done_stages:
        if sid not in stage_job or not task_times[sid]:
            continue
        g = groups[job_group[stage_job[sid]]]
        s = stage_sums[sid]
        g["stages"] += 1
        g["tasks"] += len(task_times[sid])
        g["run_s"] += s["run_ms"] / 1000
        g["gc_s"] += s["gc_ms"] / 1000
        g["spill_bytes"] += s["spill"]
        g["shuffle_bytes"] += s["shuffle"]
        g["stage_tasks"].append(task_times[sid])
    return dict(groups)


def merged(groups: dict[str, dict], names: set[str]) -> dict:
    out = {"jobs": 0, "stages": 0, "tasks": 0, "gc_s": 0.0, "spill_bytes": 0,
           "shuffle_bytes": 0, "job_intervals": [], "stage_tasks": []}
    for name in names:
        g = groups.get(name)
        if not g:
            continue
        for k in out:
            out[k] += g[k]
    return out


def busy_s(intervals: list[tuple]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def task_skew(stage_tasks: list[list[int]]) -> float:
    """max / median task run time of the stage with the most task time."""
    if not stage_tasks:
        return 0.0
    times = max(stage_tasks, key=sum)
    med = statistics.median(times)
    return max(times) / med if med else 0.0
