"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package, streaming progress comes from
the query's ``recentProgress``, and job, stage and task counters come
from Spark's uncompressed event log. The untraced run uses ``NoSpans``, whose
``span`` is a no-op context.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Spans:
    """In-memory span recorder; written out once, when the run ends.

    A span has a name, start, end (epoch seconds, so they compare with
    event-log timestamps), the id of the span that caused it, and the id
    of the operation it belongs to.
    """

    enabled = True

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: str | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.rows)
            row = {"id": sid, "name": name, "parent": parent, "op": self.op,
                   "start": time.time(), "end": None}
            self.rows.append(row)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            row["end"] = time.time()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.rows if r["name"] == name and r["end"] is not None]

    def with_self_time(self) -> list[dict]:
        """Each span plus ``self_ms``: its duration minus the union of
        the intervals its direct children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for r in self.rows:
            if r["parent"] is not None and r["end"] is not None:
                kids.setdefault(r["parent"], []).append((r["start"], r["end"]))
        out = []
        for r in self.rows:
            if r["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(kids.get(r["id"], [])):
                s, e = max(s, r["start"]), min(e, r["end"])
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            dur = r["end"] - r["start"]
            out.append(dict(r, dur_ms=dur * 1e3, self_ms=(dur - covered) * 1e3))
        return out


class NoSpans:
    """Stands in for ``Spans`` when tracing is off."""

    enabled = False

    def __init__(self) -> None:
        self.op: str | None = None
        self._null = contextlib.nullcontext()

    def span(self, name: str, parent: int | None = None):
        return self._null


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s plan, from
    its ``QueryPlanningTracker``. Forces physical planning first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k] = float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
    return out


def _log_files(directory: str) -> list[str]:
    """Event-log files in write order. Spark 4 writes a rolling log: a
    directory of ``events_<n>_<app>`` files plus an ``appstatus`` marker."""
    files = [p for p in glob.glob(os.path.join(directory, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]

    def order(p: str):
        parts = os.path.basename(p).split("_")
        return (int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0, p)

    return sorted(files, key=order)


def read_event_log(directory: str) -> dict:
    """Jobs (with their stages and task totals) from an uncompressed log.

    Returns ``{"jobs": [{"id", "group", "submit", "end", "stages",
    "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
    "input"}]}`` with times in epoch seconds.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_seen: set[int] = set()
    for path in _log_files(directory):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid, "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1e3, "end": None,
                        "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                        "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0,
                        "input": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    if ev["Stage ID"] not in stage_seen:
                        stage_seen.add(ev["Stage ID"])
                        job["stages"] += 1
                    sr = m.get("Shuffle Read Metrics", {})
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    job["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"])}


def jobs_in(jobs: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of the ``(start, end)`` windows."""
    return [j for j in jobs if any(s <= j["submit"] <= e for s, e in windows)]
