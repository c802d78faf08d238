"""Spans around calls into kgkit, and Spark's own counters per span.

A ``Tracer`` records one span per call the benchmark makes into the
program (name, start, end, parent).  Untraced runs use it only for the
walls.  In a traced run it also sets a Spark job group around each leaf
call, so that afterwards:

* ``statusTracker`` gives the call's jobs, stages and completed tasks;
* the event log (written uncompressed for the traced session only)
  gives its shuffle bytes written, output bytes and records written,
  and the Python worker start / init / run times of the Arrow UDFs.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Callable, Dict, List

# Spark's SQL metric names for the Python UDF operators (PythonSQLMetrics)
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # None: walls only, no job groups
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": self._next_id, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self._next_id += 1
        self._stack.append(rec["id"])
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.spans.append(rec)

    def call(self, name: str, fn: Callable, **attrs):
        """Run ``fn()`` as a leaf span; traced, under its own job group."""
        with self.span(name, **attrs) as rec:
            if self.sc is None:
                return fn()
            rec["group"] = f"{name}#{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
            try:
                return fn()
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def walls(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def attribute(self) -> None:
        """Add jobs / stages / tasks from ``statusTracker`` to every
        grouped span.  A stage shared by two spans' jobs (a reused
        shuffle) counts for the span whose job ran it first."""
        st = self.sc.statusTracker()
        seen = set()
        for rec in sorted(self.spans, key=lambda s: s["id"]):
            if "group" not in rec:
                continue
            jobs = sorted(st.getJobIdsForGroup(rec["group"]))
            stages, tasks = [], 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stages.append(sid)
                    sinfo = st.getStageInfo(sid)
                    tasks += sinfo.numCompletedTasks if sinfo else 0
            rec.update(jobs=len(jobs), stages=len(stages), tasks=tasks)


def _event_lines(events_dir: str):
    """The lines of the one application's event log under ``events_dir``:
    a single file, or a rolling ``eventlog_v2_*`` dir of ``events_<n>_*``
    files."""
    (entry,) = os.listdir(events_dir)
    path = os.path.join(events_dir, entry)
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(os.path.basename(f).split("_")[1]))
    for f in files:
        with open(f) as fh:
            yield from fh


def event_log_counters(events_dir: str) -> Dict[str, dict]:
    """Per job group: shuffle bytes written, output bytes / records
    written and the Python worker times, summed over the tasks of every
    stage the group's jobs ran."""
    stage_group: Dict[int, str] = {}
    out: Dict[str, dict] = {}
    for line in _event_lines(events_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            acc = out.setdefault(group, zero_counters())
            tm = ev.get("Task Metrics") or {}
            acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            om = tm.get("Output Metrics") or {}
            acc["bytes_written"] += om.get("Bytes Written", 0)
            acc["records_written"] += om.get("Records Written", 0)
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PY_METRICS.get(a.get("Name"))
                if key is not None:
                    acc[key] += float(a.get("Update") or 0)
    return out


def zero_counters() -> dict:
    return {"shuffle_bytes": 0, "bytes_written": 0,
            "records_written": 0, **{k: 0.0 for k in PY_METRICS.values()}}
