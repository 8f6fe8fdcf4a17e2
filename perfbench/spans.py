"""Spans and Spark counters for the traced run.

A :class:`Tracer` records a span (name, start, end, parent, run id) around
each public call the benchmark makes. Every span is also a Spark job group,
so the jobs a call launches are counted with the status tracker while the
span is open, and the event log (turned on only in the traced run) can be
attributed to spans afterwards. Spans stay in memory until
:meth:`Tracer.dump` writes them as JSON.

With tracing off, :meth:`Tracer.span` only yields; the end-to-end figures
are measured by the workloads themselves with ``time.perf_counter`` either
way, so the traced run's figures minus an untraced run's are the tracing
overhead.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        group = self._group(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._group(self._stack[-1]),
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, rec: dict) -> str:
        return f"{self.run_id}:{rec['id']}"

    def jobs(self, rec: dict) -> int:
        """Jobs launched while ``rec`` or any span under it was open."""
        return rec["jobs"] + sum(self.jobs(s) for s in self.spans
                                 if s["parent"] == rec["id"])

    def dump(self, path: str, counters: Optional[Dict[str, dict]] = None):
        """Write spans (with duration, self time and, when given, the event
        log counters of their own job group) as one JSON document."""
        kids: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append({
                "id": s["id"], "name": s["name"], "parent": s["parent"],
                "run": s["run"], "start": s["start"], "end": s["end"],
                "duration_s": dur,
                "self_s": dur - _covered(kids.get(s["id"], [])),
                "jobs": s["jobs"], "attrs": s["attrs"],
                "spark": (counters or {}).get(self._group(s), {}),
            })
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": out}, f, indent=1,
                      default=str)


def _covered(children: List[dict]) -> float:
    """Length of the union of the children's [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((c["start"], c["end"]) for c in children):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_EMPTY = {"tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0,
          "spill_bytes": 0, "gc_ms": 0}


def event_log_counters(log_dir: str) -> Dict[str, dict]:
    """Per job group (``"*"`` for the whole application): tasks, failed
    tasks, shuffle bytes written, bytes spilled (memory + disk) and JVM GC
    time, from Spark's JSON event log."""
    stage_group: Dict[int, str] = {}
    out: Dict[str, dict] = {"*": dict(_EMPTY)}
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "-"
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "-")
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    for key in ("*", group):
                        c = out.setdefault(key, dict(_EMPTY))
                        c["tasks"] += 1
                        c["failed_tasks"] += int(bool(info.get("Failed")))
                        c["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                               or {}).get(
                                                   "Shuffle Bytes Written", 0)
                        c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                             + m.get("Disk Bytes Spilled", 0))
                        c["gc_ms"] += m.get("JVM GC Time", 0)
    return out
