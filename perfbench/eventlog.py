"""Fold a Spark event log into per-job-group task totals.

Reads an uncompressed, non-rolling event log (one JSON event per line, as
written with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``). Each stage is charged to the
job group of the first job that lists it; each ``SparkListenerTaskEnd``
adds its task metrics to that group. Jobs without a group fold under
``""``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

FIELDS = ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
          "input_rows", "shuffle_write_bytes", "shuffle_read_bytes",
          "spill_bytes", "py_sent_bytes", "py_received_bytes")


def _new() -> dict:
    out = {f: 0 for f in FIELDS}
    out["stage_task_ms"] = defaultdict(list)   # stage id -> task durations
    out["stage_shuffle_read"] = defaultdict(int)
    return out


def fold(lines) -> dict:
    """``{group: totals}`` over an iterable of event-log lines."""
    groups: dict = defaultdict(_new)
    stage_group: dict = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            g["tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            inp = m.get("Input Metrics") or {}
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_rows"] += inp.get("Records Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            read = (sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0))
            g["shuffle_read_bytes"] += read
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                if name == PY_SENT:
                    g["py_sent_bytes"] += int(acc.get("Update", 0))
                elif name == PY_RECEIVED:
                    g["py_received_bytes"] += int(acc.get("Update", 0))
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            g["stage_task_ms"][ev["Stage ID"]].append(dur)
            g["stage_shuffle_read"][ev["Stage ID"]] += read
    return dict(groups)


def fold_file(path: str) -> dict:
    with open(path) as fh:
        return fold(fh)


def task_skew(totals: dict) -> float:
    """Max over median task time in the group's widest shuffle-reading
    stage (most tasks; ties broken by shuffle bytes read). 1.0 when the
    group read no shuffle."""
    stages = [(len(t), totals["stage_shuffle_read"][s], s)
              for s, t in totals["stage_task_ms"].items()
              if totals["stage_shuffle_read"][s] > 0]
    if not stages:
        return 1.0
    durs = totals["stage_task_ms"][max(stages)[2]]
    return max(durs) / max(statistics.median(durs), 1)


def merge(parts) -> dict:
    """Sum several groups' totals (skew inputs are merged by stage)."""
    out = _new()
    for p in parts:
        for f in FIELDS:
            out[f] += p[f]
        for s, d in p["stage_task_ms"].items():
            out["stage_task_ms"][s].extend(d)
        for s, b in p["stage_shuffle_read"].items():
            out["stage_shuffle_read"][s] += b
    return out
