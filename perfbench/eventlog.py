"""Reader for Spark's JSON event log, grouped by job description.

The traced run sets a job description (``SparkContext.setJobDescription``)
around every step it times, e.g. ``perfbench:detect``.  Every job started
under a description, every stage of those jobs and every task of those
stages is attributed to it.  Per description this sums the task metrics
(run time, CPU, GC, spill, shuffle, output) and the SQL-node metrics of the
Python operators (``time to run Python workers`` and the bytes sent to and
returned from the workers), and finds the task skew of its longest stage.

Needs ``spark.eventLog.compress=false``; reads a single log file or a rolling
log directory (``eventlog_v2_*``).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

NO_DESCRIPTION = "(none)"

# SQL-node accumulator name -> (metric, scale to seconds or bytes)
SQL_METRICS = {
    "time to run Python workers": ("python_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("to_python_bytes", 1),
    "data returned from Python workers": ("from_python_bytes", 1),
}

METRICS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "spill_bytes",
           "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes",
           "output_records", "python_s", "python_boot_s", "to_python_bytes",
           "from_python_bytes", "task_skew")


def read_events(path: str) -> list[dict]:
    """Events of one application log (a file, or a rolling-log directory
    whose ``events_*`` parts are read in order)."""
    if os.path.isdir(path):
        parts = sorted((p for p in os.listdir(path) if p.startswith("events_")),
                       key=lambda p: int(p.split("_")[1]))
        files = [os.path.join(path, p) for p in parts]
    else:
        files = [path]
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def app_logs(event_dir: str) -> list[str]:
    """Application logs under *event_dir*, oldest first (in-progress logs
    included: a log is complete once its application has stopped)."""
    names = sorted(os.listdir(event_dir),
                   key=lambda n: os.path.getmtime(os.path.join(event_dir, n)))
    return [os.path.join(event_dir, n) for n in names]


def _task_skew(durations: dict[int, list[float]]) -> float:
    """max / median task time in the stage with the most task time."""
    if not durations:
        return 0.0
    longest = max(durations.values(), key=sum)
    med = statistics.median(longest)
    return max(longest) / med if med > 0 else 1.0


def by_description(events: list[dict]) -> dict[str, dict[str, float]]:
    """description -> {metric: value} (names in ``METRICS``)."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(METRICS, 0.0))
    durations: dict[str, dict[int, list[float]]] = defaultdict(
        lambda: defaultdict(list))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = ((e.get("Properties") or {}).get("spark.job.description")
                    or NO_DESCRIPTION)
            out[desc]["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(e.get("Stage ID"), NO_DESCRIPTION)
            m = out[desc]
            info = e.get("Task Info") or {}
            tm = e.get("Task Metrics") or {}
            m["tasks"] += 1
            m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                        + sr.get("Remote Bytes Read", 0))
            om = tm.get("Output Metrics") or {}
            m["output_bytes"] += om.get("Bytes Written", 0)
            m["output_records"] += om.get("Records Written", 0)
            for acc in info.get("Accumulables", ()):
                hit = SQL_METRICS.get(acc.get("Name"))
                if hit is not None:
                    try:
                        m[hit[0]] += float(acc.get("Update", 0)) * hit[1]
                    except (TypeError, ValueError):
                        pass
            if "Finish Time" in info and "Launch Time" in info:
                durations[desc][e.get("Stage ID")].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3)
    for desc, stages in durations.items():
        out[desc]["task_skew"] = _task_skew(stages)
    return dict(out)
