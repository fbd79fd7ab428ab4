"""Spark event-log reader: task metrics summed per job group.

The traced benchmark run tags every Spark action with a job group
(``SparkContext.setJobGroup``) and turns the event log on with
``spark.eventLog.compress=false``. This module reads that log back and
attributes each finished task to a group by the chain

    task -> stage ("Stage ID") -> first job that lists the stage
         -> the job's "spark.jobGroup.id" property.

A stage that several jobs list (a reused shuffle) belongs to the job that
listed it first, the one that ran it. Tasks of a stage no job lists, and
jobs without a group, fall under ``UNGROUPED``.

Spark 4 writes a rolling log, ``<dir>/eventlog_v2_<app>/events_<n>_<app>``,
one JSON event per line. A compressed log (``.zstd`` and friends) is
refused: Python's standard library cannot read zstd.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Dict, Iterable, Iterator, List

UNGROUPED = ""

# SQL metrics that the Python UDF operators (ArrowEvalPython, MapInPandas,
# ...) publish per task, by their display names
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # milliseconds


@dataclass
class GroupStats:
    """Sums over the finished tasks of one job group (times in seconds)."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_recv_bytes: int = 0
    py_run_s: float = 0.0


FIELDS = [f for f in GroupStats.__dataclass_fields__ if f != "jobs"]


def event_files(log_dir: str) -> List[str]:
    """The ``events_<n>_<app>`` files under ``log_dir``, in write order."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            m = re.match(r"events_(\d+)_", name)
            if not m:
                continue
            if name.endswith((".zstd", ".lz4", ".lzf", ".snappy")):
                raise ValueError(
                    f"compressed event log {name}: run with "
                    "spark.eventLog.compress=false"
                )
            found.append((root, int(m.group(1)), name))
    return [os.path.join(r, n) for r, _i, n in sorted(found)]


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _accum_total(accumulables: list, name: str) -> int:
    total = 0
    for acc in accumulables:
        if acc.get("Name") == name and acc.get("Update") is not None:
            total += int(acc["Update"])
    return total


def group_stats(events: Iterable[dict]) -> Dict[str, GroupStats]:
    """Per-group task-metric sums and job counts over ``events``."""
    stage_group: Dict[int, str] = {}
    stats: Dict[str, GroupStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or UNGROUPED
            stats.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            group = stage_group.get(ev["Stage ID"], UNGROUPED)
            acc = (ev.get("Task Info") or {}).get("Accumulables", [])
            sr = tm.get("Shuffle Read Metrics", {})
            g = stats.setdefault(group, GroupStats())
            g.tasks += 1
            g.run_s += tm.get("Executor Run Time", 0) / 1e3
            g.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            g.py_sent_bytes += _accum_total(acc, PY_SENT)
            g.py_recv_bytes += _accum_total(acc, PY_RECV)
            g.py_run_s += _accum_total(acc, PY_RUN) / 1e3
    return stats


def load_group_stats(log_dir: str) -> Dict[str, GroupStats]:
    files = event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return group_stats(read_events(files))
