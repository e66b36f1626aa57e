"""Spans around calls into the engine's layers, joined with Spark's event log.

A span records wall time and process-tree CPU around one call, and tags
every Spark job the call starts with a job group of its own. After the
session stops, the event log gives each job group's task run time, task
CPU, GC, shuffle bytes, spill and failed tasks. Spans stay in memory and
are written as one JSON file at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from host import tree_cpu_s

#: task metrics summed per span, as (output key, event-log path, scale)
_TASK_METRICS = (
    ("task_run_s", ("Executor Run Time",), 1e-3),
    ("task_cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Remote Bytes Read"), 2**-20),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Local Bytes Read"), 2**-20),
    ("shuffle_write_mb", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 2**-20),
    ("spill_mb", ("Memory Bytes Spilled",), 2**-20),
    ("spill_mb", ("Disk Bytes Spilled",), 2**-20),
)
STAGE_KEYS = ("tasks", "failed_tasks") + tuple(dict.fromkeys(k for k, _, _ in _TASK_METRICS))


def event_log_conf(log_dir: str) -> dict:
    """Spark settings that write an uncompressed event log to ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: wall time the spans' own bookkeeping took (the /proc walks for
        #: process-tree CPU and the job-group calls), summed over all spans
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        """Yield the span's record; callers add counts to it. A span around
        a lazy call must run the action that materializes it inside."""
        t_enter = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "name": name,
        }
        self.spans.append(rec)
        rec["group"] = f"{self.run_id}-{rec['id']}"
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        self.overhead_s += t0 - t_enter
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["wall_s"] = t1 - t0
            rec["tree_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def attach_stage_metrics(self, log_dir: str) -> None:
        """Sum task metrics per span from the finished event log; a span's
        totals include those of its child spans."""
        per_group = _group_metrics(log_dir)
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update({k: 0.0 for k in STAGE_KEYS})
        for s in self.spans:
            own = per_group.get(s["group"], {})
            node = s
            while node is not None:
                for k in STAGE_KEYS:
                    node[k] += own.get(k, 0.0)
                node = by_id.get(node["parent"])

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "overhead_s": self.overhead_s, **extra,
                       "spans": self.spans}, f, indent=1)


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for key in path:
        d = d.get(key, {})
    return float(d) if isinstance(d, (int, float)) else 0.0


def _group_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    # a stage reused by a later job is skipped there, so its
                    # tasks belong to the first job that listed it
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                acc = out.setdefault(group, {k: 0.0 for k in STAGE_KEYS})
                acc["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    acc["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                for key, path, scale in _TASK_METRICS:
                    acc[key] += _dig(tm, path) * scale
    return out
