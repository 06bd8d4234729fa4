"""Tracing for the per-layer run: in-memory spans plus Spark's event log.

Spans are recorded from the benchmark's own code around each call into
the engine (no instrumentation inside the engine). Spark-side work is
attributed through a job group per operation: every job an operation
triggers — eager fills and driver collects during the build, the
materialize after it — carries the group, and :func:`job_group_totals`
folds the event log's task metrics by group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: SQL metric names of the Arrow traffic to and from Python workers
_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Collects spans in memory. With ``enabled`` false it records
    nothing and :meth:`span` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def event_log_confs(log_dir: str) -> list[str]:
    """spark-submit arguments that turn the event log on."""
    os.makedirs(log_dir, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return [arg for k, v in confs.items() for arg in ("--conf", f"{k}={v}")]


def _event_log_lines(log_dir: str, app_id: str):
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        path = os.path.join(
            log_dir, next(p for p in os.listdir(log_dir) if app_id in p)
        )
    parts = (
        sorted(
            os.path.join(path, p) for p in os.listdir(path)
            if p.startswith("events_")
        )
        if os.path.isdir(path)
        else [path]
    )
    for part in parts:
        with open(part) as fh:
            yield from fh


def job_group_totals(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per ``spark.jobGroup.id``: tasks, failed tasks, shuffle bytes
    written, disk spill bytes, Python Arrow bytes and executor CPU."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in _event_log_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                group_of_stage.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            tot = out.setdefault(
                group_of_stage.get(ev.get("Stage ID"), ""),
                {
                    "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0,
                    "spill_bytes": 0, "python_bytes": 0, "executor_cpu_s": 0.0,
                },
            )
            tot["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason not in (None, "Success"):
                tot["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            tot["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            tot["executor_cpu_s"] += (
                m.get("Executor CPU Time", 0)
                + m.get("Executor Deserialize CPU Time", 0)
            ) / 1e9
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in _PYTHON_BYTES:
                    try:
                        tot["python_bytes"] += int(float(acc.get("Update", 0)))
                    except (TypeError, ValueError):
                        pass
    return out
