"""Spans around calls into the pipeline's modules, and the Spark event log
parsed per span.

Each span also becomes the Spark job group of every job started inside it,
so the event log attributes task time, shuffle, spill and failed tasks to
the span that caused them. Spans are kept in memory and written once, at
the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


def event_log_conf(log_dir: str) -> dict:
    """Session conf turning on an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def group_stats(log_dir: str) -> dict[str, dict]:
    """Per job group: task seconds, shuffle MB written, spill MB, failed
    tasks. Read after the SparkContext stopped, so the log is complete."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                st = out.setdefault(
                    group, {"task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0}
                )
                if ev["Task End Reason"]["Reason"] != "Success":
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                st["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ) / 1e6
                st["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return out
