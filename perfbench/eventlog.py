"""Spark event-log reader for the traced run.

Reads the JSON-lines log that ``spark.eventLog.enabled`` writes (one
file per SparkContext, complete once the context has stopped) and
aggregates it per job group. Nothing here touches the engine: job
groups are set by the benchmark around its own calls.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    def __init__(self, log_dir: str):
        self.job_group: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, dict] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if not os.path.isfile(path) or path.endswith(".inprogress"):
                continue
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.job_group[e["Job ID"]] = group
            for sid in e["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            self.tasks[e["Stage ID"]].append(e)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            # the last plan seen per execution is the one that ran
            self.plans[e["executionId"]] = e["sparkPlanInfo"]

    def jobs(self, group: str | None = None) -> int:
        """Jobs run under ``group`` (every job when None)."""
        return sum(1 for g in self.job_group.values() if group in (None, g))

    def _task_metrics(self, group: str | None = None):
        for sid, tasks in self.tasks.items():
            if sid in self.stages and group in (None, self.stage_group.get(sid)):
                for t in tasks:
                    yield t.get("Task Metrics") or {}

    def shuffle_mb(self, group: str | None = None) -> float:
        return sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for m in self._task_metrics(group)
        ) / 1e6

    def summary(self, wall_s: float, cores: int, scan_marker: str) -> dict:
        """Whole-log runtime numbers: counts, spill, GC, busy share and
        the task skew of the longest stage."""
        metrics = list(self._task_metrics())
        run_ms = sum(m.get("Executor Run Time", 0) for m in metrics)
        longest = max(
            self.stages.values(),
            key=lambda s: (s.get("Completion Time", 0) - s.get("Submission Time", 0)),
            default=None,
        )
        skew = 1.0
        if longest is not None:
            durs = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                    for t in self.tasks.get(longest["Stage ID"], [])]
            med = statistics.median(durs) if durs else 0
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "spark.jobs": self.jobs(),
            "spark.stages": len(self.stages),
            "spark.tasks": len(metrics),
            "spark.transcript_scans": self.scans(scan_marker),
            "spark.spill_mb": sum(m.get("Disk Bytes Spilled", 0) for m in metrics) / 1e6,
            "spark.gc_s": sum(m.get("JVM GC Time", 0) for m in metrics) / 1e3,
            "spark.busy_share": run_ms / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.task_skew": skew,
        }

    def scans(self, marker: str) -> int:
        """File scans of ``marker`` (the events parquet the transcript
        derivation reads) in every executed plan. A cached relation
        lists its cached plan as a child, so a read of pinned
        transcripts counts as well as a re-derivation."""
        def walk(node: dict) -> int:
            own = node["nodeName"].startswith("Scan") and marker in node.get("metadata", {}).get("Location", "")
            return int(own) + sum(walk(c) for c in node.get("children", []))

        return sum(walk(p) for p in self.plans.values())
