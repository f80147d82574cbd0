"""Fold a Spark event log into per-job-group metrics.

Spark 4.1 writes a rolling event log: one ``eventlog_v2_<app id>``
directory holding ``events_<n>_<app id>`` files of JSON lines (the
benchmark turns compression off). Jobs carry the ``spark.jobGroup.id``
the trace set before each call, so tasks can be charged to the layer
whose call launched them.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics


class EventLog:
    """Every application logged under one directory; ids are keyed by
    (application, id) because each application numbers from 0."""

    def __init__(self, log_dir: str):
        apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
        if not apps:
            raise RuntimeError(f"no rolling event log under {log_dir}")
        self.env: dict = {}
        self.job_group: dict[tuple, str] = {}
        self.stage_group: dict[tuple, str] = {}
        self.stage_span_ms: dict[tuple, int] = {}
        self.tasks: dict[tuple, list[dict]] = {}
        self.exec_groups: dict[tuple, set] = {}
        self.exec_plans: dict[tuple, dict] = {}
        for self._app, app in enumerate(apps):
            parts = glob.glob(os.path.join(app, "events_*"))
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
            for part in parts:
                with open(part, encoding="utf-8") as fh:
                    for line in fh:
                        self._fold(json.loads(line))

    def _fold(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerEnvironmentUpdate" and not self.env:
            props = e["Spark Properties"]
            self.env = {
                "master": props.get("spark.master"),
                "driver_memory": props.get("spark.driver.memory", "1g (Spark default)"),
                "java_version": e["JVM Information"].get("Java Version"),
            }
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id", "")
            self.job_group[(self._app, e["Job ID"])] = group
            for sid in e["Stage IDs"]:
                self.stage_group.setdefault((self._app, sid), group)
            if "spark.sql.execution.id" in props:
                ex = (self._app, int(props["spark.sql.execution.id"]))
                self.exec_groups.setdefault(ex, set()).add(group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Completion Time" in info and "Submission Time" in info:
                self.stage_span_ms[(self._app, info["Stage ID"])] = (
                    info["Completion Time"] - info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            self.tasks.setdefault((self._app, e["Stage ID"]), []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.exec_plans[(self._app, e["executionId"])] = e["sparkPlanInfo"]

    def group_metrics(self, groups: set[str], span_s: float, cores: int) -> dict:
        """Event-log metrics of every task run by jobs in ``groups``.

        ``task_skew`` is max/median task time in the longest stage;
        ``core_util`` is busy core time over ``span_s`` x ``cores``.
        """
        stages = [s for s, g in self.stage_group.items() if g in groups and s in self.tasks]
        tasks = [t for s in stages for t in self.tasks[s]]
        busy = sum(t["run_ms"] for t in tasks) / 1000
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda s: self.stage_span_ms.get(s, 0))
            durs = [t["dur_ms"] for t in self.tasks[longest]]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "busy_core_s": busy,
            "core_util": busy / (span_s * cores) if span_s > 0 else 0.0,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "task_skew": skew,
        }

    def jobs(self, groups: set[str]) -> int:
        return sum(1 for g in self.job_group.values() if g in groups)

    def scans(self, groups: set[str], path: str) -> int:
        """File-scan operators over ``path`` in the initial physical plans
        of the SQL executions whose jobs ran in ``groups``."""
        path = os.path.realpath(path)

        def count(node: dict) -> int:
            own = 0
            if node["nodeName"].startswith("Scan ") and path in str(node.get("metadata", {})):
                own = 1
            return own + sum(count(c) for c in node.get("children", ()))

        return sum(
            count(plan) for ex, plan in self.exec_plans.items()
            if self.exec_groups.get(ex, set()) & groups
        )
