"""Per-job-group task metrics from Spark's own event log.

The traced run starts its session with `spark.eventLog.enabled=true`
and `spark.eventLog.compress=false`, so the log is plain JSON lines.
Jobs carry `spark.jobGroup.id` in their properties; tasks are mapped to
a group through their stage. SQL plan metrics come from the
SQLExecutionStart / SQLAdaptiveExecutionUpdate plan trees and the task
accumulator updates.
"""

from __future__ import annotations

import json
import os
import statistics


def find_log(log_dir: str) -> list[str]:
    """The event files of the one application logged under log_dir, in
    order: a v1 single file, or the v2 `eventlog_v2_<app>/events_<n>_*`
    files (the `appstatus_*` marker holds no events)."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one application in {log_dir}: {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    events = [f for f in os.listdir(path) if f.startswith("events_")]
    return [os.path.join(path, f) for f in
            sorted(events, key=lambda f: int(f.split("_")[1]))]


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


class EventLog:
    def __init__(self, paths: list[str]):
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.plans: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.acc: dict[int, int] = {}
        for path in paths:
            with open(path) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:  # a line being written
                        continue
                    self._event(ev)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                return
            for sid in ev.get("Stage IDs", []):
                self.stage_group.setdefault(sid, g)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                self.exec_group.setdefault(int(eid), g)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self.plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                return
            for a in info.get("Accumulables", []):
                self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + _num(
                    a.get("Update"))
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": ev.get("Stage ID"),
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_read": rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0),
                "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })

    def group_tasks(self, prefix: str) -> list[dict]:
        """Tasks of every job group named `prefix` or `prefix.*`."""
        return [t for t in self.tasks
                if _in_group(self.stage_group.get(t["stage"]), prefix)]

    def group_metrics(self, prefix: str) -> dict[str, float]:
        ts = self.group_tasks(prefix)
        run = [t["run_s"] for t in ts]
        return {
            "tasks": len(ts),
            "task_run_s": sum(run),
            "jvm_cpu_s": sum(t["cpu_s"] for t in ts),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "max_task_s": max(run, default=0.0),
            "median_task_s": statistics.median(run) if run else 0.0,
        }

    def heaviest_stage_tasks(self, prefix: str) -> list[float]:
        """Run seconds of each task of the group's stage with the most
        task time (for extraction: the decode stage)."""
        by: dict[int, list[float]] = {}
        for t in self.group_tasks(prefix):
            by.setdefault(t["stage"], []).append(t["run_s"])
        return max(by.values(), key=sum, default=[])

    def deepest_join_rows(self, group: str) -> int | None:
        """`number of output rows` of the deepest join node in the final
        plans of the group's SQL executions, summed over executions; None
        when no execution of the group has a join."""
        total, seen = 0, False
        for eid, g in self.exec_group.items():
            if g != group or eid not in self.plans:
                continue
            best = _deepest_join(self.plans[eid], 0)
            if best is None:
                continue
            for mt in best[1].get("metrics", []):
                if mt.get("name") == "number of output rows":
                    total += self.acc.get(mt["accumulatorId"], 0)
                    seen = True
        return total if seen else None


def _in_group(g: str | None, prefix: str) -> bool:
    return g is not None and (g == prefix or g.startswith(prefix + "."))


def _deepest_join(node: dict, depth: int) -> tuple[int, dict] | None:
    best = (depth, node) if "Join" in node.get("nodeName", "") else None
    for child in node.get("children", []):
        sub = _deepest_join(child, depth + 1)
        if sub is not None and (best is None or sub[0] > best[0]):
            best = sub
    return best
