"""Offline reader for a Spark event log (uncompressed JSON lines).

The engine disables the Spark UI, so stage-level facts come from the
event log the traced run switches on.  Every job carries the
description the benchmark set with ``setJobDescription`` when it was
submitted; :func:`summarize` groups jobs by that label, so per-span
totals (jobs, tasks, CPU, GC, shuffle, spill, Python boundary bytes
and rows, scans of a given input path) need no knowledge of engine
internals beyond Spark's own plan node names.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from typing import Callable, Dict, Iterable, List, Optional


class EventLog:
    def __init__(self, path: str):
        self.jobs: Dict[int, dict] = {}
        self.stages: Dict[int, dict] = {}
        self.exec_plans: Dict[int, List[dict]] = defaultdict(list)
        self.exec_initial: Dict[int, dict] = {}
        for name in sorted(os.listdir(path)):
            full = os.path.join(path, name)
            if os.path.isfile(full) and not name.startswith("."):
                with open(full, encoding="utf-8") as f:
                    for line in f:
                        self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "desc": props.get("spark.job.description") or "",
                "exec": int(exec_id) if exec_id is not None else None,
                "stages": list(e["Stage IDs"]),
            }
            for sid in e["Stage IDs"]:
                self.stages.setdefault(sid, _new_stage())["job"] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], _new_stage())
            st["scopes"] = {json.loads(r["Scope"])["name"]
                            for r in info["RDD Info"] if r.get("Scope")}
            st["rdds"] = {r["Name"] for r in info["RDD Info"]}
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], _new_stage())
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            st["tasks"] += 1
            st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, str)) and str(upd).lstrip("-").isdigit():
                    st["acc"][acc["ID"]] += int(upd)
        elif kind.endswith("SQLExecutionStart"):
            self.exec_initial[e["executionId"]] = e["sparkPlanInfo"]
            self.exec_plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.exec_plans[e["executionId"]].append(e["sparkPlanInfo"])

    def summarize(self, label: Callable[[str], bool],
                  input_path: Optional[str] = None) -> dict:
        """Totals over every job whose description satisfies ``label``."""
        jobs = [j for j, info in self.jobs.items() if label(info["desc"])]
        stage_ids = [s for j in jobs for s in self.jobs[j]["stages"]
                     if self.stages.get(s, {}).get("tasks")]
        stages = [self.stages[s] for s in stage_ids]
        execs = {self.jobs[j]["exec"] for j in jobs} - {None}
        py_acc = _node_metric_ids(
            (p for x in execs for p in self.exec_plans[x]), "MapInPandas")
        kernel = [s for s in stages if "MapInPandas" in s["scopes"]]
        kernel_execs = {x for x in execs
                        if _plan_has(self.exec_initial.get(x), "MapInPandas")}
        # the salt exchange's map side: the input scan feeding the kernel
        salt = [s for s in stages if "FileScanRDD" in s["rdds"]
                and "Exchange" in s["scopes"]
                and self.jobs[s["job"]]["exec"] in kernel_execs]
        out = {
            "jobs": len(jobs),
            "tasks": sum(s["tasks"] for s in stages),
            "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "shuffle_bytes": sum(s["shuffle_write"] for s in stages),
            "spill_bytes": sum(s["spill"] for s in stages),
            "py_bytes_sent": _acc_sum(stages, py_acc.get(
                "data sent to Python workers", ())),
            "py_rows": _acc_sum(stages, py_acc.get("number of output rows", ())),
            "salt_shuffle_bytes": sum(s["shuffle_write"] for s in salt),
            "kernel_task_skew": _skew([ms for s in kernel for ms in s["task_ms"]]),
            "input_scans": len(_scan_metric_ids(
                (p for x in execs for p in self.exec_plans[x]), input_path)
                & {k for s in stages for k in s["acc"]}) if input_path else 0,
        }
        return out


def _new_stage() -> dict:
    return {"job": None, "scopes": set(), "rdds": set(),
            "tasks": 0, "task_ms": [], "cpu_ns": 0, "gc_ms": 0, "spill": 0,
            "shuffle_write": 0, "acc": defaultdict(int)}


def _walk(node: Optional[dict]) -> Iterable[dict]:
    if node is None:
        return
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(n.get("children", []))


def _plan_has(plan: Optional[dict], node_name: str) -> bool:
    return any(n["nodeName"] == node_name for n in _walk(plan))


def _node_metric_ids(plans: Iterable[dict], node_name: str) -> Dict[str, set]:
    ids: Dict[str, set] = defaultdict(set)
    for plan in plans:
        for n in _walk(plan):
            if n["nodeName"] == node_name:
                for m in n.get("metrics", []):
                    ids[m["name"]].add(m["accumulatorId"])
    return ids


def _acc_sum(stages: List[dict], ids: Iterable[int]) -> int:
    ids = set(ids)
    return sum(v for s in stages for k, v in s["acc"].items() if k in ids)


def _scan_metric_ids(plans: Iterable[dict], input_path: str) -> set:
    """One accumulator per file-scan node over ``input_path`` (its output
    row count).  A scan executed iff a task updated it: a cached plan
    shown under an in-memory scan is listed but never re-run."""
    want = os.path.abspath(input_path).rstrip("/")
    ids = set()
    for plan in plans:
        for n in _walk(plan):
            loc = (n.get("metadata") or {}).get("Location", "")
            if n["nodeName"].startswith("Scan") and loc.rstrip("]").endswith(want):
                ids.update(m["accumulatorId"] for m in n.get("metrics", [])
                           if m["name"] == "number of output rows")
    return ids


def _skew(task_ms: List[int]) -> float:
    """Slowest task over the median task of the kernel stage(s)."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else float(max(task_ms) > 0)
