"""Spans around the calls into the program, and the per-layer rollup of
Spark's event log.

A span is (name, start, end, parent). Spans are kept in memory; a traced
run writes them to standard error when it ends. Each span also sets the Spark job group
to its name, so every job a layer launches is labelled in the event log.
A job's layer is its job group's first dotted component; a job whose
group is not a span's (a streaming micro-batch runs under its query's
own group) takes the layer of the innermost span whose interval holds its
submission time.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("session", "preprocess", "exact", "remainder", "blocking", "scoring",
          "top1", "cluster", "pipeline")
ROLLUP = ("wall_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
          "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_max_s", "task_p50_s")
_MB = 2**20


class Tracer:
    """In-memory span recorder; ``sc`` is the SparkContext whose job group
    each span sets (None records spans only)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else "bench"
                self.sc.setJobGroup(outer, outer)

    def wall(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _python_metric_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row metrics of Python-eval nodes."""
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def read_event_log(path: str) -> dict:
    """Jobs, stage -> tasks, and Python-row accumulator updates."""
    jobs = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    py_ids: set[int] = set()
    py_updates: dict[int, int] = defaultdict(int)   # stage -> python rows
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": ev["Stage IDs"],
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_metric_ids(ev["sparkPlanInfo"], py_ids)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "sw": sw.get("Shuffle Bytes Written", 0),
                    "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
                for acc in info.get("Accumulables", []):
                    if acc.get("ID") in py_ids and acc.get("Update") is not None:
                        py_updates[ev["Stage ID"]] += int(acc["Update"])
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks, "py_rows": py_updates}


def _layer_of(job: dict, spans: list[dict]) -> str | None:
    names = {s["name"] for s in spans}
    if job["group"] in names:
        return job["group"].split(".")[0]
    best = None
    for s in spans:
        if s["start"] - 0.002 <= job["submit"] <= s["end"] + 0.002:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["name"].split(".")[0] if best else None


def rollup(log: dict, tracer: Tracer) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in :data:`LAYERS`."""
    jobs_of: dict[str, list[int]] = defaultdict(list)
    for jid, job in log["jobs"].items():
        layer = _layer_of(job, tracer.spans)
        if layer:
            jobs_of[layer].append(jid)
    out: dict[str, float] = {}
    for layer in LAYERS:
        stages = {sid for jid in jobs_of[layer] for sid in log["jobs"][jid]["stages"]
                  if log["stage_job"].get(sid) == jid and log["tasks"].get(sid)}
        ts = [t for sid in stages for t in log["tasks"][sid]]
        runs = [t["run_s"] for t in ts]
        out.update({
            f"{layer}.wall_s": tracer.wall(layer),
            f"{layer}.jobs": len(jobs_of[layer]),
            f"{layer}.stages": len(stages),
            f"{layer}.tasks": len(ts),
            f"{layer}.executor_run_s": sum(runs),
            f"{layer}.executor_cpu_s": sum(t["cpu_s"] for t in ts),
            f"{layer}.shuffle_write_mb": sum(t["sw"] for t in ts) / _MB,
            f"{layer}.shuffle_read_mb": sum(t["sr"] for t in ts) / _MB,
            f"{layer}.spill_mb": sum(t["spill"] for t in ts) / _MB,
            f"{layer}.task_max_s": max(runs, default=0.0),
            f"{layer}.task_p50_s": statistics.median(runs) if runs else 0.0,
        })
    return out


def python_rows(log: dict, tracer: Tracer, layer: str) -> int:
    """Rows out of the Python-eval nodes of ``layer``'s stages."""
    total = 0
    for sid, rows in log["py_rows"].items():
        jid = log["stage_job"].get(sid)
        if jid is not None and _layer_of(log["jobs"][jid], tracer.spans) == layer:
            total += rows
    return total


def unit(name: str) -> str:
    """A metric's unit, from its name."""
    if name.endswith("cpu_s"):
        return "cpu-s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_yield")):
        return "ratio"
    return "count"


def jobs_in(log: dict, start: float, end: float) -> int:
    return sum(1 for j in log["jobs"].values() if start - 0.002 <= j["submit"] <= end + 0.002)
