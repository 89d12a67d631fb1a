"""Spans around the benchmark's calls into each layer, and the offline
parse of Spark's event log that attributes executor work to them.

A span is (id, name, start, end, parent, run). While a span is open on
the calling thread its id is the Spark job group, so every job the call
fires carries the span id. Jobs without a known group (structured
streaming runs tag their jobs with the query's run id) are attributed
to the innermost span whose interval holds the job's submission time.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark 4.1 SQL metric names of the Python-worker nodes (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, ...), keyed to the per-layer
# metric they feed
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_sent_bytes",
    "number of output rows": "python_rows_received",
}
EXEC_KEYS = (
    "exec_run_ms", "exec_cpu_ns", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks",
)


class Tracer:
    """Records spans when enabled; a no-op context otherwise, so the
    untraced path runs the same calls without bookkeeping."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _walk_plan(node: dict, out: dict) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if "time to run Python workers" in metrics:
        for name, key in PYTHON_SQL_METRICS.items():
            if name in metrics:
                out[metrics[name]] = key
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse_event_log(log_dir: str) -> dict:
    """Per-job records from the (uncompressed, non-rolling) event log of
    the latest application in ``log_dir``: job group, submission time
    and the executor and Python-worker totals of its tasks."""
    apps = sorted(
        (os.path.join(log_dir, f) for f in os.listdir(log_dir)
         if not f.startswith(".") and not f.endswith(".inprogress")),
        key=os.path.getmtime,
    )
    if not apps:
        raise FileNotFoundError(f"no event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_accums: dict[int, str] = {}
    task_rows = []
    with open(apps[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": len(ev["Stage IDs"]),
                    **{k: 0 for k in EXEC_KEYS},
                    **{k: 0 for k in PYTHON_SQL_METRICS.values()},
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev["sparkPlanInfo"], py_accums)
            elif kind == "SparkListenerTaskEnd":
                task_rows.append(ev)
    for ev in task_rows:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        tm = ev.get("Task Metrics")
        if job is None or tm is None:
            continue
        job["tasks"] += 1
        job["exec_run_ms"] += tm["Executor Run Time"]
        job["exec_cpu_ns"] += tm["Executor CPU Time"]
        job["gc_ms"] += tm["JVM GC Time"]
        sr = tm["Shuffle Read Metrics"]
        job["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        job["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        job["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        for acc in ev["Task Info"].get("Accumulables", []):
            key = py_accums.get(acc["ID"])
            if key is not None:
                job[key] += int(acc.get("Update") or 0)
    return jobs


def attribute(jobs: dict, spans: list[dict]) -> dict[str, list[dict]]:
    """Job records grouped by the id of the span that fired them; jobs
    outside every span are dropped."""
    by_id = {s["id"]: s for s in spans}
    closed = [s for s in spans if s["end"] is not None]
    out: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            inside = [s for s in closed if s["start"] <= job["submit"] <= s["end"]]
            if not inside:
                continue
            sid = max(inside, key=lambda s: s["start"])["id"]
        out[sid].append(job)
    return out


def totals(job_list: list[dict]) -> dict:
    """Sum of the job records, in the per-layer metric units."""
    t = defaultdict(int)
    for job in job_list:
        for k in EXEC_KEYS + tuple(PYTHON_SQL_METRICS.values()) + ("stages",):
            t[k] += job[k]
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(job_list),
        "exec_run_s": t["exec_run_ms"] / 1000.0,
        "exec_cpu_s": t["exec_cpu_ns"] / 1e9,
        "gc_s": t["gc_ms"] / 1000.0,
        "shuffle_read_mb": t["shuffle_read_bytes"] / mb,
        "shuffle_write_mb": t["shuffle_write_bytes"] / mb,
        "spill_mb": t["spill_bytes"] / mb,
        "stages": t["stages"],
        "tasks": t["tasks"],
        "python_run_s": t["python_run_ms"] / 1000.0,
        "python_boot_s": t["python_boot_ms"] / 1000.0,
        "python_init_s": t["python_init_ms"] / 1000.0,
        "python_sent_mb": t["python_sent_bytes"] / mb,
        "python_rows_received": t["python_rows_received"],
    }
