"""Spans around the calls into each layer, the Spark event-log replay and
the plan-shape counts.

A ``Tracer`` in untraced mode records nothing, so timed runs pay only the
benchmark's own step timers. In traced mode every span sets a Spark job
group named ``<step>|<span>``; after the session stops, ``replay_event_log``
reads the event log and attributes each job, stage and task to the span
that launched it.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: span kind per span name; a span name not listed here is ``exec``
BUILD_SPANS = {"shapefile.read", "crowdsorsa.build", "push.build", "queries.build"}

_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")
_PYTHON_NODES = re.compile(r"Python|InPandas|InArrow|Arrow")


@dataclass
class Span:
    step: str
    name: str
    t0: float
    t1: float

    @property
    def kind(self) -> str:
        if self.name == "plan":
            return "plan"
        return "build" if self.name in BUILD_SPANS else "exec"

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class Tracer:
    spark: object
    traced: bool
    spans: list[Span] = field(default_factory=list)
    plan_shapes: dict[str, dict[str, int]] = field(default_factory=dict)

    @contextmanager
    def span(self, step: str, name: str):
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{step}|{name}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(step, name, t0, time.perf_counter()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def plan(self, step: str, df) -> None:
        """Force Catalyst planning of ``df`` (traced only) and count its shape."""
        if not self.traced:
            return
        with self.span(step, "plan"):
            executed = df._jdf.queryExecution().executedPlan()
        shape = plan_shape(executed.toString())
        acc = self.plan_shapes.setdefault(step, dict.fromkeys(shape, 0))
        for k, v in shape.items():
            acc[k] += v


def plan_shape(plan_text: str) -> dict[str, int]:
    """Counts of the plan nodes the ROADMAP's plan lint tracks."""
    shape = {"python_nodes": 0, "exchanges": 0, "single_partition_exchanges": 0, "bnlj": 0}
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if _PYTHON_NODES.search(node):
            shape["python_nodes"] += 1
        elif node == "Exchange":
            shape["exchanges"] += 1
            if "SinglePartition" in line:
                shape["single_partition_exchanges"] += 1
        elif node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            shape["bnlj"] += 1
    return shape


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def replay_event_log(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, job-wall union, task run time, walls of
    single-task stages, shuffle-write and spill bytes. Reads the finished,
    uncompressed, single-file event log of a stopped session."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(os.path.join(log_dir, app_id)) as fh:
        lines = fh.readlines()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id") or "",
                "start": ev["Submission Time"] / 1000.0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {
                "tasks": info["Number of Tasks"],
                "wall": (info.get("Completion Time", 0) - info.get("Submission Time", 0))
                / 1000.0,
            }
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})

    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "tasks", "job_wall_s", "task_run_s", "single_task_stage_s",
             "shuffle_write_mb", "spill_mb"),
            0.0,
        )
    )
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, job in jobs.items():
        g = out[job["group"]]
        g["jobs"] += 1
        if "end" in job:
            intervals[job["group"]].append((job["start"], job["end"]))
    for sid, stage in stages.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        g = out[jobs[jid]["group"]]
        g["tasks"] += stage["tasks"]
        if stage["tasks"] == 1:
            g["single_task_stage_s"] += stage["wall"]
        for m in tasks.get(sid, []):
            g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            shuffle = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 1e6
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
    for group, iv in intervals.items():
        out[group]["job_wall_s"] = _union_s(iv)
    return dict(out)
