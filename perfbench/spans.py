"""Spans recorded around each layer call, and their attribution to Spark
jobs through the JSON event log.

A span is (id, name, layer, start, end, parent, workload). Leaf spans set
the Spark job group to their id, so every job a layer call runs carries
the span that caused it. After the run the event log is parsed once and
each span gets its jobs, tasks, executor CPU, shuffle bytes and the
seconds it spent outside any job. Everything stays in memory until the
run writes its artifact.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """Span recorder for the main thread. ``enabled=False`` still times
    spans (the untraced run needs the durations) but sets no job groups."""

    def __init__(self, workload: str, spark=None, enabled: bool = False):
        self.workload = workload
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.current: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self.current
        sid = f"{self.workload}#{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent,
            "workload": self.workload,
            **attrs,
        }
        self.spans.append(rec)
        self.current = sid
        sc = self.spark.sparkContext if (self.enabled and self.spark) else None
        if sc is not None:
            sc.setJobGroup(sid, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.current = parent
            if sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(parent, parent)

    def by_layer(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]


# --- event log ------------------------------------------------------------

def read_event_log(directory: str) -> dict:
    """Jobs (with group, interval, stages) and per-stage task totals from
    every Spark JSON event log under ``directory``."""
    jobs: dict[tuple[str, int], dict] = {}
    stages: dict[tuple[str, int], dict] = {}
    if not os.path.isdir(directory):
        return {"jobs": []}
    paths = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(directory)
        for f in files
        if not f.startswith(("appstatus", "."))
    )
    for path in paths:
        app = os.path.basename(path)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a log still being written can end mid-line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[(app, ev["Job ID"])] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": [(app, s) for s in ev.get("Stage IDs", [])],
                    }
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        (app, ev["Stage ID"]),
                        {"tasks": 0, "cpu_ns": 0, "shuffle_bytes": 0},
                    )
                    st["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    out = []
    for job in jobs.values():
        tot = {"tasks": 0, "cpu_ns": 0, "shuffle_bytes": 0}
        for sid in job["stages"]:
            for k, v in stages.get(sid, {}).items():
                tot[k] += v
        out.append({**job, **tot})
    return {"jobs": out}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], log: dict) -> None:
    """Add jobs, tasks, cpu_s, shuffle_bytes and outside_job_s to every
    span. A parent span is charged with its own jobs and its children's."""
    by_group: dict[str, list[dict]] = {}
    for job in log["jobs"]:
        if job["group"]:
            by_group.setdefault(job["group"], []).append(job)
    children: dict[str, list[str]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: str) -> list[str]:
        out = [sid]
        for c in children.get(sid, []):
            out.extend(subtree(c))
        return out

    for s in spans:
        jobs = [j for sid in subtree(s["id"]) for j in by_group.get(sid, [])]
        s["jobs"] = len(jobs)
        s["tasks"] = sum(j["tasks"] for j in jobs)
        s["cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9
        s["shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs)
        inside = [
            (max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
            for j in jobs
        ]
        inside = [(a, b) for a, b in inside if b > a]
        s["outside_job_s"] = max(0.0, (s["end"] - s["start"]) - _union_length(inside))


def totals(spans: list[dict]) -> dict:
    """Summed attribution over a list of spans."""
    return {
        "n": len(spans),
        "s": sum(s["end"] - s["start"] for s in spans),
        "jobs": sum(s.get("jobs", 0) for s in spans),
        "tasks": sum(s.get("tasks", 0) for s in spans),
        "cpu_s": sum(s.get("cpu_s", 0.0) for s in spans),
        "shuffle_bytes": sum(s.get("shuffle_bytes", 0) for s in spans),
        "outside_job_s": sum(s.get("outside_job_s", 0.0) for s in spans),
    }

