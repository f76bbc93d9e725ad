"""Spans, span self time, and Spark event-log attribution.

A span is recorded around each public engine call the benchmark makes:
name, layer, start, end, parent span and benchmark job index. Spans stay
in memory and are written out when the worker exits.

Spark jobs are tied to spans through the job group the tracer sets on
entry to each span (``SparkContext.setJobGroup``). Jobs of a streaming
query, ``foreachBatch`` ones included, run on the stream's thread with
the stream's run id as their job group instead; the benchmark's
``StreamingQueryListener`` records which span was open when each run
started. A job submitted inside a traced benchmark job that carries
neither is an attribution gap, and ``attribute`` reports it.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans while enabled; a disabled tracer records nothing and
    leaves the job group alone. Spans open and close on one thread."""

    def __init__(self, sc) -> None:  # type: ignore[no-untyped-def]
        self.sc = sc
        self.enabled = False
        self.job = -1
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def current(self) -> dict | None:
        """The innermost open span; read by the stream listener's thread."""
        stack = self._stack
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str):  # type: ignore[no-untyped-def]
        if not self.enabled:
            yield
            return
        parent = self.current()
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "job": self.job,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds of its interval not covered by its children."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, reach = 0.0, lo
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (hi - lo) - covered
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> dict:
    """Jobs, stages and per-task metrics from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                info = ev.get("Task Info") or {}
                stage_tasks[ev["Stage ID"]].append(
                    {
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return {"jobs": jobs, "stage_tasks": dict(stage_tasks)}


def attribute(log: dict, spans: list[dict], run_spans: dict[str, int]) -> dict:
    """Assign Spark jobs to span ids by job group or stream run id, and
    every task to a job.

    Returns ``{"job_span": {job id: span id}, "job_tasks": {job id: [task]},
    "job_result_stage": {job id: stage id}, "unattributed": [job id]}``;
    ``unattributed`` lists the jobs submitted while a top-level span was
    open that carry neither a span's job group nor a mapped run id.
    """
    span_ids = {s["id"] for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    job_span: dict[int, int] = {}
    unattributed = []
    for j in log["jobs"].values():
        group = j["group"] or ""
        if group.startswith("span-") and int(group[5:]) in span_ids:
            job_span[j["id"]] = int(group[5:])
        elif group in run_spans:
            job_span[j["id"]] = run_spans[group]
        elif any(r["start"] <= j["submit"] <= r["end"] for r in roots):
            unattributed.append(j["id"])
    # a stage listed by several jobs runs in the latest one submitted
    # before its tasks launched
    stage_jobs: dict[int, list[dict]] = defaultdict(list)
    for j in log["jobs"].values():
        for st in j["stages"]:
            stage_jobs[st].append(j)
    job_tasks: dict[int, list[dict]] = defaultdict(list)
    for st, tasks in log["stage_tasks"].items():
        owners = sorted(stage_jobs.get(st, []), key=lambda j: j["submit"])
        for t in tasks:
            owner = None
            for j in owners:
                if j["submit"] <= t["launch"] + 0.001:
                    owner = j
            if owner is None and owners:
                owner = owners[0]
            if owner is not None:
                job_tasks[owner["id"]].append(dict(t, stage=st))
    result_stage = {
        j["id"]: max(j["stages"]) for j in log["jobs"].values() if j["stages"]
    }
    return {
        "job_span": job_span,
        "job_tasks": dict(job_tasks),
        "job_result_stage": result_stage,
        "unattributed": sorted(unattributed),
    }
