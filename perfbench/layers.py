"""Per-layer metrics of a traced run, from spans, the Spark event log,
stream progress, the SMTP stub ledger and the outputs.

Every metric is reported for every workload; a layer a workload does not
reach reads 0. Per-job values are medians over the traced timed jobs.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from spans import attribute, read_event_log, self_times
from workloads import OPERATOR_QUERIES

# name -> unit, in report order
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "sources.header_promote_s": "s",
    "sources.header_promote_jobs": "count",
    "sources.recipients_read_s": "s",
    "sources.recipients_read_jobs": "count",
    "plans.build_s": "s",
    "sinks.csv_write_s": "s",
    "sinks.csv_write_tasks": "count",
    "sinks.csv_bytes_per_record": "B",
    "sinks.smtp_deliver_s": "s",
    "sinks.smtp_send_tasks": "count",
    "sinks.smtp_connections": "count",
    "sinks.smtp_msgs_per_s": "1/s",
    "sinks.smtp_retries": "count",
    "sinks.smtp_bytes_per_msg": "B",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.commit_s": "s",
    "staging.build_s": "s",
    "staging.keys": "count",
    **{
        f"query.{q}.{m}": u
        for q in OPERATOR_QUERIES
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    },
    "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.shuffle_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.tasks": "count",
    "exec.core_busy_ratio": "ratio",
    "exec.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def event_log_path(events_dir: str, app_id: str) -> str:
    path = os.path.join(events_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no event log for {app_id} in {events_dir}: {os.listdir(events_dir)}"
        )
    return path


def layer_metrics(result: dict, events_dir: str, job_facts: dict[int, dict]) -> dict[str, float]:
    """``job_facts``: per traced job index, values taken from its outputs
    (``csv_bytes``, ``csv_records``, ``smtp_msgs``, ``smtp_bytes``,
    ``smtp_connections``, ``smtp_retries``)."""
    spans = result["spans"]
    log = read_event_log(event_log_path(events_dir, result["app_id"]))
    att = attribute(log, spans, result["run_spans"])
    if att["unattributed"]:
        raise RuntimeError(
            f"Spark jobs {att['unattributed']} ran inside traced jobs "
            "without a span's job group or a stream run id"
        )
    selft = self_times(spans)
    span_jobs: dict[int, list[int]] = defaultdict(list)
    for job_id, sid in att["job_span"].items():
        span_jobs[sid].append(job_id)

    traced = [j for j in result["jobs"] if j["traced"] and j["error"] is None]
    per_job: dict[str, list[float]] = defaultdict(list)
    cores = result["cores"]
    for job in traced:
        idx = job["index"]
        mine = [s for s in spans if s["job"] == idx]
        layer_s: dict[str, float] = defaultdict(float)
        layer_jobs: dict[str, list[int]] = defaultdict(list)
        for s in mine:
            layer_s[s["layer"]] += selft[s["id"]]
            layer_jobs[s["layer"]] += span_jobs.get(s["id"], [])

        def tasks(layer: str) -> list[dict]:
            return [t for j in layer_jobs[layer] for t in att["job_tasks"].get(j, [])]

        v = per_job
        v["sources.header_promote_s"].append(layer_s["sources.header_promote"])
        v["sources.header_promote_jobs"].append(len(layer_jobs["sources.header_promote"]))
        v["sources.recipients_read_s"].append(layer_s["sources.recipients_read"])
        v["sources.recipients_read_jobs"].append(len(layer_jobs["sources.recipients_read"]))
        v["plans.build_s"].append(layer_s["plans.build"])
        v["sinks.csv_write_s"].append(layer_s["sinks.csv_write"])
        v["sinks.csv_write_tasks"].append(len(tasks("sinks.csv_write")))
        deliver_s = layer_s["sinks.smtp_deliver"]
        v["sinks.smtp_deliver_s"].append(deliver_s)
        result_stage = att["job_result_stage"]
        v["sinks.smtp_send_tasks"].append(
            sum(
                1
                for j in layer_jobs["sinks.smtp_deliver"]
                for t in att["job_tasks"].get(j, [])
                if t["stage"] == result_stage.get(j)
            )
        )
        facts = job_facts.get(idx, {})
        for key in ("smtp_connections", "smtp_retries"):
            v[f"sinks.{key}"].append(facts.get(key, 0))
        msgs = facts.get("smtp_msgs", 0)
        v["sinks.smtp_msgs_per_s"].append(msgs / deliver_s if deliver_s > 0 else 0.0)
        v["sinks.smtp_bytes_per_msg"].append(facts.get("smtp_bytes", 0) / msgs if msgs else 0.0)
        records = facts.get("csv_records", 0)
        v["sinks.csv_bytes_per_record"].append(
            facts.get("csv_bytes", 0) / records if records else 0.0
        )
        mine_ids = {s["id"] for s in mine}
        runs = {r for r, sid in result["run_spans"].items() if sid in mine_ids}
        batches = [p for p in result["progress"] if p["run_id"] in runs]
        v["streaming.batches"].append(len(batches))
        v["streaming.batch_s_p50"].append(
            _median([p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in batches])
        )
        v["streaming.commit_s"].append(
            sum(
                (p["duration_ms"].get("walCommit", 0) + p["duration_ms"].get("commitOffsets", 0))
                / 1000.0
                for p in batches
            )
        )
        for q in OPERATOR_QUERIES:
            v[f"query.{q}.build_s"].append(layer_s[f"query.{q}.build"])
            v[f"query.{q}.exec_s"].append(layer_s[f"query.{q}.exec"])
            v[f"query.{q}.jobs"].append(
                len(layer_jobs[f"query.{q}.build"]) + len(layer_jobs[f"query.{q}.exec"])
            )
        all_tasks = [
            t for s in mine for j in span_jobs.get(s["id"], []) for t in att["job_tasks"].get(j, [])
        ]
        v["exec.executor_cpu_s"].append(sum(t["cpu_ns"] for t in all_tasks) / 1e9)
        v["exec.jvm_gc_s"].append(sum(t["gc_ms"] for t in all_tasks) / 1000.0)
        v["exec.shuffle_bytes"].append(sum(t["shuffle_bytes"] for t in all_tasks))
        v["exec.spill_bytes"].append(sum(t["spill_bytes"] for t in all_tasks))
        v["exec.tasks"].append(len(all_tasks))
        busy = sum(t["run_ms"] for t in all_tasks) / 1000.0
        v["exec.core_busy_ratio"].append(busy / (job["seconds"] * cores))

    out = {name: _median(per_job.get(name, [])) for name in LAYER_METRICS}
    out["session.start_s"] = result["session_s"]
    out["exec.peak_rss_mb"] = result["peak_rss_mb"]
    out["staging.build_s"] = sum(result["staging"].values())
    out["staging.keys"] = len(result["staging"])
    untraced = [j["seconds"] for j in result["jobs"] if not j["traced"] and j["error"] is None]
    out["trace.overhead_s"] = _median([j["seconds"] for j in traced]) - _median(untraced)
    return out
