"""Engine process of the benchmark.

``run.py`` generates the inputs, starts the SMTP stub and launches this
process with a spec file. This process starts the Spark session, warms
the workload up, then runs jobs in a closed loop (one client; the next job
starts when the previous one has finished) until ``--seconds`` have
passed. Each job calls the engine's public functions in the order the CLI
calls them. It writes the job timings, the outputs to check and, when
traced, the spans and stream progress to ``--out`` as JSON.

In a traced run every other job is traced, so the same process also gives
the untraced job time that the tracing overhead is measured against.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time

from spans import Tracer

# timed jobs per run even when they outlast --seconds: a median of three
MIN_JOBS = 3
JOB_TIMEOUT_S = 60.0


def vm_hwm_mb(pid: int | str) -> float:
    """Resident-memory high-water mark of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def sentinel_s(spark) -> float:  # type: ignore[no-untyped-def]
    """Median of three runs of a fixed spark.range job, after one untimed
    run; recorded to tell host slowdown apart from an engine change,
    never used to rescale a metric."""
    times = []
    for _ in range(4):
        t = time.perf_counter()
        spark.range(0, 20_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
        times.append(time.perf_counter() - t)
    return sorted(times[1:])[1]


def cancel_past_deadline(sc, done: threading.Event) -> None:  # type: ignore[no-untyped-def]
    """Once a benchmark job has run JOB_TIMEOUT_S, cancel every running
    Spark job each second until it returns, so that a hung job raises
    and is counted as failed."""
    if done.wait(JOB_TIMEOUT_S):
        return
    while True:
        sc.cancelAllJobs()
        if done.wait(1.0):
            return


def make_listener(tracer: Tracer, run_spans: dict, progress: list):  # type: ignore[no-untyped-def]
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        """Maps each stream run to the span open when it started (Spark
        calls onQueryStarted before ``start()`` returns) and keeps every
        progress event."""

        def onQueryStarted(self, event):  # type: ignore[no-untyped-def]
            cur = tracer.current()
            if cur is not None:
                run_spans[str(event.runId)] = cur["id"]

        def onQueryProgress(self, event):  # type: ignore[no-untyped-def]
            p = event.progress
            progress.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):  # type: ignore[no-untyped-def]
            pass

        def onQueryTerminated(self, event):  # type: ignore[no-untyped-def]
            pass

    return Listener()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.spec, encoding="utf-8") as f:
        spec = json.load(f)
    t0 = float(os.environ["PERFBENCH_T0"])

    from etl_moodle_and_mass_email_sending_spark.session import get_spark

    from workloads import WORKLOADS

    spark = get_spark(app_name=f"perfbench-{spec['workload']}")
    session_s = time.time() - t0
    tracer = Tracer(spark.sparkContext)
    run_spans: dict[str, int] = {}
    progress: list[dict] = []
    if spec["trace"]:
        spark.streams.addListener(make_listener(tracer, run_spans, progress))
    workload = WORKLOADS[spec["workload"]](spark, spec, tracer)
    workload.warm_up()
    setup_s = time.time() - t0
    sentinel_before = sentinel_s(spark)

    # A traced run traces the odd jobs; with MIN_JOBS >= 3 an untraced job
    # runs on each side of the first traced one, so the warm-up trend does
    # not land on one side of the overhead comparison.
    jobs = []
    deadline = time.perf_counter() + spec["seconds"]
    i = 0
    while i < MIN_JOBS or time.perf_counter() < deadline:
        tracer.job = i
        tracer.enabled = bool(spec["trace"]) and i % 2 == 1
        rec = {"index": i, "traced": tracer.enabled, "error": None}
        done = threading.Event()
        threading.Thread(
            target=cancel_past_deadline, args=(spark.sparkContext, done), daemon=True
        ).start()
        t = time.perf_counter()
        try:
            rec.update(workload.job(i))
        except Exception as exc:  # noqa: BLE001 - a failed job is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"
        finally:
            done.set()
        rec["seconds"] = time.perf_counter() - t
        if rec["seconds"] > JOB_TIMEOUT_S:
            rec["error"] = f"timed out: {rec['seconds']:.1f} s > {JOB_TIMEOUT_S} s"
        jobs.append(rec)
        i += 1
    tracer.enabled = False

    sentinel_after = sentinel_s(spark)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    if spec["trace"]:
        # progress events reach the listener asynchronously
        seen, quiet = -1, 0
        while quiet < 3:
            time.sleep(0.2)
            quiet = quiet + 1 if len(progress) == seen else 0
            seen = len(progress)
    from etl_moodle_and_mass_email_sending_spark.operators.util import (
        staging_ledger,
    )

    result = {
        "session_s": session_s,
        "setup_s": setup_s,
        "sentinel_s": [sentinel_before, sentinel_after],
        "peak_rss_mb": rss_mb,
        "cores": spark.sparkContext.defaultParallelism,
        "app_id": spark.sparkContext.applicationId,
        "staging": staging_ledger(),
        "jobs": jobs,
        "warmup": workload.warmup_record,
        "spans": tracer.spans,
        "run_spans": run_spans,
        "progress": list(progress),
    }
    spark.stop()
    with open(a.out, "w", encoding="utf-8") as f:
        json.dump(result, f, default=str)


if __name__ == "__main__":
    main()
