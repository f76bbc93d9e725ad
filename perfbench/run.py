"""Product-path benchmark of the roster ETL and delivery engine.

    python3 perfbench/run.py --workload course_onboard --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (closed loop, one client):

- ``course_onboard``: one course per job. A fresh seeded participants
  sheet goes through normalize to a Moodle CSV, which is delivered for
  real to a loopback SMTP-over-TLS stub, with receipts written as CSV.
- ``operator_mix``: one pass per job over registered queries through the
  noop sink, one of them a Structured Streaming query.

Inputs are generated from ``--seed`` before the engine process starts;
the engine gets only the generated files. Outputs are checked after the
timed window. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything the run writes lives under ``.perfbench/`` in the repository
root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "etl_moodle_and_mass_email_sending_spark")
sys.path.insert(0, ROOT)

# course_onboard sizes: data rows per course sheet, sheets generated
# (cycled if a run has more jobs), warm-up courses before timing
COURSE_ROWS = 400
COURSE_SHEETS = 24
WARMUP_COURSES = 3
# operator_mix size: lineitem rows of the generated testbed tables
TABLE_ROWS = 6000
WORKLOADS = ("course_onboard", "operator_mix")
WORKER_TIMEOUT_S = 160.0
END_TO_END = {
    "job_s_p50": "s",
    "records_per_s": "1/s",
    "setup_s": "s",
}


def _spark_defaults(run_dir: str) -> str:
    """Benchmark-owned Spark configuration: uncompressed event log and
    every scratch location inside the run directory."""
    conf_dir = os.path.join(run_dir, "conf")
    os.makedirs(conf_dir)
    for d in ("events", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    lines = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
    }
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w", encoding="utf-8") as f:
        f.writelines(f"{k} {v}\n" for k, v in lines.items())
    return conf_dir


def _stop_group(proc: subprocess.Popen, grace_s: float = 10.0) -> None:
    """Stop ``proc`` and every process of its session, and wait for them."""
    pgid = proc.pid
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            proc.poll()
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
    proc.wait(timeout=grace_s)


def _start_stub(run_dir: str) -> tuple[subprocess.Popen, int, str]:
    state = os.path.join(run_dir, "stub")
    os.makedirs(state)
    log = os.path.join(state, "ledger.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "stub.py"), "--dir", state, "--log", log],
        start_new_session=True,
    )
    port_file = os.path.join(state, "port")
    end = time.monotonic() + 30
    while not os.path.exists(port_file):
        if proc.poll() is not None or time.monotonic() > end:
            _stop_group(proc)
            raise RuntimeError("SMTP stub did not start")
        time.sleep(0.05)
    with open(port_file, encoding="ascii") as f:
        return proc, int(f.read()), log


def _generate(workload: str, seed: int, run_dir: str) -> dict:
    import gen

    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    if workload == "course_onboard":
        sheets = []
        for k in range(COURSE_SHEETS):
            path = os.path.join(inputs, f"course_{k:02d}.csv")
            gen.write_participants_csv(path, seed, COURSE_ROWS, f"k{k}")
            sheets.append(path)
        warm = []
        for k in range(WARMUP_COURSES):
            path = os.path.join(inputs, f"course_warm_{k}.csv")
            gen.write_participants_csv(path, seed, COURSE_ROWS, f"w{k}")
            warm.append(path)
        return {"sheets": sheets, "warmup_sheets": warm, "rows_per_sheet": COURSE_ROWS}
    sf_dir = os.path.join(inputs, "sf")
    gen.write_operator_tables(sf_dir, seed, TABLE_ROWS)
    return {"sf_dir": sf_dir}


def _run_worker(spec: dict, run_dir: str, conf_dir: str) -> dict:
    spec_path = os.path.join(run_dir, "spec.json")
    out_path = os.path.join(run_dir, "result.json")
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_CONF_DIR": conf_dir,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "SPARK_GRAFT_CPUS": str(spec["nproc"]),
            "PERFBENCH_T0": repr(time.time()),
        }
    )
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--spec", spec_path, "--out", out_path],
            cwd=run_dir,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"engine process failed (exit {proc.returncode}):\n{tail}")
    with open(out_path, encoding="utf-8") as f:
        return json.load(f)


def _check(workload: str, spec: dict, result: dict, stub_log: str | None) -> dict[int, dict]:
    """Check every timed job's outputs; return per-job facts for the
    layer metrics. Failed checks land in each job's ``error``."""
    import duckdb

    import checks

    con = duckdb.connect()
    facts: dict[int, dict] = {}
    if workload == "course_onboard":
        with open(stub_log, encoding="utf-8") as f:
            stub = json.load(f)
        by_subject: dict[str, list[dict]] = {}
        for m in stub["messages"]:
            by_subject.setdefault(m["subject"], []).append(m)
        for job in result["jobs"]:
            if job["error"] is not None:
                continue
            errors = checks.check_course(con, job, by_subject)
            msgs = by_subject.get(checks.subject_for(job["course"]), [])
            with open(job["receipts"], encoding="utf-8") as f:
                retries = sum(int(r["attempts"]) - 1 for r in csv.DictReader(f))
            with open(job["moodle"], "rb") as f:
                csv_records = sum(1 for _ in f) - 1
            facts[job["index"]] = {
                "csv_bytes": os.path.getsize(job["moodle"]),
                "csv_records": csv_records,
                "smtp_msgs": len(msgs),
                "smtp_bytes": sum(m["bytes"] for m in msgs),
                "smtp_connections": len({m["conn"] for m in msgs}),
                "smtp_retries": retries,
            }
            if errors:
                job["error"] = "; ".join(errors)
        return facts
    warm = result["warmup"]
    oracle_errors = checks.check_oracles(con, spec["sf_dir"], warm)
    for job in result["jobs"]:
        if job["error"] is not None:
            continue
        errors = checks.check_pass(job, warm, oracle_errors)
        if errors:
            job["error"] = "; ".join(errors)
    return facts


def _cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _env_record(spec: dict, result: dict, load_before: tuple, ticks_before: list[int]) -> dict:
    """Host conditions of the run: recorded only, never used to rescale
    a metric. ``host_busy_pct`` counts every process on the machine,
    this benchmark's included."""
    delta = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    total = sum(delta) or 1
    rec = {
        "nproc": spec["nproc"],
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "host_busy_pct": 100.0 * (total - delta[3] - delta[4]) / total,
        "steal_pct": 100.0 * delta[7] / total,
    }
    rec["sentinel_s_before"], rec["sentinel_s_after"] = result["sentinel_s"]
    rec["peak_rss_mb"] = result["peak_rss_mb"]
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description="product-path benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)

    load_before, ticks_before = os.getloadavg(), _cpu_ticks()
    run_dir = os.path.join(ROOT, ".perfbench", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stub = None
    try:
        spec = {
            "workload": a.workload,
            "seconds": a.seconds,
            "trace": a.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "out_dir": os.path.join(run_dir, "out"),
        }
        os.makedirs(spec["out_dir"])
        spec.update(_generate(a.workload, a.seed, run_dir))
        conf_dir = _spark_defaults(run_dir)
        stub_log = None
        if a.workload == "course_onboard":
            stub, spec["smtp_port"], stub_log = _start_stub(run_dir)
        result = _run_worker(spec, run_dir, conf_dir)
        if stub is not None:
            _stop_group(stub)
            stub = None
        facts = _check(a.workload, spec, result, stub_log)

        jobs = result["jobs"]
        failed = [j for j in jobs if j["error"] is not None]
        for j in failed:
            print(f"job {j['index']} failed: {j['error']}", file=sys.stderr)
        print("env " + json.dumps(_env_record(spec, result, load_before, ticks_before)))
        print(f"{a.workload} job seconds: " + " ".join(f"{j['seconds']:.3f}" for j in jobs))
        if a.trace:
            from layers import LAYER_METRICS, layer_metrics

            values = layer_metrics(result, os.path.join(run_dir, "events"), facts)
            units = LAYER_METRICS
        else:
            timed = [j for j in jobs if j["error"] is None] or jobs
            values = {
                "job_s_p50": statistics.median(j["seconds"] for j in timed),
                "records_per_s": sum(j.get("records", 0) for j in timed)
                / sum(j["seconds"] for j in timed),
                "setup_s": result["setup_s"],
            }
            units = END_TO_END
        for name, unit in units.items():
            print(f"{a.workload} {name} = {values[name]:.6g} {unit}")
        print(
            json.dumps(
                {
                    "correct": not failed,
                    "attempted": len(jobs),
                    "failed": len(failed),
                    "metrics": {
                        name: {"value": values[name], "unit": unit} for name, unit in units.items()
                    },
                }
            )
        )
        return 0
    finally:
        if stub is not None:
            _stop_group(stub)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is using it


if __name__ == "__main__":
    sys.exit(main())
