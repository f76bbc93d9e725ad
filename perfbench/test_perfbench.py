"""Tests of the benchmark's own parts: the SMTP stub, the seeded
generators, span self time and Spark job attribution.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import smtplib
import threading
import time
from email.message import EmailMessage

import gen
import run
import worker
from spans import attribute, self_times


def test_stub_round_trip_with_login(tmp_path):
    proc, port, log = run._start_stub(str(tmp_path))
    try:
        with smtplib.SMTP_SSL("127.0.0.1", port, timeout=10) as conn:
            conn.login("sender@example.com", "secret")
            for to in ("ana@x.cl", "sin correo"):
                msg = EmailMessage()
                msg["Subject"] = "Tus credenciales — Aula C1"
                msg["From"] = "sender@example.com"
                msg["To"] = to
                msg.set_content("Hola\n.\n..línea con punto\n")
                conn.send_message(msg)
    finally:
        run._stop_group(proc)
    with open(log, encoding="utf-8") as f:
        ledger = json.load(f)
    assert ledger["connections"] == 1
    assert ledger["auth_ok"] == 1
    assert [m["to"] for m in ledger["messages"]] == ["ana@x.cl", "sin correo"]
    assert {m["subject"] for m in ledger["messages"]} == {"Tus credenciales — Aula C1"}
    assert ledger["messages"][0]["rcpt"] == ["ana@x.cl"]
    assert ledger["bytes"] == sum(m["bytes"] for m in ledger["messages"]) > 0


def test_participant_sheet_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    gen.write_participants_csv(a, 7, 300, "k0")
    gen.write_participants_csv(b, 7, 300, "k0")
    gen.write_participants_csv(c, 8, 300, "k0")
    assert filecmp.cmp(a, b, shallow=False)
    assert not filecmp.cmp(a, c, shallow=False)
    with open(a, encoding="utf-8") as f:
        lines = f.read().splitlines()
    assert len(lines) == 4 + 300
    assert lines[1] == ",,,,,"  # junk rows are written full width
    assert lines[3].split(",")[:2] == ["Rut (con punto y con guión)", "Nombres "]


def test_participant_rows_cover_the_dirty_cases():
    rows = gen.participant_rows(3, 2000, "k0")
    share = lambda pred: sum(1 for r in rows if pred(r)) / len(rows)  # noqa: E731
    assert share(lambda r: r[0] is None) >= 0.10
    assert share(lambda r: r[1] is None) >= 0.10
    assert share(lambda r: any(ch in (r[2] or "") + (r[1] or "") for ch in "áéíóúñü")) >= 0.20
    assert share(lambda r: r[3] is not None and r[3].count("@") > 1) >= 0.10
    assert share(lambda r: len(r[2].split()) == 1) >= 0.05


def test_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    gen.write_operator_tables(str(tmp_path / "t1"), 5, 600)
    gen.write_operator_tables(str(tmp_path / "t2"), 5, 600)
    gen.write_operator_tables(str(tmp_path / "t3"), 6, 600)
    for name in ("lineitem", "documents", "embeddings", "events"):
        t1 = pq.read_table(tmp_path / "t1" / f"{name}.parquet")
        assert t1.equals(pq.read_table(tmp_path / "t2" / f"{name}.parquet"))
        assert not t1.equals(pq.read_table(tmp_path / "t3" / f"{name}.parquet"))


def _span(sid, parent, start, end, layer="l"):
    return {"id": sid, "parent": parent, "start": start, "end": end, "layer": layer, "job": 0}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 4.0),  # overlaps span 1: union is 1..4
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only 8..10 counts
        _span(4, 1, 1.5, 2.5),
    ]
    got = self_times(spans)
    assert got[0] == 10.0 - 3.0 - 2.0
    assert got[1] == 2.0 - 1.0
    assert got[2] == 2.0
    assert got[3] == 4.0
    assert got[4] == 1.0


def test_attribution_by_job_group_and_run_id_reports_gaps():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0)]
    log = {
        "jobs": {
            0: {"id": 0, "submit": 2.0, "end": 3.0, "stages": [0, 1], "group": "span-1"},
            1: {"id": 1, "submit": 6.0, "end": 7.0, "stages": [2], "group": "run-a"},
            2: {"id": 2, "submit": 7.5, "end": 8.0, "stages": [3], "group": None},
            3: {"id": 3, "submit": 20.0, "end": 21.0, "stages": [4], "group": None},
        },
        "stage_tasks": {1: [{"launch": 2.1}], 2: [{"launch": 6.1}, {"launch": 6.2}]},
    }
    att = attribute(log, spans, {"run-a": 1})
    assert att["job_span"] == {0: 1, 1: 1}
    # job 2 ran inside the traced span without a group; job 3 ran outside
    assert att["unattributed"] == [2]
    assert len(att["job_tasks"][1]) == 2
    assert att["job_result_stage"][0] == 1


def test_watchdog_cancels_only_past_the_deadline(monkeypatch):
    class FakeContext:
        def __init__(self):
            self.cancels = 0

        def cancelAllJobs(self):
            self.cancels += 1

    monkeypatch.setattr(worker, "JOB_TIMEOUT_S", 0.05)
    for job_s, cancelled in ((0.0, False), (0.3, True)):
        sc, done = FakeContext(), threading.Event()
        if job_s == 0.0:
            done.set()
        watchdog = threading.Thread(target=worker.cancel_past_deadline, args=(sc, done))
        watchdog.start()
        time.sleep(job_s)
        done.set()
        watchdog.join(timeout=5)
        assert not watchdog.is_alive()
        assert (sc.cancels > 0) == cancelled


def test_benchmark_json_names_what_the_run_prints():
    from layers import LAYER_METRICS

    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_METRICS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
