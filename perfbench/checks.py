"""Output checks. They run in ``run.py`` after the engine process has
exited, outside every timed window, and each failure fails its job.

- The Moodle CSV equals a DuckDB twin over the same generated sheet,
  built from the engine's ``sql_*`` helpers as the parity suite builds its
  oracles.
- The SMTP stub received exactly one message per valid recipient.
- Receipts carry ``idx`` 1..n with ``remaining = n - idx``, all ``SENT``.
- Each operator-mix query result of the warm-up pass equals its
  registered oracle, and every timed pass reproduces the warm-up pass's
  row count and checksum.
"""

from __future__ import annotations

import csv
import os
from collections import Counter

from workloads import canon_rows


def _read_csv(path: str) -> tuple[list[str], list[list[str]]]:
    with open(path, encoding="utf-8", newline="") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def moodle_twin(con, sheet: str, course: str) -> list[list[str]]:  # type: ignore[no-untyped-def]
    """DuckDB twin of the normalize pipeline over ``sheet``."""
    from etl_moodle_and_mass_email_sending_spark.functions import templates, text
    from etl_moodle_and_mass_email_sending_spark.plans.moodle import MoodleParams

    p = MoodleParams(course_field=course)
    username = text.sql_build_username("nombres", "apellidos")
    email = text.sql_pick_email("email")
    rut = "trim(CAST(rut AS VARCHAR))"
    password = text.sql_fold_accents(
        templates.sql_compile_pattern(
            p.password_pattern,
            {
                "username": username,
                "year": f"'{p.password_year}'",
                "rut": rut,
                "email": email,
            },
        )
    )
    sql = f"""
    WITH participants AS (
      SELECT * FROM read_csv('{sheet}', skip=4, header=false,
        auto_detect=false, delim=',', quote='"', escape='"',
        columns={{'rut': 'VARCHAR', 'nombres': 'VARCHAR',
                  'apellidos': 'VARCHAR', 'email': 'VARCHAR',
                  'extra1': 'VARCHAR', 'extra2': 'VARCHAR'}})
    )
    SELECT {username} AS username,
           {password} AS password,
           {text.sql_first_token(text.sql_title_case('nombres'))} AS firstname,
           {text.sql_title_case('apellidos')} AS lastname,
           {email} AS email,
           {rut} AS {p.profile_field_name},
           CAST({p.type1_value} AS INTEGER) AS type1,
           '{p.course_field}' AS course1
    FROM participants
    WHERE rut IS NOT NULL AND nombres IS NOT NULL
    """
    rows = con.execute(sql).fetchall()
    return [["" if v is None else str(v) for v in r] for r in rows]


def check_receipts(rows: list[dict], expected: Counter) -> list[str]:
    """``rows``: receipt dicts of one send."""
    errors = []
    n = len(rows)
    idx = sorted(int(r["idx"]) for r in rows)
    if idx != list(range(1, n + 1)):
        errors.append(f"receipt idx is not 1..{n}")
    if any(int(r["remaining"]) != n - int(r["idx"]) for r in rows):
        errors.append("receipt remaining != n - idx")
    bad = Counter(r["status"] for r in rows if r["status"] != "SENT")
    if bad:
        errors.append(f"receipts not SENT: {dict(bad)}")
    got = Counter(r["email"] for r in rows)
    if got != expected:
        errors.append(
            f"receipt emails differ: {sum((got - expected).values())} extra, "
            f"{sum((expected - got).values())} missing"
        )
    return errors


def subject_for(course: str) -> str:
    """The subject line the engine renders for ``course``."""
    from etl_moodle_and_mass_email_sending_spark.plans.mailer import (
        SUBJECT_TEMPLATE,
    )

    return SUBJECT_TEMPLATE.replace("$nombre_curso", course)


def check_course(con, job: dict, stub_by_subject: dict[str, list[dict]]) -> list[str]:  # type: ignore[no-untyped-def]
    errors = []
    header, got = _read_csv(job["moodle"])
    twin = moodle_twin(con, job["sheet"], job["course"])
    if header[:5] != ["username", "password", "firstname", "lastname", "email"]:
        errors.append(f"moodle header {header}")
    if sorted(map(tuple, got)) != sorted(map(tuple, twin)):
        errors.append(
            f"moodle csv differs from DuckDB twin ({len(got)} vs {len(twin)} rows)"
        )
    expected = Counter(r[4].strip() for r in twin if r[4].strip())
    r_header, r_rows = _read_csv(job["receipts"])
    errors += check_receipts([dict(zip(r_header, r)) for r in r_rows], expected)
    msgs = stub_by_subject.get(subject_for(job["course"]), [])
    if any(len(m["rcpt"]) != 1 for m in msgs):
        errors.append("a stub message had other than one recipient")
    delivered = Counter(m["to"] for m in msgs)
    if delivered != expected:
        errors.append(
            f"stub got {sum(delivered.values())} messages for "
            f"{sum(expected.values())} valid recipients"
        )
    return errors


def check_oracles(con, sf_dir: str, warm: dict) -> dict[str, list[str]]:  # type: ignore[no-untyped-def]
    """Warm-up query results against their registered DuckDB oracles."""
    from etl_moodle_and_mass_email_sending_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
        )
    out = {}
    for name, rec in warm.items():
        res = con.execute(rec["oracle"])
        cols = [d[0] for d in res.description]
        want = canon_rows(cols, res.fetchall())
        errors = []
        if want != rec["rows"]:
            errors.append(
                f"{name}: result differs from oracle "
                f"({len(rec['rows'])} vs {len(want)} rows)"
            )
        out[name] = errors
    return out


def check_pass(job: dict, warm: dict, oracle_errors: dict[str, list[str]]) -> list[str]:
    errors = []
    for name, obs in job["observed"].items():
        errors += oracle_errors.get(name, [])
        if obs != warm[name]["observed"]:
            errors.append(f"{name}: count/checksum {obs} != warm-up {warm[name]['observed']}")
    return errors
