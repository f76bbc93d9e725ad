"""The benchmark's workloads, as the engine process runs them.

Each workload has ``warm_up()``, run once before timing, and ``job(i)``,
one closed-loop job. Every public engine call is wrapped in a span named
after the call, with the layer it is counted under.
"""

from __future__ import annotations

import os

from spans import Tracer

AULA_URL = "https://aula.example.com"
SENDER = "sender@example.com"


class CourseOnboard:
    """One course per job: a fresh participants sheet is normalized to a
    Moodle CSV, which is then delivered for real (``dry_run=False``,
    throttle 0) to the SMTP stub, with receipts written as CSV. The calls
    follow the CLI's ``normalize`` and ``send`` commands."""

    def __init__(self, spark, spec: dict, tracer: Tracer) -> None:  # type: ignore[no-untyped-def]
        from etl_moodle_and_mass_email_sending_spark.sinks.smtp import SmtpConfig

        self.spark, self.spec, self.t = spark, spec, tracer
        self.smtp = SmtpConfig(
            host="127.0.0.1",
            port=spec["smtp_port"],
            sender=SENDER,
            password="perfbench",
            throttle_seconds=0.0,
            dry_run=False,
        )
        self.warmup_record: dict = {}

    def warm_up(self) -> None:
        for k, sheet in enumerate(self.spec["warmup_sheets"]):
            self._course(sheet, f"warm{k}")

    def job(self, i: int) -> dict:
        sheets = self.spec["sheets"]
        return self._course(sheets[i % len(sheets)], f"c{i:04d}")

    def _course(self, sheet: str, tag: str) -> dict:
        from etl_moodle_and_mass_email_sending_spark.plans.mailer import (
            render_messages,
        )
        from etl_moodle_and_mass_email_sending_spark.plans.moodle import (
            MoodleParams,
            normalize_to_moodle,
        )
        from etl_moodle_and_mass_email_sending_spark.sinks.csv_single import (
            write_csv_single,
        )
        from etl_moodle_and_mass_email_sending_spark.sinks.smtp import send_all
        from etl_moodle_and_mass_email_sending_spark.sources.csv_variants import (
            normalize_recipients,
        )
        from etl_moodle_and_mass_email_sending_spark.sources.excel import (
            read_participants_csv,
            rename_participant_columns,
        )
        from etl_moodle_and_mass_email_sending_spark.sources.readers import (
            read_csv_all_string,
        )

        out_dir = self.spec["out_dir"]
        moodle = os.path.join(out_dir, f"{tag}_moodle.csv")
        receipts = os.path.join(out_dir, f"{tag}_receipts.csv")
        course = f"CURSO-{tag}"
        t, spark = self.t, self.spark
        with t.span("job", "job"):
            # normalize (CLI cmd_normalize)
            with t.span("sources.excel.read_participants_csv", "sources.header_promote"):
                raw = read_participants_csv(spark, sheet, 3, 4)
            with t.span("plans.moodle.normalize_to_moodle", "plans.build"):
                out = normalize_to_moodle(
                    rename_participant_columns(raw),
                    MoodleParams(course_field=course),
                )
            with t.span("sinks.csv_single.write_csv_single", "sinks.csv_write"):
                write_csv_single(out, moodle)
            # send (CLI cmd_send)
            with t.span("sources.readers.read_csv_all_string", "sources.recipients_read"):
                raw_users = read_csv_all_string(spark, moodle)
            with t.span("sources.csv_variants.normalize_recipients", "sources.recipients_read"):
                users = normalize_recipients(raw_users)
            with t.span("plans.mailer.render_messages", "plans.build"):
                messages = render_messages(users, course, AULA_URL)
            with t.span("sinks.smtp.send_all", "plans.build"):
                plan = send_all(messages, self.smtp)
            # the receipt write executes the delivery plan
            with t.span("sinks.csv_single.write_csv_single", "sinks.smtp_deliver"):
                write_csv_single(plan, receipts)
        return {
            "sheet": sheet,
            "course": course,
            "moodle": moodle,
            "receipts": receipts,
            "records": self.spec["rows_per_sheet"],
        }


# Registered queries of the operator mix, in pass order.
OPERATOR_QUERIES = (
    "text_mixture_execute",
    "rel_asof_join",
    "sim_ivfpq_topk",
    "stream_rate_limit",
)


def _checksum_columns(df):  # type: ignore[no-untyped-def]
    """Row-count and order-free checksum aggregates over ``df``. Floating
    columns are rounded to 6 decimals first, so that a different
    summation order cannot change the checksum."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c, 6)
        cols.append(c)
    h = F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))
    return F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")


def canon_rows(columns: list[str], rows) -> list[str]:  # type: ignore[no-untyped-def]
    """Rows as sorted strings over name-sorted columns, floats to 9
    significant digits (the parity suite's comparison form)."""
    import math

    def canon(v):  # type: ignore[no-untyped-def]
        if v is None:
            return "∅"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


class OperatorMix:
    """One pass per job: each query of ``OPERATOR_QUERIES`` is built from
    the registry and executed through the noop sink. ``stream_rate_limit``
    runs a Structured Streaming query (availableNow, one staged file per
    micro-batch, a ``foreachBatch`` sink) inside its build call. The
    first warm-up pass collects every query result for the oracle check
    and pays the cold staged builds; one untimed pass follows it, because
    the first warm pass still runs well above the steady pass time."""

    def __init__(self, spark, spec: dict, tracer: Tracer) -> None:  # type: ignore[no-untyped-def]
        from etl_moodle_and_mass_email_sending_spark import registry

        self.spark, self.spec, self.t = spark, spec, tracer
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.warmup_record: dict = {}

    def warm_up(self) -> None:
        from pyspark.sql import Observation

        record = {}
        for name in OPERATOR_QUERIES:
            df = self.queries[name](self.spark, self.spec["sf_dir"])
            obs = Observation(f"warm_{name}")
            rows = df.observe(obs, *_checksum_columns(df)).collect()
            record[name] = {
                "rows": canon_rows(df.columns, rows),
                "observed": dict(obs.get),
                "oracle": self.oracles[name],
            }
        self.warmup_record = record
        self.job(-1)

    def job(self, i: int) -> dict:
        from pyspark.sql import Observation

        t, spark, sf = self.t, self.spark, self.spec["sf_dir"]
        observed = {}
        with t.span("job", "job"):
            for name in OPERATOR_QUERIES:
                with t.span(f"registry.queries()[{name!r}]", f"query.{name}.build"):
                    df = self.queries[name](spark, sf)
                obs = Observation(f"p{i}_{name}")
                with t.span("DataFrame.write.noop", f"query.{name}.exec"):
                    df.observe(obs, *_checksum_columns(df)).write.format(
                        "noop"
                    ).mode("overwrite").save()
                observed[name] = dict(obs.get)
        return {"observed": observed, "records": len(OPERATOR_QUERIES)}


WORKLOADS = {"course_onboard": CourseOnboard, "operator_mix": OperatorMix}
