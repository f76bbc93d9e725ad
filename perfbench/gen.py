"""Seeded input generators for the benchmark.

Every generator takes an explicit seed and writes files only; the engine
never sees the seed, only the generated files. The same seed gives
byte-identical files.

- ``write_participants_csv``: a header-displaced participants sheet as a
  spreadsheet CSV export writes it (FIXTURES.md section 1): three junk rows
  written full width (``junk,,,,,``), the header at row index 3, then data
  with nulls, accents, multi-email cells and one-token surnames.
- ``write_operator_tables``: the ten testbed tables (TESTDATA.md schemas)
  that registered queries read, at a given row scale.
"""

from __future__ import annotations

import csv
import os
import random

SHEET_HEADER = [
    "Rut (con punto y con guión)",
    "Nombres ",
    "Apellidos",
    "Correo electrónico",
    "ExtraCol1",
    "ExtraCol2",
]

_FIRST = [
    "ana", "maría josé", "josé", "benjamín", "sofía", "matías", "ñuño",
    "lucía", "tomás", "valentina", "agustín", "martina", "joaquín", "inés",
    "raúl", "camila", "andrés", "isidora", "vicente", "antonella",
    "FRANCISCO", "Catalina", "gonzalo", "renée", "ignacio javier",
]
_LAST = [
    "soto", "díaz", "muñoz", "rojas", "gonzález", "pérez", "núñez", "güemes",
    "o'higgins", "sta. maría", "fernández", "lópez", "martínez", "araya",
    "vergara", "peña", "castillo", "ibáñez", "de la fuente", "saavedra",
]
_DOMAINS = ["uchile.cl", "correo.cl", "example.com", "alumnos.ucn.cl", "mail.org"]
_FOLD = str.maketrans("áéíóúüñÁÉÍÓÚÜÑ", "aeiouunAEIOUUN")


def _ascii_token(s: str) -> str:
    return "".join(ch for ch in s.lower().translate(_FOLD) if ch.isalnum())


def participant_rows(seed: int, n: int, tag: str) -> list[list[str | None]]:
    """``n`` data rows of a participants sheet. Primary emails are unique
    within the sheet (they embed ``tag`` and the row number)."""
    rng = random.Random(f"participants:{seed}:{tag}:{n}")
    rows: list[list[str | None]] = []
    for i in range(n):
        first = rng.choice(_FIRST)
        k = rng.random()
        if k < 0.06:
            last = rng.choice(_LAST)  # one-token surname
        elif k < 0.08:
            last = rng.choice(_LAST) + ", jr"
        else:
            last = f"{rng.choice(_LAST)} {rng.choice(_LAST)}"
        if rng.random() < 0.3:
            first, last = first.upper(), last.title()
        local = f"{_ascii_token(first.split()[0])}.{_ascii_token(last.split()[0])}"
        primary = f"{local}.{tag}{i}@{rng.choice(_DOMAINS)}"
        e = rng.random()
        if e < 0.04:
            email = None
        elif e < 0.06:
            email = "sin correo"
        elif e < 0.10:
            email = f"{primary}; alt@backup.example.com"
        elif e < 0.13:
            email = f"{primary}, otro@correo.cl"
        elif e < 0.16:
            email = f"contacto:  {primary}\totro@correo.cl"
        elif e < 0.20:
            email = f"  {primary} "
        else:
            email = primary
        body = rng.randrange(5_000_000, 25_000_000)
        r = rng.random()
        if r < 0.11:
            rut = None
        elif r < 0.2:
            rut = str(body)  # numeric-looking cell
        elif r < 0.26:
            rut = f" {body:,}-{rng.randrange(10)} ".replace(",", ".")
        else:
            rut = f"{body:,}-{rng.choice('0123456789K')}".replace(",", ".")
        nombres = None if rng.random() < 0.11 else first
        extra1 = None if rng.random() < 0.5 else f"grupo {rng.randrange(1, 9)}"
        extra2 = str(rng.randrange(1000)) if rng.random() < 0.3 else None
        rows.append([rut, nombres, last, email, extra1, extra2])
    return rows


def write_participants_csv(path: str, seed: int, n: int, tag: str) -> None:
    """Write a participants sheet with ``n`` data rows."""
    width = len(SHEET_HEADER)
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow([f"Listado de participantes {tag}"] + [""] * (width - 1))
        w.writerow([""] * width)
        w.writerow(["Generado por el sistema académico"] + [""] * (width - 1))
        w.writerow(SHEET_HEADER)
        for row in participant_rows(seed, n, tag):
            w.writerow(["" if v is None else v for v in row])


# ---------------------------------------------------------------------------
# Testbed tables for registered queries (TESTDATA.md schemas).
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data table row column key value part line query scan filter join "
    "agg group order sort hash merge window batch stream spark vector small "
    "big fast slow customer"
).split()
_LANGS = ["en"] * 5 + ["es", "es", "de", "fr", "zh"]


def write_operator_tables(root: str, seed: int, rows: int) -> None:
    """Write the ten testbed tables as parquet under ``root``.

    ``rows`` is the lineitem row count; the other tables scale as in the
    testbed (orders = rows/4, customer = rows/40, part = rows/30,
    supplier = rows/600, events = rows/6, documents = rows/120,
    embeddings = rows/300).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_ord, n_cust = max(rows // 4, 10), max(rows // 40, 10)
    n_part, n_supp = max(rows // 30, 10), max(rows // 600, 10)
    n_ev, n_doc, n_emb = max(rows // 6, 10), max(rows // 120, 50), max(rows // 300, 50)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["small", "red", "blue", "large", "green"], n_part),
                    rng.choice(["ring", "widget", "bolt", "gear", "valve"], n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"],
                n_part,
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, rows), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, rows), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, rows), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
            "l_quantity": rng.integers(1, 51, rows).astype("float64"),
            "l_extendedprice": money(900.0, 100000.0, rows),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], rows),
            "l_linestatus": rng.choice(["F", "O"], rows),
            "l_shipdate": pa.array(days("1995-01-02", 2499, rows), pa.timestamp("us")),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(n_ev // 660, 10), n_ev), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    import pyarrow as pa

    texts = []
    for _ in range(n):
        n_words = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(_WORDS, n_words)))
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> dict:
    import numpy as np
    import pyarrow as pa

    label = rng.integers(0, labels, n)
    centers = rng.normal(0.0, 1.0, (labels, dim))
    vecs = centers[label] + rng.normal(0.0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }
