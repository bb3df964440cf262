"""Deterministic stand-ins for the suite's ``documents``, ``events`` and
``orders`` parquet tables.

The suite queries read these three tables from an ``sf_dir``.  The
benchmark writes its own copies, with the same Arrow schemas, row counts
and value ranges as the synthetic sf tables the suite was validated on,
so it needs no data outside its checkout.  Every value derives from one
``random.Random(seed)``: the same seed writes byte-identical files.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = (("en", 44), ("es", 15), ("zh", 15), ("de", 14), ("fr", 12))
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
ORDER_STATUS = ("P", "O", "F")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

N_DOCUMENTS = 500  # the documents table does not grow with sf
DUP_EVERY = 20  # one near-duplicate (an earlier text + " dup") per 20 docs


def documents(rng: random.Random) -> pa.Table:
    langs = [lang for lang, w in LANGS for _ in range(w)]
    texts = []
    for i in range(N_DOCUMENTS):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 95))))
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(langs) for _ in range(N_DOCUMENTS)],
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(rng: random.Random, n: int) -> pa.Table:
    t = datetime(2024, 1, 1)
    mean_gap = 30 * 86400 / n  # the stream spans about 30 days
    ts = []
    for _ in range(n):
        t += timedelta(microseconds=int(rng.expovariate(1 / mean_gap) * 1e6))
        ts.append(t)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(150) for _ in range(n)], pa.int64()),
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
            "value": [round(min(490.0, rng.expovariate(1 / 40)) + 0.01, 2) for _ in range(n)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
        }
    )


def orders(rng: random.Random, n: int) -> pa.Table:
    start = datetime(1995, 1, 1)
    span_days = (datetime(2001, 8, 1) - start).days
    return pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array([rng.randrange(max(1, n // 10)) for _ in range(n)], pa.int64()),
            "o_orderstatus": [rng.choice(ORDER_STATUS) for _ in range(n)],
            "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n)],
            "o_orderdate": pa.array(
                [start + timedelta(days=rng.randint(0, span_days)) for _ in range(n)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": [rng.choice(ORDER_PRIORITY) for _ in range(n)],
        }
    )


def write_tables(sf_dir: str, sf: float, seed: int = 42) -> dict:
    """Write the three tables as single-row-group parquet files under
    ``sf_dir``; returns {table: rows}."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = random.Random(seed)
    tables = {
        "documents": documents(rng),
        "events": events(rng, max(1, round(1_000_000 * sf))),
        "orders": orders(rng, max(1, round(1_500_000 * sf))),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=len(table))
    return {name: len(t) for name, t in tables.items()}
