"""Deterministic synthetic catalog tables.

Writes the ten tables the catalog queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
with the column names, types and value ranges of the engine's test
corpus, one single-row-group parquet file each.  Row counts follow the
corpus' scale-factor rule (``lineitem`` = 6M x sf), so ``sf=0.01``
matches the correctness-gate scale in size and shape.  The same
``(sf, seed)`` always yields byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "red", "large", "hot", "blue", "old", "cold", "green"]
NOUNS = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow sort spark stream table the "
    "value vector window small"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.004:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        if i > 10 and r < 0.06:
            # near duplicate: an earlier document with one token replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(8, 100))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write every catalog table for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32 = pa.int32()

    _write(pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
           f"{out_dir}/region.parquet")
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
                "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": pa.array(
                    _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                    pa.timestamp("us"),
                ),
                "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
                "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
                "l_shipdate": pa.array(
                    _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                    pa.timestamp("us"),
                ),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us")
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
                "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)],
            }
        ),
        f"{out_dir}/events.parquet",
    )
    _write(_documents(rng, n_docs), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, n_vecs), f"{out_dir}/embeddings.parquet")
