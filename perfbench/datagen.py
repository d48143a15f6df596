"""Deterministic input tables for the benchmark.

The engine reads ten parquet tables by name (``catalog.TABLES``). This
module writes tables with the same names, schemas and value domains, so
the benchmark needs nothing outside its own checkout. A fixed generator
seed makes the tables; the workload seed only orders the work.

``scale`` multiplies the base row counts (scale 1.0 = 100,000 events,
600,000 lineitems, 5,000 documents). ``users`` sets the number of event
keys; keep events per key per day near 2.2 (100,000 / 1,500 / 30) so
the indicator stream's ``lookback_days`` bound holds at every scale.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "big join filter sort hash scan group agg key row line part order "
    "customer query batch fast slow error"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "cold", "blue", "red", "smooth", "rough", "tiny"]
_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "spring", "screw", "plate"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30


def _ts_us(start: dt.datetime, offsets_us: np.ndarray, unit: str) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    us = base + offsets_us.astype(np.int64)
    if unit == "ms":
        return pa.array(us // 1000, type=pa.timestamp("ms"))
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts_us(EVENTS_START, offs, "us"),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; about one in eight is a near copy of an
    earlier one (one word replaced), so near-dup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 80))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def star_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(200, int(20_000 * scale))
    n_ord = max(1_500, int(150_000 * scale))
    n_li = max(6_000, int(600_000 * scale))
    nat_keys = np.arange(25, dtype=np.int32)
    day_us = 86_400 * 1_000_000
    li_orders = rng.integers(0, n_ord, n_li)
    flags = rng.integers(0, 6, n_li)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nat_keys),
                "n_name": [f"NATION_{i}" for i in nat_keys],
                "n_regionkey": pa.array(nat_keys % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _ts_us(
                    dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day_us, "ms"
                ),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(li_orders.astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2]),
                "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2]),
                "l_shipdate": _ts_us(
                    dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li) * day_us, "ms"
                ),
            }
        ),
    }


def make_tables(scale: float, users: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GEN_SEED)
    tables = star_tables(rng, scale)
    tables["events"] = events_table(rng, max(1_000, int(100_000 * scale)), users)
    tables["documents"] = documents_table(rng, max(500, int(5_000 * scale)))
    tables["embeddings"] = embeddings_table(rng, max(500, int(2_000 * scale)))
    return tables


def write_tables(out_dir: str, scale: float, users: int) -> str:
    """Write the tables under ``out_dir`` once; later calls reuse them.
    Written to a sibling directory and renamed into place, so an
    interrupted write never leaves a partial table set."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(scale, users).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)
    return out_dir
