"""Seeded synthetic inputs in the shape of the engine's fixture tables.

The ten tables match the schemas the queries and their DuckDB oracles
read (region .. embeddings: column names, arrow types, value domains,
one parquet file per table with a single row group). Row counts follow
the scale-factor table of the reference fixtures, so ``sf=0.01`` gives
60,000 lineitem rows. The same seed always writes the same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PART_ADJ = ("small", "red", "blue", "hot", "cold", "old", "new", "large")
PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
EMBED_DIM = 64
N_DOCS = 500
N_VECS = 500


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _text(rng, n_tokens: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_tokens))


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as arrow tables, deterministic in (sf, seed)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 100)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(18.0, 2100.0, n_line)),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, rng)),
        }
    )
    # events: ordered timestamps across January 2024, exponential values
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    n_users = max(n_evt // 67, 2)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
            "value": np.maximum(_cents(rng.exponential(50.0, n_evt)), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
        }
    )
    # documents: bag-of-words over the fixture vocabulary; about 5% are
    # near duplicates of an earlier document with " dup" appended
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 100))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((N_VECS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.arange(N_VECS) % 10, pa.int32()),
        }
    )
    return out


def write(
    out_dir: str,
    sf: float,
    seed: int,
    part_dirs: tuple[str, ...] = (),
) -> None:
    """Write every table under ``out_dir`` as ``<name>.parquet``; the
    tables named in ``part_dirs`` become a directory holding one part
    file (the append-only layout the ingest stream requires)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in part_dirs:
            os.makedirs(path, exist_ok=True)
            path = os.path.join(path, "part-00000.parquet")
        pq.write_table(t, path, row_group_size=max(t.num_rows, 1))
