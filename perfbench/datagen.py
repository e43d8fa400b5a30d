"""Deterministic synthetic star schema for the benchmark.

Writes the ten tables the engine's catalog expects (``region nation
customer supplier part orders lineitem events documents embeddings``,
one parquet file each), plus a weekly ``calendar`` date dimension, with the column names and parquet types of the
engine's reference test data. Row counts scale with ``sf`` like TPC-H
dbgen (lineitem 6M/sf, orders 1.5M/sf, ...); region and nation are
fixed. Values are drawn from a numpy generator seeded per table, so a
given ``sf`` always yields the same bytes. Documents and embeddings
carry a small share of planted exact and near duplicates, so the
dedup and similarity operators have real work and non-empty output.

Usage: python3 perfbench/datagen.py SF OUT_DIR
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64


def _rng(table: str, sf: float) -> np.random.Generator:
    return np.random.default_rng([DATA_SEED, zlib.crc32(f"{table}|{sf}".encode())])


def _days(lo: str, hi: str, n: int, rng) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def tables(sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng("customer", sf)
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng("supplier", sf)
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng("part", sf)
    keys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })

    r = _rng("orders", sf)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, r),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng("lineitem", sf)
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, r),
    })

    r = _rng("events", sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(t0 + r.integers(0, span, n_ev)).astype("datetime64[us]"),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = _rng("documents", sf)
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))])
        for _ in range(n_docs)
    ]
    # plant duplicates: ~0.5% exact copies, ~1.5% near copies (a few
    # tokens replaced) of earlier documents
    for i in range(n_docs // 10, n_docs):
        u = r.random()
        if u < 0.005:
            texts[i] = texts[int(r.integers(0, i))]
        elif u < 0.02:
            toks = texts[int(r.integers(0, i))].split()
            for _ in range(max(1, len(toks) // 25)):
                toks[int(r.integers(0, len(toks)))] = str(vocab[r.integers(0, len(vocab))])
            texts[i] = " ".join(toks)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.array([f"src{i}" for i in range(20)])[r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = _rng("embeddings", sf)
    m = r.standard_normal((n_emb, EMB_DIM))
    # plant near-duplicate vectors: ~2% are a perturbed earlier vector
    for i in range(n_emb // 10, n_emb):
        if r.random() < 0.02:
            m[i] = m[int(r.integers(0, i))] + 0.05 * r.standard_normal(EMB_DIM)
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(m.reshape(-1), pa.float32()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })
    # weekly date dimension for the as-of link of the ETL workload
    weeks = np.arange(np.datetime64("1994-12-26"), np.datetime64("2002-01-08"), 7)
    out["calendar"] = pa.table({
        "d_date": (weeks.astype("datetime64[D]").astype(np.int64) * 86_400_000_000).astype("datetime64[us]"),
        "d_week": pa.array(range(len(weeks)), pa.int32()),
    })
    return out


def fingerprint(tbl: pa.Table) -> dict:
    """Row count and sha256 of the table's Arrow IPC stream (schema
    metadata dropped): a content fingerprint independent of the parquet
    writer."""
    sink = pa.BufferOutputStream()
    tbl = tbl.replace_schema_metadata(None)
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return {"rows": tbl.num_rows, "sha256": hashlib.sha256(sink.getvalue()).hexdigest()[:16]}


def write(sf: float, out_dir: str) -> dict:
    """Write every table of rung ``sf`` into ``out_dir`` atomically (a
    half-written rung never appears under its final name), with the
    per-table fingerprints in ``FINGERPRINT.json``."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fps = {}
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
        fps[name] = fingerprint(tbl)
    with open(os.path.join(tmp, "FINGERPRINT.json"), "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return fps


if __name__ == "__main__":
    write(float(sys.argv[1]), sys.argv[2])
