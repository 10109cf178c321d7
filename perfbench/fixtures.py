"""Deterministic input tables for the benchmark.

Writes the ten tables the engine reads (``kafkastreaming_spark.io.TABLES``)
as one single-row-group parquet file each, with the schemas, row counts
and value distributions of the engine's reference fixtures at the same
scale factor (TPC-H-like star schema, a month of events, a token-soup
document corpus with ~5% near-duplicates, and 64-d unit embeddings with
10 weakly clustered labels).  Every column is drawn from a fixed seed, so
the tables are the same on every run; the workload seed only permutes the
order in which keys run.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever a table's contents change, so a stale cached copy is rebuilt.
VERSION = 2
SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[ms]")


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(SEED)
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(rng.choice(_PADJ, n_part), " "),
                rng.choice(_PNOUN, n_part),
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    # Nanosecond timestamps, as in the reference events table: Spark cannot
    # read them as timestamps, so io.load_table takes its nanosAsLong path.
    month_us = 30 * 86_400 * 1_000_000
    ts = (np.sort(rng.integers(0, month_us, n_ev)) * 1_000
          + np.datetime64("2024-01-01", "ns"))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.05:
            # near-duplicate: an earlier document with one token changed
            words = texts[rng.integers(0, len(texts))].split()
            words[rng.integers(0, len(words))] = _VOCAB[rng.integers(0, len(_VOCAB))]
            words.append("dup")
        else:
            words = list(rng.choice(_VOCAB, rng.integers(10, 100)))
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_vecs, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def ensure(root: str, sf: float) -> str:
    """Return ``<root>/sf<sf>``, writing the tables there first unless a
    complete copy of this ``VERSION`` is already present."""
    out = os.path.join(root, f"sf{sf:g}")
    stamp = os.path.join(out, "_COMPLETE")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == str(VERSION):
                return out
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"sf{sf:g}-", dir=root)
    for name, table in _tables(sf).items():
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"), row_group_size=table.num_rows
        )
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(str(VERSION))
    shutil.rmtree(out, ignore_errors=True)  # a copy of an older VERSION
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run renamed its copy first
        shutil.rmtree(tmp, ignore_errors=True)
    return out
