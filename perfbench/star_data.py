"""Synthetic star-schema tables for the two query-mix workloads.

The tables have the schemas and value distributions of the project's
testdata (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), so the registered queries and their DuckDB oracles run
on them unchanged. Each table is written as one parquet file with a
single row group, as the testdata ships them. The tables come from a
fixed generator seed: the workload seed only orders the queries.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])


def generate(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table at scale factor ``sf`` into ``out_dir``;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc = n_emb = int(50_000 * sf)
    day_us = 86_400_000_000
    tables: dict[str, dict] = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
        },
    }
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    tables["part"] = {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    lines = rng.poisson(4, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = okey.size
    tables["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(
            (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day_us),
    }
    tables["events"] = {
        "event_id": np.arange(n_ev),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_ev))),
        "user_id": rng.integers(0, max(n_users, 1), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    lens = rng.integers(10, 100, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_doc)]
    tables["documents"] = {
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centers = rng.normal(0, 0.016, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1), compression="snappy",
        )
        counts[name] = table.num_rows
    return counts
