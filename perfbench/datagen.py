"""Deterministic input tables for the benchmark.

Writes the ten input tables (`e02_spark.io.TABLES`) as one parquet file
each, with the column names, types and value domains of the engine's
reference test data: a TPC-H-like star schema, an `events` click stream,
a `documents` corpus with ~5% near-duplicates and clustered unit-norm
`embeddings`. Row counts follow the TPC-H ratios at scale factor `sf`.
The same (sf, seed) always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, _TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), n_words)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _choice(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    dim = 64
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.15 * centers[labels] + rng.normal(scale=dim ** -0.5, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def ensure_tables(root: str, sf: float, seed: int) -> str:
    """Return a directory holding the tables for (sf, seed), writing them
    on first use. Written to a sibling temp dir and renamed into place, so
    an interrupted write never leaves a partial table set behind."""
    out = os.path.join(root, f"sf{sf}-seed{seed}-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"sf": sf, "seed": seed, "version": VERSION}, f)
    try:
        os.rename(tmp, out)
    except OSError:  # lost a race with a concurrent writer of the same set
        shutil.rmtree(tmp, ignore_errors=True)
    return out
