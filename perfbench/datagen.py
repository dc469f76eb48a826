"""Seeded generator for the ten input tables the query registry reads.

The registry's queries take an ``sf_dir`` holding ``region``, ``nation``,
``customer``, ``supplier``, ``part``, ``orders``, ``lineitem``,
``events``, ``documents`` and ``embeddings`` as single-row-group
parquet files.  This module writes such a directory from a seed: the
schemas, key domains and value distributions follow the TPC-H-ish star
schema plus ``events`` stream table the queries were written against
(TESTDATA.md), so a benchmark run never depends on data outside its
own checkout.  The same ``(seed, sf)`` always writes byte-identical
tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH_1995).astype(np.int64)
    hi = (np.datetime64(end, "D") - _EPOCH_1995).astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (_EPOCH_1995 + d).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy", row_group_size=1 << 30,
    )


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf 0.001 = 6000 lineitems)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(20, round(1_500_000 * sf)),
        "lineitem": max(50, round(6_000_000 * sf)),
        "events": max(50, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables for ``(seed, sf)`` under ``out_dir``.

    Returns the row count of each table written.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(sf)
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, nc), 2)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, nc)]),
    })

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, ns), 2)),
    })

    npart = n["part"]
    pkeys = np.arange(npart, dtype=np.int64)
    retail = np.round(900.0 + (pkeys % 1000) / 10.0, 2)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(pkeys),
        "p_name": pa.array(names[rng.integers(0, len(names), npart)]),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))
        ),
        "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })

    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", no, rng)),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, no)]),
    })

    nl = n["lineitem"]
    l_part = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", nl, rng)),
    })

    ne = n["events"]
    span_us = 30 * _DAY_US
    ts_us = np.sort(rng.choice(span_us, ne, replace=False)).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(
            rng.integers(0, max(1, round(15_000 * sf)), ne).astype(np.int64)
        ),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]
        ),
    })

    nd = n["documents"]
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 101, nd)
    ]
    # a few exact duplicates, as real corpora have
    for i in rng.choice(np.arange(1, nd), max(1, nd // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 5, nd)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })
    return n
