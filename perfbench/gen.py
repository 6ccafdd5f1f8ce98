"""Seeded input generator for the benchmark.

Writes the ten tables the package reads (``region nation customer
supplier part orders lineitem events documents embeddings``) as
``<out>/<table>.parquet`` directories, each split into ``n_files``
parquet files (region/nation/supplier stay single-file dimensions),
with the same schema and value domains as the package's fixtures.
Row order within every table is a seeded permutation, so the same
seed always yields byte-identical inputs and different seeds exercise
different physical layouts of the same-shaped data.

The sizes follow the fixture scale factors: at ``sf`` the fact tables
hold ``6e6*sf`` lineitems, ``1.5e6*sf`` orders and ``1e6*sf`` events.

Usage: python3 perfbench/gen.py <out_dir> [sf] [seed]
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)
SINGLE_FILE = {"region", "nation", "supplier"}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
_DIM = 64


def _sizes(sf: float) -> dict[str, int]:
    def n(base: float, lo: int) -> int:
        return max(lo, int(round(base * sf)))

    return {
        "customer": n(150_000, 150),
        "supplier": n(10_000, 10),
        "part": n(200_000, 200),
        "orders": n(1_500_000, 1500),
        "lineitem": n(6_000_000, 6000),
        "events": n(1_000_000, 1000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _days(rng, lo: str, hi: str, size: int) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start).astype(int)) + 1
    return (start + rng.integers(0, span, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": rng.choice(names, npart),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })

    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, ne))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, nc // 10), ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, _DIM))
    vecs = rng.normal(0.0, 1.0, (nv, _DIM)) + 0.15 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    # seeded row permutation: same seed -> same physical order
    return {
        t: tab.take(pa.array(rng.permutation(tab.num_rows)))
        for t, tab in out.items()
    }


def generate(out_dir: str, sf: float, seed: int, n_files: int = 8) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tab in _tables(sf, seed).items():
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        parts = 1 if name in SINGLE_FILE else n_files
        step = -(-tab.num_rows // parts)
        for i in range(parts):
            pq.write_table(
                tab.slice(i * step, step),
                os.path.join(tdir, f"part-{i:05d}.parquet"),
            )
        rows[name] = tab.num_rows
    return rows


def june_damage(seed: int) -> tuple[list[str], str]:
    """Seed-chosen damage for the daily-write workload: three missing
    June-2001 days and a stale run date (all distinct)."""
    rng = np.random.default_rng(seed + 7919)
    days = rng.choice(np.arange(1, 31), 4, replace=False)
    iso = [
        (datetime(2001, 6, 1) + timedelta(days=int(d) - 1)).date().isoformat()
        for d in days
    ]
    return sorted(iso[:3]), iso[3]


if __name__ == "__main__":
    out = sys.argv[1]
    sf = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    print(generate(out, sf, seed))
