"""Deterministic generator for the benchmark's input tables.

The benchmark cannot read data from outside its checkout, so it writes
its own parquet tables, shaped like the repository's TESTDATA tables
(TPC-H-ish star schema plus ``documents`` and ``embeddings``): same table
names, column names and types, and the same row counts per scale factor
(``lineitem`` = 6,000,000 x sf). The tables depend only on ``DATA_SEED``
and ``sf``: the per-run ``--seed`` picks the read parameters and the write
stream (see ``workloads.py``), never the tables, so every seed measures
the same data.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT = 1  # bump when the generator's output changes

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "green", "small", "tiny", "bright"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMB_DIMS = 64
EMB_CLUSTERS = 10

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings",
)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TESTDATA's ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(20, round(1_500_000 * sf)),
        "lineitem": max(80, round(6_000_000 * sf)),
        "documents": max(200, round(50_000 * sf)),
        "embeddings": max(200, round(20_000 * sf)),
    }


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1992-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([DATA_SEED, int(sf * 1_000_000)])
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nk = np.arange(25)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })
    ck = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)].tolist(),
    })
    sk = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, sk.size),
    })
    pk = np.arange(n["part"])
    adj, noun = rng.integers(0, len(PART_ADJ), pk.size), rng.integers(0, len(PART_NOUN), pk.size)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, pk.size)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), pk.size)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) + rng.integers(0, 100, pk.size) / 100.0, 2),
    })
    ok = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], ok.size), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, ok.size)].tolist(),
        "o_totalprice": _cents(rng, 900.0, 500_000.0, ok.size),
        "o_orderdate": _ts(rng.integers(0, 2400, ok.size)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ok.size)].tolist(),
    })
    nl = n["lineitem"]
    # uniform order keys (Poisson(4) lines per order) keep every order under
    # the 31 lines the graph's edge-id scheme (orderkey * 32 + seq) allows
    lok = np.sort(rng.integers(0, n["orders"], nl))
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist(),
        "l_shipdate": _ts(rng.integers(0, 2500, nl)),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random bag-of-words documents; 5% are an earlier document plus one
    appended token (near-duplicates) and 0.2% exact copies (TESTDATA's
    duplicate structure)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)].tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ``EMB_CLUSTERS`` random centres; about 0.3% of
    pairs reach cosine 0.35, like TESTDATA's."""
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIMS))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, n)
    vec = centres[label] * 0.3 + rng.normal(scale=1 / np.sqrt(EMB_DIMS), size=(n, EMB_DIMS))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMB_DIMS + 1, EMB_DIMS), pa.int32()), flat),
        "label": pa.array(label, pa.int32()),
    })


def digest(tables: dict[str, pa.Table]) -> str:
    """Content hash of generated tables (row order included)."""
    h = hashlib.sha256()
    for name in TABLES:
        t = tables[name]
        h.update(name.encode())
        for col in t.column_names:
            h.update(col.encode())
            for chunk in t.column(col).chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def ensure(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once and return their
    directory. A finished directory holds a ``DONE`` marker; a partial one
    (an interrupted first run) is rebuilt."""
    path = os.path.join(root, f"data-v{FORMAT}-sf{sf}")
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = generate(sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write(digest(tables) + "\n")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
