"""Deterministic input tables for the benchmark, built inside the checkout.

The benchmark may read only files under its checkout, so it cannot use a
dataset prepared elsewhere.  This module writes the ten tables the
registered queries read (the TPC-H-style star schema, the ``events``
stream table and the two LLM-pipeline tables) with the schemas, value
domains and row counts of the shared synthetic test data (``FIXTURES.md``).
Like that data, every column is drawn independently and uniformly unless
noted, with a fixed generator seed, so the same scale always yields the
same bytes.  Planted fixtures the operators look for are kept: exact and
near-duplicate documents, and every order date a real calendar day.

Usage: ``python3 perfbench/datagen.py <out_dir> [--sf 0.1]``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: Row counts per scale factor.  ``documents``/``embeddings`` and the
#: distinct users of ``events`` do not scale linearly in the source data.
COUNTS: dict[float, dict[str, int]] = {
    0.001: dict(
        customer=150, supplier=10, part=200, orders=1_500, lineitem=6_000,
        events=1_000, users=25, documents=500, embeddings=500,
    ),
    0.1: dict(
        customer=15_000, supplier=1_000, part=20_000, orders=150_000,
        lineitem=600_000, events=100_000, users=1_500, documents=5_000,
        embeddings=2_000,
    ),
}

#: Bump when the construction changes: it is part of the dataset marker,
#: so a stale build is rebuilt rather than reused.
VERSION = 1
GEN_SEED = 42
MARKER = "_PERFBENCH_DATA.json"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n)).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    """Random word sequences, then 5% near-duplicates (an earlier document
    with ``" dup"`` appended) and a few exact duplicate pairs."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    ids = rng.permutation(n)
    n_near = n // 20
    n_exact = max(1, n // 600)
    for dst, src in zip(ids[:n_near], ids[n_near : 2 * n_near]):
        text[dst] = text[src] + " dup"
    base = 2 * n_near
    for dst, src in zip(ids[base : base + n_exact], ids[base + n_exact : base + 2 * n_exact]):
        text[dst] = text[src]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def tables(sf: float) -> dict[str, pa.Table]:
    """Build every table for scale factor ``sf`` (a key of :data:`COUNTS`)."""
    c = COUNTS[sf]
    rng = np.random.default_rng(GEN_SEED)
    out: dict[str, dict] = {}
    out["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    n = c["customer"]
    out["customer"] = {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    }
    n = c["supplier"]
    out["supplier"] = {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }
    n = c["part"]
    out["part"] = {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(P_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    }
    n = c["orders"]
    out["orders"] = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }
    n = c["lineitem"]
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, c["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, c["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, c["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    }
    n = c["events"]
    lo = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    out["events"] = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(lo + rng.integers(0, span, n)).astype("datetime64[us]"),
        "user_id": rng.integers(0, c["users"], n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }
    out["documents"] = _documents(rng, c["documents"])
    n = c["embeddings"]
    emb = rng.standard_normal((n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }
    return {name: pa.table(cols) for name, cols in out.items()}


def fingerprint(out_dir: str) -> str:
    """Content hash of every table file under ``out_dir`` (recursive, so a
    Spark-written table directory counts too)."""
    h = hashlib.sha256()
    for t in TABLES:
        path = os.path.join(out_dir, f"{t}.parquet")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")
        )
        for p in files:
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def read_marker(out_dir: str) -> dict | None:
    try:
        with open(os.path.join(out_dir, MARKER)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def build(out_dir: str, sf: float = 0.1) -> dict:
    """Write the tables for ``sf`` into ``out_dir`` unless a marker of the
    same construction is there; return the marker (with the fingerprint)."""
    key = {"construction": "perfbench.datagen", "version": VERSION, "sf": sf}
    marker = read_marker(out_dir)
    if marker and all(marker.get(k) == v for k, v in key.items()):
        return marker
    tmp = out_dir.rstrip("/") + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    marker = dict(key, fingerprint=fingerprint(tmp))
    with open(os.path.join(tmp, MARKER), "w") as f:
        json.dump(marker, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return marker


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1, choices=sorted(COUNTS))
    a = ap.parse_args()
    print(json.dumps(build(a.out_dir, a.sf)))
