"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables that ``jobx_spark.sources.TABLES`` names (TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) as one
parquet file each, with the schemas and value ranges the registry queries
expect. Everything derives from ``DATA_SEED`` and the scale factor, so a
checkout builds byte-identical inputs; the per-run ``--seed`` only drives
the op order and the MR request arguments (see ``workloads.py``).

At sf0.1: 600,000 lineitem rows, 150,000 orders, 100,000 events, 5,000
documents and 2,000 64-dim embeddings.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_VOCAB = (
    "a the data spark table column row key value query scan filter join "
    "group agg sort order window stream batch merge hash vector line part "
    "customer big small fast slow"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_PART_ADJ = ("large", "small", "hot", "cold", "blue", "red", "green", "steel",
             "brass", "tiny", "heavy", "light", "shiny")
_PART_NOUN = ("ring", "bolt", "anvil", "widget", "gear")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_DIM = 64
_US_PER_DAY = 86_400_000_000


def _days_us(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype(np.int64) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, from ``DATA_SEED``."""
    rng = np.random.default_rng([DATA_SEED, round(sf * 1_000_000)])
    n_orders = max(15, round(1_500_000 * sf))
    n_line = max(60, round(6_000_000 * sf))
    n_cust = max(15, round(150_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_events = max(100, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(50, round(50_000 * sf))
    n_vecs = max(20, round(20_000 * sf))
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": _ids(n_cust),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _ids(n_supp),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": _ids(n_part),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": (90_000 + np.arange(n_part) % 1000 * 10) / 100.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": _ids(n_orders),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n_orders)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": _ids(n_events),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_events))),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(10, 101, n_docs)
    ]
    # ~1% exact duplicates, so the dedup-aware kernels see real collisions
    for d in np.flatnonzero(rng.random(n_docs) < 0.01):
        texts[d] = texts[int(rng.integers(0, n_docs))]
    t["documents"] = pa.table({
        "doc_id": _ids(n_docs),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, _DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": _ids(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def _version() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def ensure(base: str, sf: float) -> str:
    """Return the directory holding the tables at ``sf``, building them
    first if this checkout has not (the directory name carries the
    generator's own hash, so an edited generator never reads stale
    files). The build writes to a temporary sibling and renames it into
    place, so an interrupted build leaves nothing that looks finished."""
    out = os.path.join(base, f"sf{sf:g}-{_version()}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    os.rename(tmp, out)
    return out
