"""Seeded input generators for the benchmark.

Every table has the schema of the engine's fixture tables (FIXTURES.md)
and row counts that scale with ``sf`` the same way (sf0.1: 600k
lineitem, 150k orders, 100k events, 5k documents, 2k embeddings). The
same seed always writes the same bytes of data, so a run is reproducible
from its ``--seed`` alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "es", "fr", "zh", "de")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _rows(sf: float, at_sf01: int) -> int:
    return max(int(round(at_sf01 * sf / 0.1)), 10)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Documents of 10-100 words over a 30-word vocabulary; 5% are a
    copy of an earlier document with `` dup`` appended (near-duplicates,
    and exact duplicates of each other when two copy the same source)."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    """Unit vectors, dim 64; 2% are a slightly perturbed copy of another
    vector (cosine > 0.99), the planted near-duplicates."""
    v = rng.standard_normal((n, 64))
    for i in np.flatnonzero(rng.random(n) < 0.02):
        v[i] = v[int(rng.integers(0, n))] + 0.01 * rng.standard_normal(64)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def write_tables(out_dir: str, seed: int, sf: float, corpus_sf: float) -> dict[str, int]:
    """Write the ten fixture tables into ``out_dir``, ``documents`` and
    ``embeddings`` at scale ``corpus_sf`` and the rest at ``sf``; return
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp, n_part = _rows(sf, 15_000), _rows(sf, 1_000), _rows(sf, 20_000)
    n_ord, n_li, n_ev = _rows(sf, 150_000), _rows(sf, 600_000), _rows(sf, 100_000)
    n_doc, n_emb = _rows(corpus_sf, 5_000), _rows(corpus_sf, 2_000)
    n_users = max(n_cust // 10, 5)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.asarray(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.asarray(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.asarray(("A", "N", "R"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.asarray(("F", "O"))[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * _US_PER_DAY),
    })
    _write(out_dir, "events", event_columns(
        rng, np.arange(n_ev, dtype=np.int64),
        EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)), n_users,
    ))
    texts = _texts(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n_doc),
    })
    emb = _embeddings(rng, n_emb)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_doc, "embeddings": n_emb,
    }


def event_columns(
    rng: np.random.Generator, event_ids: np.ndarray, ts_us: np.ndarray, n_users: int
) -> dict:
    """Columns of the ``events`` schema for the given ids and event
    times. User ids are Zipf-skewed (a few hot keys, a long tail) and
    values are multiples of 0.25, so every sum of them is exact in
    double arithmetic whatever order it is taken in."""
    n = len(event_ids)
    users = (rng.zipf(1.3, n) - 1) % n_users
    return {
        "event_id": event_ids.astype(np.int64),
        "ts": _ts(ts_us),
        "user_id": users.astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": rng.integers(0, 2240, n) / 4.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def write_snapshot(base_dir: str, out_dir: str, seed: int, frac: float) -> None:
    """A round's corpus: a seeded ``frac`` row subset of ``documents``
    and ``embeddings`` written fresh, every other table symlinked from
    ``base_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in ("documents", "embeddings"):
            t = pq.read_table(src)
            keep = np.sort(rng.choice(t.num_rows, int(t.num_rows * frac), replace=False))
            pq.write_table(t.take(keep), dst)
        else:
            os.symlink(src, dst)
