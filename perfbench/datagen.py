"""Seeded synthetic tables in the layout the catalog reads.

The catalog was written against a TPC-H-like star schema plus an
``events`` stream, a ``documents`` corpus and an ``embeddings`` table
(one parquet file each). This module draws the same columns and value
domains from a ``numpy`` generator, so a benchmark run owns its inputs
and the same seed always writes the same bytes. Row counts scale with
``sf`` as at the reference scale factor 0.1 (600k lineitem rows).

The value domains follow the reference sf0.1 tables: the same
vocabularies and key ranges, one row group per file, 5% of documents
repeating another document's text plus the token ``dup``, unit-norm
Gaussian embeddings, and ``l_linenumber`` drawn independently of
``l_orderkey`` (so, as there, ``(l_orderkey, l_linenumber)`` repeats).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows per unit of scale factor (sf0.1 holds a tenth of these)
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
USERS_PER_SF = 15_000
EMBED_DIM = 64
DUP_SHARE = 0.05

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "en", "en", "de", "es", "fr", "zh", "zh"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _n(name: str, sf: float) -> int:
    return max(1, int(round(ROWS_PER_SF[name] * sf)))


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 100, n)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    base = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    texts = list(base)
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for i, j in zip(dups, rng.integers(0, n, len(dups))):
        texts[i] = base[j] + " dup"
    return texts


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every catalog table at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _n("customer", sf), _n("supplier", sf), _n("part", sf)
    n_ord, n_li = _n("orders", sf), _n("lineitem", sf)
    n_ev, n_doc, n_emb = _n("events", sf), _n("documents", sf), _n("embeddings", sf)
    n_users = max(1, int(round(USERS_PER_SF * sf)))

    def pick(values: list[str], n: int) -> pa.Array:
        return pa.array(np.array(values)[rng.integers(0, len(values), n)])

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
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, 2405),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 2499),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _text(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = _embeddings(rng, n_emb)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


MANIFEST = "MANIFEST.json"


def write(out_dir: str, sf: float, seed: int) -> dict[str, str]:
    """Write every table to ``out_dir/<name>.parquet`` plus a manifest of
    their sha256 digests; returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, table in generate(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        digests[name] = file_digest(path)
    with open(os.path.join(out_dir, MANIFEST), "w") as f:
        json.dump({"sf": sf, "seed": seed, "sha256": digests}, f, indent=1)
    return digests


class ChecksumMismatch(RuntimeError):
    """A dataset file no longer matches the digest recorded when written."""


def verify(data_dir: str) -> None:
    """Raise when a file of the dataset differs from its manifest, as it
    does when a run changed its inputs."""
    with open(os.path.join(data_dir, MANIFEST)) as f:
        recorded = json.load(f)["sha256"]
    bad = [
        name for name, digest in sorted(recorded.items())
        if not os.path.isfile(os.path.join(data_dir, f"{name}.parquet"))
        or file_digest(os.path.join(data_dir, f"{name}.parquet")) != digest
    ]
    if bad:
        raise ChecksumMismatch(f"{data_dir}: checksum mismatch for {bad}")
