"""Seeded synthetic corpus in the physical model of the shipped test corpus.

Writes the ten tables the registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas of FIXTURES.md §B and the value domains of
the shipped test corpus: dense 0-based keys, uniform foreign keys, about
four line items per order, two-decimal money columns, a 31-word document
vocabulary with about 5% near-duplicate documents
(an earlier document plus the marker word ``dup``), and unit-norm 64-d
float embeddings. The same ``(seed, sf)`` always gives the same bytes of
data, so every workload input derives from the benchmark seed alone.

``sf`` scales like the shipped corpus: sf0.01 is 15,000 orders and about
60,000 line items.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "red", "small", "hot", "old", "green", "big", "cold"]
NOUNS = ["bolt", "ring", "widget", "gear", "gizmo", "plate", "rod", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "fr", "de", "es", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = np.round(seconds * 1e6).astype(np.int64)
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """The corpus as Arrow tables (not yet written)."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    n_cust, n_supp, n_part, n_ord = n["customer"], n["supplier"], n["part"], n["orders"]
    n_li = 4 * n_ord
    day = 86_400.0
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = _pick(rng, ADJECTIVES, n_part)
    noun = _pick(rng, NOUNS, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(
            dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li) * day
        ),
    })
    n_ev = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(
            dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * day, n_ev))
        ),
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n["documents"])
    n_emb = n["embeddings"]
    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Random word sequences over the vocabulary minus the marker word
    ``dup``; a fixed share are an earlier document with ``dup`` appended
    (the near-duplicate pairs the dedup family finds, and the one rare
    term the TF-IDF df cap keeps)."""
    plain = [w for w in VOCAB if w != "dup"]
    words: list[list[str]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            doc = words[int(rng.integers(0, i))] + ["dup"]
        else:
            doc = _pick(rng, plain, int(rng.integers(10, 100)))
        words.append(doc)
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(tables: dict[str, pa.Table], out_dir: Path) -> None:
    """One single-row-group parquet file per table, like the shipped
    corpus."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet", row_group_size=len(table) or 1)
