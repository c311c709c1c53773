"""Seeded synthetic tables for the benchmark.

Writes the ten tables the package's queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas and value distributions of the synthetic
``sf`` directories the package is developed against:

- TPC-H-like star schema with the simplified column set (no partsupp);
- ``events``: a 30-day click stream with JSON ``props``;
- ``documents``: bag-of-words texts over a 30-word vocabulary, 5 % of
  them near-duplicates (a copy of another document plus `` dup``);
- ``embeddings``: 64-dim unit vectors with a weak per-label centroid.

The same ``(seed, sizes)`` always gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Sizes:
    """Row counts per table (``lineitem`` follows from 1-7 lines per order)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    documents: int
    embeddings: int

    @classmethod
    def sf(cls, sf: float) -> "Sizes":
        """The ``sf`` directory sizes: sf0.01 has 15 k orders, 10 k events
        and 500 documents."""
        return cls(
            customers=int(150_000 * sf),
            suppliers=max(10, int(10_000 * sf)),
            parts=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            events=int(1_000_000 * sf),
            documents=int(50_000 * sf),
            embeddings=int(50_000 * sf),
        )


def _choice(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _tpch(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(s.customers, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
            "c_mktsegment": _choice(rng, SEGMENTS, s.customers),
        }
    )
    sk = np.arange(s.suppliers, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
        }
    )
    pk = np.arange(s.parts, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": _choice(rng, ADJ, s.parts) + " " + _choice(rng, NOUN, s.parts),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, s.parts).astype(str)).astype(object),
            "p_type": _choice(rng, PTYPES, s.parts),
            "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    ok = np.arange(s.orders, dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2405, s.orders) * DAY_US
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], s.orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, s.orders),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _choice(rng, PRIORITIES, s.orders),
        }
    )
    nlines = rng.integers(1, 8, s.orders)
    n = int(nlines.sum())
    l_order = np.repeat(ok, nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, s.parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, s.suppliers, n).astype(np.int64),
            "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n),
            "l_linestatus": _choice(rng, ["F", "O"], n),
            "l_shipdate": _ts(np.repeat(odate, nlines) + rng.integers(1, 122, n) * DAY_US),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    ts = EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.9999).astype(np.int64)
    users = max(10, n * 3 // 200)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    dups = rng.choice(n, size=n // 20, replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 0.5, (10, dim))
    v = rng.normal(0.0, 1.0, (n, dim)) + centroids[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def generate(out_dir: str, seed: int, sizes: Sizes, row_groups: int = 1) -> dict[str, int]:
    """Write every table under ``out_dir``; returns ``{table: rows}``.

    ``row_groups`` splits ``lineitem`` and ``orders`` into that many row
    groups so scans get several splits."""
    rng = np.random.default_rng(seed)
    tables = _tpch(rng, sizes)
    tables["events"] = _events(rng, sizes.events)
    tables["documents"] = _documents(rng, sizes.documents)
    tables["embeddings"] = _embeddings(rng, sizes.embeddings)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        rg = max(1, -(-t.num_rows // row_groups)) if name in ("lineitem", "orders") else None
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rg)
    return {name: t.num_rows for name, t in tables.items()}
