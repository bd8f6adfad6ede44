"""Deterministic synthetic inputs in the engine's fixture layout.

Writes the ten tables the engine reads (``<name>.parquet``, one file and
one row group each, the schemas in FIXTURES.md) from a numpy seed. Row
counts follow the fixture scale factors: ``sf`` = 0.01 gives 1,500
customers, 15,000 orders, 60,000 lineitems and 10,000 events. The text
and vector tables keep the fixture's small floor (500 rows) so the
curation queries have work at every scale.

The same (sf, seed) always gives byte-identical tables, so golden results
computed once stay valid.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en"] * 9 + ["zh", "zh", "zh", "es", "es", "es", "de", "de", "de", "fr", "fr"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
PART_NOUN = ["widget", "bolt", "ring", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000
EMBED_DIM = 64
N_LABELS = 10


def row_counts(sf: float) -> dict[str, int]:
    def n(base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5, "nation": 25,
        "customer": n(150_000, 10), "supplier": n(10_000, 5),
        "part": n(200_000, 20), "orders": n(1_500_000, 100),
        "lineitem": n(6_000_000, 400), "events": n(1_000_000, 100),
        "documents": n(50_000, 500), "embeddings": n(20_000, 500),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    days = rng.integers(0, span_days, n)
    return pa.array(EPOCH_1995_US + days * DAY_US, pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # every 20th document near-duplicates an earlier one (one appended
    # token), the shape the dedup lanes are built to find
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    x = centres[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


def _events(rng, n: int, users: int) -> dict:
    gaps = rng.exponential(30 * 86_400 / n, n)
    ts = EPOCH_2024_US + (np.cumsum(gaps) * 1e6).astype(np.int64)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(25.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _region(rng, c):
    return {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }


def _nation(rng, c):
    return {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }


def _customer(rng, c):
    n = c["customer"]
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    }


def _supplier(rng, c):
    n = c["supplier"]
    return {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


def _part(rng, c):
    n = c["part"]
    names = zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))
    return {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in names],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    }


def _orders(rng, c):
    n = c["orders"]
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, n, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }


def _lineitem(rng, c):
    # keyless on purpose: (l_orderkey, l_linenumber) repeats, as in the
    # fixture, so verify has to treat the table as a multiset
    n = c["lineitem"]
    return {
        "l_orderkey": rng.integers(0, c["orders"], n),
        "l_partkey": rng.integers(0, c["part"], n),
        "l_suppkey": rng.integers(0, c["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, 2500),
    }


#: table -> column builder, in fixture order; each table draws from its own
#: generator, so its rows depend only on (seed, table, its row count) and
#: the floored text and vector tables are identical at every sf <= 0.01
BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem,
    "events": lambda rng, c: _events(rng, c["events"], max(10, c["customer"] // 10)),
    "documents": lambda rng, c: _documents(rng, c["documents"]),
    "embeddings": lambda rng, c: _embeddings(rng, c["embeddings"]),
}


def write_tables(out_dir: str, sf: float, seed: int, names=tuple(BUILDERS)) -> dict[str, int]:
    """Write each named table as ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    c = row_counts(sf)
    counts = {}
    for i, (name, build) in enumerate(BUILDERS.items()):
        if name not in names:
            continue
        table = pa.table(build(np.random.default_rng([seed, i]), c))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
