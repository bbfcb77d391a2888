"""Seeded input tables for the benchmark.

Writes the ten tables the engine's registry reads (TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``), or any subset
of them, as one parquet file each. The same (seed, scale) always gives
byte-identical files.
Row counts follow TPC-H scale factors: ``scale=0.1`` gives 600k
lineitem rows, 100k events, 5k documents and 2k embeddings.

Value ranges match what the registry's queries filter on: five named
regions, 25 nations, lineitem ship dates from 1995-01-02 to 2001-11-04
(83 calendar months, 7 calendar years) and one month of events in
January 2024 (30 days).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_START = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498  # through 2001-11-04
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["large", "hot", "blue", "old", "cold", "red", "tiny", "bright"]
_PART_NOUNS = ["ring", "bolt", "plate", "nut", "gear", "pipe"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.14, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window index segment bitmap cache shard"
).split()


def _rows(scale: float, per_unit: int, floor: int) -> int:
    return max(floor, int(round(per_unit * scale)))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(scale: float) -> dict[str, int]:
    return {
        "customer": _rows(scale, 150_000, 50),
        "supplier": _rows(scale, 10_000, 10),
        "part": _rows(scale, 200_000, 50),
        "orders": _rows(scale, 1_500_000, 500),
        "lineitem": _rows(scale, 6_000_000, 2000),
        "events": _rows(scale, 1_000_000, 1000),
        "documents": _rows(scale, 50_000, 500),
        "embeddings": _rows(scale, 20_000, 500),
    }


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    n_cust = n["customer"]
    return pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })


def _supplier(rng, n):
    n_supp = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })


def _part(rng, n):
    n_part = n["part"]
    words = np.array(_PART_WORDS)[rng.integers(0, len(_PART_WORDS), n_part)]
    nouns = np.array(_PART_NOUNS)[rng.integers(0, len(_PART_NOUNS), n_part)]
    return pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{w} {noun}" for w, noun in zip(words, nouns)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })


def _orders(rng, n):
    n_ord = n["orders"]
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": (
            np.datetime64("1995-01-01", "D") + order_days
        ).astype("datetime64[us]"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })


def _lineitem(rng, n):
    n_line = n["lineitem"]
    ship = (SHIP_START + rng.integers(0, SHIP_DAYS + 1, n_line)).astype(
        "datetime64[us]"
    )
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ship,
    })


def _events(rng, n):
    n_ev = n["events"]
    ev_us = np.sort(rng.integers(0, EVENTS_DAYS * 86_400_000_000, n_ev))
    return pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EVENTS_START + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


def _documents(rng, n):
    n_doc = n["documents"]
    texts = []
    for _ in range(n_doc):
        n_words = int(rng.integers(4, 90))
        texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), n_words)]))
    # a few exact and near duplicates, so the dedup queries find pairs
    for i in range(0, n_doc - 1, 97):
        texts[i + 1] = texts[i] if i % 2 else texts[i] + " tail"
    return pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    n_emb = n["embeddings"]
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": labels,
    })


# each table draws from its own seeded stream, so any subset of them can
# be generated alone and still comes out the same
_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}
TABLES = tuple(_BUILDERS)


def make_tables(seed: int, scale: float, names=TABLES) -> dict[str, pa.Table]:
    """Build the named tables in memory (numpy, no Spark)."""
    sizes = _sizes(scale)
    return {
        name: _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]), sizes)
        for name in names
    }


def write_tables(out_dir: str, seed: int, scale: float, names=TABLES) -> dict[str, int]:
    """Write the named tables to ``out_dir/<name>.parquet``; return row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, scale, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
