"""Seeded star-schema, event and document tables for the benchmark.

The tables follow the column layout, value ranges and distributions
of the synthetic tables the catalog's analyst queries are written for
(``hpv_etl_code_spark/sources/registry.py``): TPC-H-shaped ``region
nation customer supplier part orders lineitem`` and an ``events``
stream table. Row counts scale linearly with ``sf`` (``sf=0.1`` gives
600,000 lineitem rows).

The ``documents`` corpus has the shape of the synthetic corpus the
catalog's dedup entries are tuned for: 5,000 documents of 10-99 words
drawn uniformly from a 30-word vocabulary, so most pairs of long
documents are near-duplicates (about 3 million pairs reach Jaccard
0.8). One in twenty documents is a copy of another with `` dup``
appended. The corpus is generated from a fixed seed, not the run's
seed: the outputs of the hash-based (xxhash64) dedup entries have no
oracle and are checked against digests pinned for this one corpus
(``workloads.CORPUS_PINNED``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "hot", "cold", "new", "old", "small", "large")
PART_NOUN = ("bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pin")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# language shares and vocabulary of the catalog's synthetic corpus
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_SHARE = 0.05  # copies of another document with " dup" appended
CORPUS_SEED = 20240101
CORPUS_DOCS = 5000

_DAY_US = 86_400_000_000


def _ts_us(start: dt.date, offsets_us: np.ndarray) -> pa.Array:
    """Naive µs timestamps (the layout registry.load_table expects)."""
    base = (start - dt.date(1970, 1, 1)).days * _DAY_US
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days_ts(rng, n: int, start: dt.date, end: dt.date) -> pa.Array:
    days = rng.integers(0, (end - start).days + 1, n)
    return _ts_us(start, days.astype(np.int64) * _DAY_US)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(VOCAB[j] for j in words[e - k : e]) for e, k in zip(ends, lens)]
    # copies are made in id order, so a copy may itself be copied
    for i in range(1, n):
        if rng.random() < NEAR_DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(rng, n: int, n_users: int) -> pa.Table:
    span_us = 30 * _DAY_US
    # strictly increasing, distinct µs timestamps (as-of joins need no ties)
    gaps = rng.exponential(span_us / n, n).astype(np.int64) + 1
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts_us(dt.date(2024, 1, 1), np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[j] for j in rng.integers(0, 5, n)], pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def star_schema(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(
                [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ]
            ),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(
                [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]
            ),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
            "o_orderdate": _days_ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": pa.array(
                [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(
                [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)]
            ),
            "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_line)]),
            "l_shipdate": _days_ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> None:
    """Write the named tables as ``<out_dir>/<name>.parquet``; each table
    draws from its own seeded stream, so the set of names asked for does
    not change any table's contents."""
    os.makedirs(out_dir, exist_ok=True)

    def rng(tag: int):
        return np.random.default_rng([seed, tag])

    tables: dict[str, pa.Table] = {}
    if set(names) & {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}:
        tables.update(star_schema(rng(1), sf))
    if "events" in names:
        tables["events"] = events(rng(2), int(1_000_000 * sf), int(15_000 * sf))
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def write_corpus(out_dir: str) -> None:
    """Write the fixed document corpus as ``<out_dir>/documents.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    table = documents(np.random.default_rng(CORPUS_SEED), CORPUS_DOCS)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
