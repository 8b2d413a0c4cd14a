"""Seeded generator for the benchmark's input tables.

The registered queries read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``).  This module writes
them so the benchmark needs nothing outside its own checkout.  With
``TABLES_SEED`` it reproduces the reference test data of the library's
oracle suite: the star-schema tables value for value, ``events`` except
for a few values one unit of rounding off, and ``documents`` and
``embeddings`` in distribution (row counts, schemas, vocabulary, words
per document, the rate and structure of planted near-duplicates, and
label-independent unit vectors).  Row counts follow the reference scale
factors: ``sf=0.01`` gives 60,000 ``lineitem`` rows.  The same
``(seed, sf)`` always writes the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed and scale factor of the star-schema tables.  The run seed varies
#: only the op order and the Arrow table, so that per-op costs do not move
#: with the data.  At sf0.01 per-op fixed costs dominate and a whole run
#: fits its time budget.
TABLES_SEED = 42
TABLES_SF = 0.01

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n):
    n_words = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in n_words]
    # 5% planted near-duplicates: another document's text plus " dup",
    # planted in random order, so a source may itself be a duplicate or be
    # overwritten later, as in the reference data
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _choice(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n, dim=64, labels=10):
    # random unit vectors; the label is drawn independently of the vector
    x = rng.normal(size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.field("element", pa.float32()))),
            "label": pa.array(rng.integers(0, labels, n).astype(np.int32)),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``, keyed by table name."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": pa.array(
                    [
                        f"{_ADJ[a]} {_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _choice(rng, _PTYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
                "l_returnflag": _choice(rng, ["R", "A", "N"], n_li),
                "l_linestatus": _choice(rng, ["O", "F"], n_li),
                "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(range(n_ev)),
                "ts": pa.array(
                    np.datetime64("2024-01-01")
                    + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype(
                        "timedelta64[us]"
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": i64(rng.integers(0, n_users, n_ev)),
                "event_type": _choice(rng, _EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    return out


def arrow_table(seed: int, rows: int) -> pa.Table:
    """The seeded table the ``arrow_io`` workload moves across the Arrow
    boundary directly: integer, float, string and boolean columns with
    about 10% nulls in each."""
    rng = np.random.default_rng(seed)
    mask = lambda: rng.random(rows) < 0.1  # noqa: E731
    words = np.asarray(_WORDS, dtype=object)
    return pa.table(
        {
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "k": pa.array(rng.integers(0, 1000, rows), mask=mask()),
            "x": pa.array(rng.normal(size=rows), mask=mask()),
            "s": pa.array(words[rng.integers(0, len(words), rows)], pa.string(), mask=mask()),
            "flag": pa.array(rng.random(rows) < 0.5, mask=mask()),
        }
    )


def write(seed: int, sf: float, out_dir: str) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
