"""Deterministic generator for the benchmark's source tree.

Writes the ten star-schema tables the query registry reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) at scale factor ``sf`` into a directory of parquet files.
Row counts and value distributions follow the engine's sf0.1 test tree:
at sf0.1 there are 600k lineitem rows, 150k orders, 100k events, 5k
documents and 2k embeddings; every table scales linearly with ``sf``.

The generator seed is fixed (42), so a tree depends on ``sf`` alone.
The benchmark's ``--seed`` never reaches the data: it only drives the
benchmark's own choices (batch order, re-sent rows, operation order).

    python3 perfbench/datagen.py OUTDIR SF
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "hot", "large", "red", "small", "steel", "tiny"]
NOUNS = ["anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n):
    lo = (np.datetime64(first, "D") - EPOCH_1995).astype(int)
    hi = (np.datetime64(last, "D") - EPOCH_1995).astype(int)
    days = EPOCH_1995 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _write(out: str, name: str, cols: dict, row_group_size: int | None = None):
    pq.write_table(
        pa.table(cols),
        os.path.join(out, f"{name}.parquet"),
        row_group_size=row_group_size,
    )


def _documents(rng, n: int) -> dict:
    """Word-salad documents over a 30-word vocabulary, with the test
    tree's duplicate structure: ~5% near-duplicates (another document's
    text plus one ``dup`` token) and ~0.16% exact copies."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    n_near, n_exact = n // 20, max(1, n * 16 // 10_000)
    copies = rng.choice(n, n_near + n_exact, replace=False)
    for i, dst in enumerate(copies):
        src = int(rng.integers(0, n))
        while src == dst:
            src = int(rng.integers(0, n))
        texts[dst] = texts[src] + (" dup" if i < n_near else "")
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    }


def generate(out: str, sf: float) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            [f"{c} {w}" for c, w in zip(
                np.asarray(COLORS)[rng.integers(0, len(COLORS), n_part)],
                np.asarray(NOUNS)[rng.integers(0, len(NOUNS), n_part)],
            )]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    # small row groups: one row group would serialize the scan of these
    # small, compute-heavy tables into a single Spark task
    _write(out, "documents", _documents(rng, n_docs), row_group_size=2048)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    }, row_group_size=2048)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
