"""Deterministic input generator for the benchmark.

Writes the ten tables the engine queries (``session.TABLE_NAMES``) as one
snappy parquet file each: the synthetic TPC-H-like star schema the
engine's tests and ``bench.py`` read (uniform keys and measures, 5%
near-duplicate documents, unit-norm 64-d embeddings).  Row counts scale
linearly with ``sf`` (lineitem = 6M x sf); nation and region are fixed.
The rows are those of the engine's test data (``TESTDATA.md``, seed
``DATA_SEED``): every column, value for value, at sf 0.001, 0.01 and
0.1, which ``--compare DIR`` checks by content hash.

After writing, each table's row count and a DuckDB content hash (an
order-independent sum of per-row hashes) are returned, so two runs can
show they read identical data.

Usage: python3 perfbench/datagen.py OUT_DIR --sf 0.1 [--compare DIR]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the engine's test data.
DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# Category lists are in draw order: an index drawn from the generator
# picks the entry at that position.
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# English is three draws in seven.
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = ["the", "a", "spark", "query", "table", "join", "group", "filter",
         "window", "data", "order", "customer", "part", "line", "fast", "slow",
         "big", "small", "hash", "sort", "merge", "scan", "agg", "stream",
         "batch", "vector", "key", "value", "row", "column"]
EMBED_DIM = 64

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2405  # through 2001-08-01
SHIP_DAY0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2499  # through 2001-11-04
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86_400


def _rows(sf: float, per_sf1: int, floor: int = 1) -> int:
    return max(floor, int(round(per_sf1 * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, in memory."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = _rows(sf, 150_000)
    n_supp = _rows(sf, 10_000)
    n_part = _rows(sf, 200_000)
    n_ord = _rows(sf, 1_500_000)
    n_li = _rows(sf, 6_000_000)
    n_ev = _rows(sf, 1_000_000)
    n_users = _rows(sf, 15_000)
    # The text and vector tables keep at least 500 rows at small scales.
    n_docs = _rows(sf, 50_000, 500)
    n_vecs = _rows(sf, 20_000, 500)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": np.array(RETURN_FLAGS)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(LINE_STATUS)[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n_li)),
    })
    # Seconds as doubles, taken to whole nanoseconds, then truncated to
    # microseconds (the stored precision).
    ts_ns = (np.sort(rng.uniform(0, EVENT_SPAN_S, n_ev)) * 1e9).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64(EVENT_T0, "us")
                       + (ts_ns // 1000).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts of 10-99 words; 5% of the documents are then
    replaced, one after another, by another document's text plus ' dup'."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), k)]))
    for i in rng.choice(n, n // 20, replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 Gaussian vectors, with labels drawn independently
    of them (ten classes)."""
    x = rng.normal(size=(n, EMBED_DIM)).astype(np.float32)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


def content_hashes(out_dir: str, names: list[str]) -> dict[str, dict]:
    """Per table: row count and an order-independent DuckDB content hash."""
    con = duckdb.connect()
    out: dict[str, dict] = {}
    try:
        for name in names:
            path = os.path.join(out_dir, f"{name}.parquet")
            rows, digest = con.execute(
                f"SELECT count(*), sum(hash(t)::HUGEINT) FROM read_parquet('{path}') t"
            ).fetchone()
            out[name] = {"rows": int(rows), "hash": str(digest)}
    finally:
        con.close()
    return out


def generate(out_dir: str, sf: float) -> dict[str, dict]:
    """Write every table under ``out_dir`` and return their row counts/hashes."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return content_hashes(out_dir, list(tables))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--compare", metavar="DIR",
                    help="fail unless every table matches DIR's by content hash")
    args = ap.parse_args(argv)
    tables = generate(args.out_dir, args.sf)
    json.dump(tables, sys.stdout)
    print()
    if args.compare:
        other = content_hashes(args.compare, list(tables))
        differ = [name for name in tables if tables[name] != other[name]]
        if differ:
            print(f"differ from {args.compare}: {' '.join(differ)}", file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
