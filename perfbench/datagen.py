"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the schemas and value domains of the repository's TPC-H-style
test data. Row counts scale with ``size``, where ``size=0.1`` gives the
row counts of the sf0.1 test tables (600k lineitems).

The generator depends on numpy and pyarrow only; it never imports the engine,
so the inputs cannot drift with the code under test. Output is cached per
(seed, size, ``GEN_VERSION``): bump ``GEN_VERSION`` whenever the generated
content changes.

    python3 perfbench/datagen.py --seed 1 --size 0.05 --out perfbench/_work/data
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# rows per unit of size (size 0.1 -> the sf0.1 test tables)
_ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_EVENT_USERS_PER_SF = 15_000

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ORDER_STATUS = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_DUP_SHARE = 0.05  # documents that copy another document's text + " dup"
_EMBED_DIM = 64
_N_LABELS = 10

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2_404   # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2_498    # 1995-01-02 .. 2001-11-04
_EVENT_DAYS = 30


def table_rows(size: float) -> dict[str, int]:
    rows = {t: max(1, int(round(n * size))) for t, n in _ROWS_PER_SF.items()}
    rows.update(region=5, nation=25)
    return rows


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days + 1, n) * _US_PER_DAY
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _region(rng, rows):
    return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(_REGIONS)})


def _nation(rng, rows):
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": pa.array(k),
                     "n_name": pa.array([f"NATION_{i}" for i in k]),
                     "n_regionkey": pa.array(k % 5)})


def _customer(rng, rows):
    n = rows["customer"]
    return pa.table({
        "c_custkey": _keys(n),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })


def _supplier(rng, rows):
    n = rows["supplier"]
    return pa.table({
        "s_suppkey": _keys(n),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, rows):
    n = rows["part"]
    k = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJECTIVES for b in _NOUNS]
    return pa.table({
        "p_partkey": pa.array(k),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (k % 1000) / 10, 1)),
    })


def _orders(rng, rows):
    n = rows["orders"]
    return pa.table({
        "o_orderkey": _keys(n),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n)),
        "o_orderstatus": _pick(rng, _ORDER_STATUS, n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, _EPOCH_1995, _ORDER_DAYS, n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def _lineitem(rng, rows):
    n = rows["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, _EPOCH_1995 + _US_PER_DAY, _SHIP_DAYS, n),
    })


def _events(rng, rows):
    n = rows["events"]
    users = max(1, int(round(_EVENT_USERS_PER_SF * rows["events"] / _ROWS_PER_SF["events"])))
    ts = np.sort(_EPOCH_2024 + rng.integers(0, _EVENT_DAYS * _US_PER_DAY, n))
    return pa.table({
        "event_id": _keys(n),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, rows):
    n = rows["documents"]
    words = np.asarray(_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), m)]) for m in lengths]
    dups = rng.choice(n, int(n * _DUP_SHARE), replace=False)
    for d in dups:
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, rows):
    n = rows["embeddings"]
    v = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), _EMBED_DIM)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, _N_LABELS, n, dtype=np.int32)),
    })


_BUILDERS = {name: globals()[f"_{name}"] for name in TABLES}


def build_tables(seed: int, size: float) -> dict[str, pa.Table]:
    rows = table_rows(size)
    return {name: _BUILDERS[name](np.random.default_rng([seed, i]), rows)
            for i, name in enumerate(TABLES)}


def dataset_dir(root: str, seed: int, size: float) -> str:
    return os.path.join(root, f"v{GEN_VERSION}-size{size:g}-seed{seed}")


def ensure_dataset(root: str, seed: int, size: float) -> str:
    """Return the directory holding the tables for (seed, size), generating
    them first when no finished copy is cached under ``root``."""
    out = dataset_dir(root, seed, size)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed, size).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=float, required=True)
    ap.add_argument("--out", required=True, help="cache root directory")
    args = ap.parse_args(argv)
    print(ensure_dataset(args.out, args.seed, args.size))
    return 0


if __name__ == "__main__":
    sys.exit(main())
