"""Seeded generator for the benchmark's input tables.

Writes the star-schema tables the query workloads read (and the `orders`
table the ETL corpus is derived from) as one parquet file per table, with
the column names and physical types of the repository's test corpus
(TESTDATA.md) and its value distributions: uniform keys, two-decimal
prices, day-granular dates, the fixed region/nation/segment/type
vocabularies. One difference: a line item's supplier is one of its part's
four suppliers, as in TPC-H, where the test corpus draws it uniformly.
`events` and `documents` are not read by any benchmarked
query; they are written small so that `tools/check.py`, which opens every
table of the corpus, can run against the generated directory.

The same (seed, sf) always gives byte-identical values.

Usage: python3 perfbench/gen_tables.py <out_dir> <sf> <seed> [table ...]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
EMBEDDINGS = 500
EMBEDDING_DIM = 64
EVENTS = 1_000
DOCUMENTS = 100

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]


def _rows(name, sf):
    return max(1, int(round(ROWS_AT_SF1[name] * sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    """Uniform whole days in [first, last] as microsecond timestamps."""
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(np.int64)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, vocab, n):
    return np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), n)]


def _ids(n):
    return np.arange(n, dtype=np.int64)


def _table(columns):
    return pa.table({k: pa.array(v, type=t) for k, (v, t) in columns.items()})


def build(name, sf, rng):
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    if name == "region":
        return _table({"r_regionkey": (np.arange(5), i32), "r_name": (REGIONS, s)})
    if name == "nation":
        k = np.arange(25)
        return _table({"n_nationkey": (k, i32),
                       "n_name": ([f"NATION_{i}" for i in k], s),
                       "n_regionkey": (k % 5, i32)})
    if name == "customer":
        n = _rows(name, sf)
        return _table({"c_custkey": (_ids(n), i64),
                       "c_name": ([f"Customer#{i:09d}" for i in range(n)], s),
                       "c_nationkey": (rng.integers(0, 25, n), i32),
                       "c_acctbal": (_money(rng, -999.99, 9999.99, n), f64),
                       "c_mktsegment": (_pick(rng, SEGMENTS, n), s)})
    if name == "supplier":
        n = _rows(name, sf)
        return _table({"s_suppkey": (_ids(n), i64),
                       "s_name": ([f"Supplier#{i:09d}" for i in range(n)], s),
                       "s_nationkey": (rng.integers(0, 25, n), i32),
                       "s_acctbal": (_money(rng, -999.99, 9999.99, n), f64)})
    if name == "part":
        n = _rows(name, sf)
        names = _pick(rng, PART_ADJ, n) + " " + _pick(rng, PART_NOUN, n)
        return _table({"p_partkey": (_ids(n), i64),
                       "p_name": (names, s),
                       "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n)], s),
                       "p_type": (_pick(rng, PART_TYPES, n), s),
                       "p_size": (rng.integers(1, 51, n), i32),
                       "p_retailprice": (_money(rng, 900.0, 999.99, n), f64)})
    if name == "orders":
        n = _rows(name, sf)
        return _table({"o_orderkey": (_ids(n), i64),
                       "o_custkey": (rng.integers(0, _rows("customer", sf), n), i64),
                       "o_orderstatus": (_pick(rng, ["F", "O", "P"], n), s),
                       "o_totalprice": (_money(rng, 1000.0, 500000.0, n), f64),
                       "o_orderdate": (_days(rng, "1995-01-01", "2001-08-01", n), ts),
                       "o_orderpriority": (_pick(rng, PRIORITIES, n), s)})
    if name == "lineitem":
        n = _rows(name, sf)
        parts, supps = _rows("part", sf), _rows("supplier", sf)
        part = rng.integers(0, parts, n)
        # one of the part's four suppliers, by TPC-H's partsupp rule: the
        # part-supplier graph the loop queries walk has one shape for every
        # seed, so their round counts do not change with the seed
        supp = (part + rng.integers(0, 4, n) * (supps // 4 + part // supps)) % supps
        return _table({"l_orderkey": (rng.integers(0, _rows("orders", sf), n), i64),
                       "l_partkey": (part, i64),
                       "l_suppkey": (supp, i64),
                       "l_linenumber": (rng.integers(1, 8, n), i32),
                       "l_quantity": (rng.integers(1, 51, n).astype(np.float64), f64),
                       "l_extendedprice": (_money(rng, 900.0, 105000.0, n), f64),
                       "l_discount": (rng.integers(0, 11, n) / 100.0, f64),
                       "l_tax": (rng.integers(0, 9, n) / 100.0, f64),
                       "l_returnflag": (_pick(rng, ["A", "N", "R"], n), s),
                       "l_linestatus": (_pick(rng, ["F", "O"], n), s),
                       "l_shipdate": (_days(rng, "1995-01-02", "2001-11-04", n), ts)})
    if name == "embeddings":
        n = EMBEDDINGS
        labels = rng.integers(0, 10, n)
        centers = rng.normal(0.0, 1.0, (10, EMBEDDING_DIM))
        v = centers[labels] + rng.normal(0.0, 1.0, (n, EMBEDDING_DIM))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return _table({"vec_id": (_ids(n), i64),
                       "embedding": (list(v), pa.list_(pa.float32())),
                       "label": (labels, i32)})
    if name == "events":
        n = EVENTS
        return _table({"event_id": (_ids(n), i64),
                       "ts": (_days(rng, "2024-01-01", "2024-03-31", n), ts),
                       "user_id": (rng.integers(0, 100, n), i64),
                       "event_type": (_pick(rng, EVENT_TYPES, n), s),
                       "value": (_money(rng, 0.0, 100.0, n), f64),
                       "props": (["{}"] * n, s)})
    if name == "documents":
        n = DOCUMENTS
        text = _pick(rng, PART_ADJ, n) + " " + _pick(rng, PART_NOUN, n)
        return _table({"doc_id": (_ids(n), i64),
                       "text": (text, s),
                       "lang": (["en"] * n, s),
                       "source": (_pick(rng, ["web", "news"], n), s),
                       "n_chars": (np.array([len(t) for t in text]), i64)})
    raise ValueError(f"unknown table {name}")


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "embeddings", "events", "documents"]


def generate(out_dir, sf, seed, tables=TABLES):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        # one stream per table: adding or skipping a table leaves the others unchanged
        rng = np.random.default_rng([seed, i])
        pq.write_table(build(name, sf, rng), out / f"{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), sys.argv[4:] or TABLES)
