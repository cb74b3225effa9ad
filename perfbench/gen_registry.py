"""Seeded generator for the registry's ten driver tables.

Column names, types and value domains follow the driver fixtures the
registry queries are written against (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``).  ``sf`` scales the
TPC-H tables and ``events`` like TPC-H does; the document and vector
tables keep the driver's small fixed sizes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "small", "big", "black", "white")
NOUNS = ("widget", "bolt", "ring", "gear", "spring", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a the data table row column key value join merge sort scan filter "
    "group agg window batch stream spark query order line part customer "
    "fast slow big small hash vector"
).split()
N_DOCS = 500
N_SOURCES = 20
N_VECS = 500
DIM = 64


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + n.astype("timedelta64[D]")


def generate(outdir: str, sf: float, seed: int) -> None:
    """Write the ten tables as ``{outdir}/{table}.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    ts = lambda a: pa.array(a, pa.timestamp("us"))
    tables = {
        "region": pa.table({
            "r_regionkey": i32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }),
        "customer": pa.table({
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": i64(np.arange(n_part)),
            "p_name": [f"{c} {w}" for c, w in zip(pick(COLORS, n_part),
                                                   pick(NOUNS, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts(_days("1995-01-01", rng.integers(0, 2405, n_ord))),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": ts(_days("1995-01-02", rng.integers(0, 2499, n_line))),
        }),
    }

    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": ts(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, 150, n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    texts = [" ".join(pick(WORDS, int(n))) for n in rng.integers(10, 100, N_DOCS)]
    tables["documents"] = pa.table({
        "doc_id": i64(np.arange(N_DOCS)),
        "text": texts,
        "lang": pick(LANGS, N_DOCS),
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": i64([len(t) for t in texts]),
    })

    vecs = rng.normal(0, 0.1, (N_VECS, DIM)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": i64(np.arange(N_VECS)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, N_VECS)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys

    out, seed, sf = sys.argv[1:4]
    generate(out, float(sf), int(seed))
