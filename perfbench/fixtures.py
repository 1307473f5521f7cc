"""Seeded analytics tables in the shape of the program's sf0.01 fixtures.

Ten parquet tables with the column names and types the program's fixture
guard expects (``region nation customer supplier part orders lineitem
events documents embeddings``) and the row counts and value domains of the
sf0.01 test data: uniform keys, TPC-H-like flags and dates, a 30-word
document vocabulary with 26 planted near-duplicates (a copy of another
document plus the word ``dup``), and 64-dimensional float embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 0.01
SF001 = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order"
    " vector line table data agg value key stream window a spark part group"
    " big sort query fast the"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]


def _ts(days: np.ndarray, base: str) -> pa.Array:
    us = np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten tables; ``scale`` multiplies the sf0.01 row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(10, int(v * scale)) for k, v in SF001.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npt = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npt, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npt)],
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, npt)],
        "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npt) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, no), "1995-01-01"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npt, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng.integers(1, 2500, nl), "1995-01-01"),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, ne),
        "event_type": np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)])
        for k in rng.integers(10, 100, nd)
    ]
    copies = rng.choice(nd, size=min(26, nd // 2) * 2, replace=False)
    for dst, src in copies.reshape(-1, 2):
        texts[dst] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "de", "fr"])[rng.integers(0, 7, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], np.int64),
    })
    nv = n["embeddings"]
    vec = rng.normal(0, 0.1, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
            pa.list_(pa.field("element", pa.float32()))
        ),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
