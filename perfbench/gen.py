"""Seeded generator for the batch workloads' input tables.

Writes the ten tables the engine's queries read (`graft.Tables.all`) as
single-row-group parquet files, in the shape of the engine's test data:
a TPC-H-like star schema, an `events` table in time order, a
`documents` corpus with 5% planted near-duplicates, and 64-d unit
`embeddings`. RATIONALE.md compares the tables with that test data.
The same seed always gives byte-identical tables.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the engine's sf0.01 shape (documents and embeddings are
# fixed-size corpora there too).
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
EVENT_USERS = 150
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
DUP_SHARE = 0.05


def _ts_us(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    out = {}
    day_us = 86_400 * 1_000_000

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "HOUSEHOLD", "BUILDING"], n),
    })

    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    n = ROWS["part"]
    adj = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
    noun = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(adj, n), rng.choice(noun, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })

    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n) * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    })

    n = ROWS["lineitem"]
    flags = rng.integers(0, 6, n)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["O", "F"])[flags % 2],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n) * day_us),
    })

    n = ROWS["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        # In time order, as in the engine's test data.
        "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n))),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view",
                                  "purchase"], n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    # Documents: random texts of 10-99 words over a small vocabulary;
    # DUP_SHARE of them are then overwritten, one after another, by a
    # re-crawl of another document (anywhere in the corpus) with a
    # one-word footer: the shape the near-duplicate queries look for.
    n = ROWS["documents"]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in rng.choice(n, round(n * DUP_SHARE), replace=False):
        j = (int(i) + int(rng.integers(1, n))) % n
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], n,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return out


def main(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(t) + 1)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
