"""Seeded synthetic tables for the operator-query workload.

Same schema and value distributions as the repository's TPC-H-like test
tables (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), generated from the workload seed at SCALE x the
sf0.1 row counts, so the benchmark reads no data from outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["large", "hot", "small", "cold", "dim", "bright", "old", "new"]
P_NOUN = ["ring", "bolt", "cap", "gear", "pin", "rod", "cog", "nut"]
DAY_US = 24 * 3600 * 10**6


def _ts(base: str, offsets_us) -> np.ndarray:
    return np.datetime64(base, "us") + np.asarray(offsets_us).astype("timedelta64[us]")


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in {
        "documents": 5000, "events": 100000, "users": 1500, "embeddings": 2000,
        "customer": 15000, "orders": 150000, "lineitem": 600000,
        "part": 20000, "supplier": 1000}.items()}
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n["documents"])
    words = vocab[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    doc_ids = np.arange(n["documents"], dtype=np.int64)
    out = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        "documents": pa.table({
            "doc_id": doc_ids, "text": texts,
            "lang": rng.choice(LANGS, n["documents"], p=LANG_P),
            "source": [f"src{i % 20}" for i in doc_ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": _ts("2024-01-01T00:00:00",
                      rng.integers(0, 30 * DAY_US, n["events"])),
            "user_id": rng.integers(0, n["users"], n["events"]).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"],
                                     n["events"]),
            "value": np.round(rng.uniform(0, 560, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]}),
        "embeddings": pa.table({
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(rng.normal(0, 0.12, (n["embeddings"], 64))
                                       .astype(np.float32)),
                                  type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                        "FURNITURE", "MACHINERY"], n["customer"])}),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n["orders"]),
            "o_totalprice": np.round(rng.uniform(900, 500000, n["orders"]), 2),
            "o_orderdate": _ts("1995-01-01T00:00:00",
                               rng.integers(0, 2405, n["orders"]) * DAY_US),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n["lineitem"]), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n["lineitem"]), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n["lineitem"]), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["O", "F"], n["lineitem"]),
            "l_shipdate": _ts("1995-01-01T00:00:00",
                              rng.integers(1, 2500, n["lineitem"]) * DAY_US)}),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{P_ADJ[i % 8]} {P_NOUN[(i // 8) % 8]}" for i in range(n["part"])],
            "p_brand": [f"Brand#{i % 25 + 1}" for i in range(n["part"])],
            "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO",
                                  "MEDIUM"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, n["part"]), 2)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2)}),
    }
    return out


def write(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
