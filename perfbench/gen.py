"""Seeded input tables for the batch workloads.

Writes the ten tables graft's queries read (`region` ... `embeddings`), one
parquet file each, with the column names and types of the repository's
synthetic star schema at scale factor 0.01 (60k lineitem rows, 500
documents). The seed drives every value; the same seed writes the same
bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def tables(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n["part"]),
                                              rng.choice(NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": _ts("1995-01-01", 2403, rng, n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        # rounded from a continuous draw: the two end values are half as
        # frequent as the others, as in the fixed set
        "l_discount": np.round(rng.uniform(0.0, 0.10, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts("1995-01-02", 2498, rng, m)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    t["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": start + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
             for _ in range(d)]
    # 5% near duplicates: another document (perhaps itself a copy) with one
    # word appended, at any position, so a copy may precede its original
    for i in rng.permutation(d)[:d // 20]:
        j = int(rng.integers(0, d - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = n["embeddings"]
    x = rng.standard_normal((v, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})
    return t


def write(seed: int, out_dir: str) -> None:
    """Write every table under `out_dir` (atomically: a finished directory
    is never partial)."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    import sys
    write(int(sys.argv[1]), sys.argv[2])
