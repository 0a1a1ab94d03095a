"""Deterministic generator for the warehouse/corpus tables the sweep
workloads read.

The tables have the schemas of the project's generated test data
(`region nation customer supplier part orders lineitem events documents
embeddings`, see TESTDATA.md and FIXTURES.md): independent uniform
columns over the same value ranges, with consistent foreign keys, plus a
share of exact and near-duplicate documents so the dedup operators have
clusters to find. The table data is fixed by `DATA_SEED`; the workload
seed only permutes the query order, so the committed output digests
stay valid for every seed.

    python3 perfbench/gen_tables.py <out_dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
DEFAULT_SCALE = 0.01

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(base, offsets, unit):
    """Microsecond timestamps `base + offsets` (offsets in `unit`)."""
    epoch = np.datetime64(base, "us")
    return pa.array(epoch + offsets.astype(f"timedelta64[{unit}]"),
                    type=pa.timestamp("us"))


def _cents(x):
    return np.round(x, 2)


def tables(scale=DEFAULT_SCALE):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_doc = max(200, int(50_000 * scale))
    n_emb = max(200, int(50_000 * scale))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp))})
    retail = _cents(900.0 + (np.arange(n_part) % 1000) * 0.1)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", order_days, "D"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * retail[l_part]),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line), "D")})
    evt_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts("2024-01-01", evt_us, "us"),
        "user_id": rng.integers(0, n_cust // 10, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": _cents(rng.exponential(50.0, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.07:  # near duplicate: two words swapped out
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 110)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def write(out_dir, scale=DEFAULT_SCALE):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2
          else DEFAULT_SCALE)
