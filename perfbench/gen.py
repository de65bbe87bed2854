"""Seeded input generation for the benchmark.

Everything here is a pure function of the seed and the sizes: the same
seed gives byte-identical parquet files and the same expected outputs.

* `cdc_inputs` writes the CDC workloads' base table and change sets in the
  shape of the star schema's `lineitem` table plus a `version` column.
* `suite_tables` writes the ten tables the query suite reads (TPC-H-like
  star schema, an `events` stream table, a `documents` text corpus and an
  `embeddings` table), mirroring the value domains of the engine's fixtures.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lineitem primary key domain at sf0.1: 150k orders x line numbers 1..7
ORDERS_SF01 = 150_000
LINES_PER_ORDER = 7
KEY_DOMAIN = ORDERS_SF01 * LINES_PER_ORDER

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000       # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000     # 2024-01-01T00:00:00Z


def rng_for(seed, stream):
    """An independent generator per (seed, stream name)."""
    return np.random.default_rng([seed, sum(ord(c) * 131 ** i for i, c in enumerate(stream)) % 2**32])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_rows(rng, keys, versions):
    """lineitem-shaped rows for key indices `keys` with the given versions."""
    n = len(keys)
    return pa.table({
        "l_orderkey": pa.array(keys // LINES_PER_ORDER, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(keys % LINES_PER_ORDER + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(1, 2500, n) * DAY_US,
                               pa.timestamp("us")),
        "version": pa.array(versions, pa.int64()),
    })


def trickle_keys(rng, rows, distinct):
    """`distinct` keys from the whole domain, then `rows - distinct` repeats
    of them, shuffled: every change set carries superseded versions."""
    keys = rng.choice(KEY_DOMAIN, distinct, replace=False)
    keys = np.concatenate([keys, rng.choice(keys, rows - distinct)])
    return rng.permutation(keys)


def cdc_inputs(out_dir, seed, *, n_sets, rows_per_set, base_rows):
    """Write the base table and `n_sets` change sets under `out_dir`.

    Versions are unique per row and increase across sets, so `(key, version)`
    names exactly one generated row. Returns (base path, [(path, table)])."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "cdc")
    base_keys = rng.choice(KEY_DOMAIN, base_rows, replace=False)
    base = lineitem_rows(rng, base_keys, np.zeros(base_rows, np.int64))
    base_path = os.path.join(out_dir, "base.parquet")
    pq.write_table(base, base_path)
    sets = []
    for i in range(n_sets):
        keys = trickle_keys(rng, rows_per_set, rows_per_set * 9 // 10)
        versions = 1 + i * rows_per_set + rng.permutation(rows_per_set)
        t = lineitem_rows(rng, keys, versions)
        path = os.path.join(out_dir, f"set{i:03d}.parquet")
        pq.write_table(t, path)
        sets.append((path, t))
    return base_path, sets


# ---------------------------------------------------------------- query suite

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
SUITE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 5 and r < 0.0016:
            texts.append(texts[i - 1 - int(rng.integers(0, 4))])
        elif i >= 5 and r < 0.05:
            toks = texts[i - 1 - int(rng.integers(0, 4))].split(" ")
            toks = [VOCAB[rng.integers(0, len(VOCAB))] if rng.random() < 1 / 15 else t
                    for t in toks]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 0.12, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = (centers[label] + rng.normal(0, 0.08, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def suite_tables(out_dir, seed, sf=0.01):
    """Write `<table>.parquet` for the query suite at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "suite")
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    adjectives = ["blue", "red", "hot", "cold", "small", "large", "old", "new"]
    nouns = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                              "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    li = lineitem_rows(rng, rng.integers(0, n_ord, n_line) * LINES_PER_ORDER
                       + rng.integers(0, LINES_PER_ORDER, n_line),
                       np.zeros(n_line, np.int64))
    li = li.drop(["version"])
    li = li.set_column(1, "l_partkey", pa.array(rng.integers(0, n_part, n_line), pa.int64()))
    li = li.set_column(2, "l_suppkey", pa.array(rng.integers(0, n_supp, n_line), pa.int64()))
    t["lineitem"] = li
    gaps = rng.exponential(30 * 86_400 / n_evt, n_evt)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(EPOCH_2024_US + (np.cumsum(gaps) * 1e6).astype(np.int64),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_evt),
        "value": _money(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
