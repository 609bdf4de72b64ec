"""Seeded synthetic fixture tables for the benchmark.

Same table names, schemas and value domains as the engine's TPC-H-ish
fixtures (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), one parquet file per table, generated
from a seed so a run needs nothing outside its checkout. At sf 0.1
orders has 150k rows and lineitem 600k, about 17 MB on disk.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
COLORS = "blue red green small big black white gold".split()
NOUNS = "anvil widget bolt ring gear valve spring plate".split()
EPOCH_1995 = np.datetime64("1995-01-01", "ms")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders(rng, sf):
    n = int(1_500_000 * sf)
    ncust = int(150_000 * sf)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ncust, n, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2405, n).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    })


def tables(seed, sf):
    """All fixture tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    ncust, nsupp, npart = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    nord, nline = int(1_500_000 * sf), int(6_000_000 * sf)
    nev, ndoc, nemb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        "customer": pa.table({
            "c_custkey": np.arange(ncust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
            "c_nationkey": rng.integers(0, 25, ncust, dtype=np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, ncust),
            "c_mktsegment": rng.choice(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), ncust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(nsupp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
            "s_nationkey": rng.integers(0, 25, nsupp, dtype=np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, nsupp)}),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{COLORS[c]} {NOUNS[m]}" for c, m in
                       zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), npart),
            "p_size": rng.integers(1, 51, npart, dtype=np.int32),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0}),
        "orders": orders(rng, sf),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, nord, nline, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nline, dtype=np.int64),
            "l_suppkey": rng.integers(0, nsupp, nline, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nline, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, nline).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, nline),
            "l_discount": np.round(rng.uniform(0.0, 0.1, nline), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nline), 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nline),
            "l_linestatus": rng.choice(np.array(["F", "O"]), nline),
            "l_shipdate": (np.datetime64("1995-01-02", "ms")
                           + rng.integers(0, 2499, nline).astype("timedelta64[D]"))}),
        "events": pa.table({
            "event_id": np.arange(nev, dtype=np.int64),
            "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * 86_400_000_000, nev))
            .astype("timedelta64[us]"),
            "user_id": rng.integers(0, int(15_000 * sf), nev, dtype=np.int64),
            "event_type": rng.choice(np.array(
                ["click", "error", "purchase", "signup", "view"]), nev),
            "value": np.round(rng.exponential(50.0, nev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]}),
    }
    out["documents"] = _documents(rng, ndoc)
    vecs = rng.standard_normal((nemb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nemb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nemb, dtype=np.int32)})
    return out


def _documents(rng, n):
    # 5% near-duplicates (an earlier document plus a trailing word) and a
    # few exact duplicates, so the dedup operators have work to find
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.0516:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 101))))
    langs = rng.choice(np.array(["en", "de", "es", "fr", "zh"]), n,
                       p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(out_dir, tabs):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
