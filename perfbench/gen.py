"""Seeded input generator for the graft benchmark.

Writes the ten parquet tables the registry reads (a TPC-H-shaped star
schema plus `events`, `documents` and `embeddings`) with the column
names, types and value domains of the project's test corpus, so every
registry key and its DuckDB oracle run unchanged. The same seed and
scale always give byte-identical tables.

    python3 perfbench/gen.py --seed 7 --scale registry --out /path/to/dir
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table for each workload's corpus: small enough that a run's
# timed phase covers many operations, large enough that every operator
# finds work (duplicates, joins with matches, several snapshot days)
SCALES = {
    "registry": dict(customer=300, supplier=40, part=400, orders=2000,
                     events=2000, documents=400, embeddings=100, days=30),
    "inventory": dict(customer=150, supplier=20, part=200, orders=1000,
                      events=10000, documents=100, embeddings=100, days=30,
                      nodes=4),
}

# the corpus each benchmark workload reads
WORKLOAD_SCALE = {
    "syncer_lifecycle": "inventory",
    "registry_queries": "registry",
}

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column query big small order join "
         "filter group stream customer vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PCOLORS = ["small", "red", "blue", "green", "black", "white", "large"]
PNOUNS = ["ring", "widget", "bolt", "nut", "gear", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
TS = pa.timestamp("us")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days_since(base, offsets):
    b = np.datetime64(base, "us")
    return b + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def star(rng, out, n):
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    write(out, "customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist()})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    write(out, "part", {
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{rng.choice(PCOLORS)} {rng.choice(PNOUNS)}" for _ in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    odate = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    write(out, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(days_since("1995-01-01", odate), TS),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist()})
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(okey)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 100000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(days_since("1995-01-02",
                                          odate[okey] + rng.integers(0, 95, nl)), TS)})


def events(rng, out, n, days, nodes=10):
    # arrivals spread over `days` snapshot days: one SSTable component
    # landing per event in the sync model (FileInventory); value is
    # money-shaped (two decimals) and exponential with mean ~50, so the
    # derived file sizes average ~50 KB. The sync model puts user u on
    # node u % 10; `nodes` < 10 draws users from that many nodes only
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = days * 86_400_000_000
    offs = np.sort(rng.integers(0, span, n))
    write(out, "events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts0 + offs.astype("timedelta64[us]"), TS),
        "user_id": pa.array(rng.integers(0, 15, n) * 10 + rng.integers(0, nodes, n),
                            pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, out, n):
    # exactly 10% exact copies and 15% near copies (a few words swapped)
    # of earlier documents, at seeded positions, so every dedup operator
    # has clusters to find and every seed gives the same amount of work
    kind = np.zeros(n, dtype=int)
    later = rng.permutation(np.arange(10, n))
    kind[later[:n // 10]] = 1
    kind[later[n // 10:n // 10 + (15 * n) // 100]] = 2
    texts = []
    for i in range(n):
        if kind[i] == 1:
            t = texts[rng.integers(0, i)]
        elif kind[i] == 2:
            w = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(w), max(1, len(w) // 12)):
                w[j] = WORDS[rng.integers(0, len(WORDS))]
            t = " ".join(w)
        else:
            t = " ".join(rng.choice(WORDS, rng.integers(10, 90)))
        texts.append(t)
    write(out, "documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, out, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vecs = pa.array(list(v.astype(np.float32)), pa.list_(pa.float32()))
    write(out, "embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": vecs,
        "label": pa.array(label, pa.int32())})


def generate(seed, scale, out):
    n = SCALES[scale]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    star(rng, out, n)
    events(np.random.default_rng([seed, 2]), out, n["events"], n["days"],
           n.get("nodes", 10))
    documents(np.random.default_rng([seed, 3]), out, n["documents"])
    embeddings(np.random.default_rng([seed, 4]), out, n["embeddings"])


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", choices=sorted(SCALES), required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.scale, a.out)
