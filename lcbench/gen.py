#!/usr/bin/env python3
"""Seeded input generator for the lcbench workloads.

Usage: python3 lcbench/gen.py --out DIR --seed N --sf SF [--replicas R]

Writes the ten fixture tables (region nation customer supplier part orders
lineitem events documents embeddings), one parquet file each, with the same
column names and physical types as the driver fixtures (FIXTURES.md), and
prints one JSON line with each table's rows and bytes.

How the seed enters, following ScaleStage's discipline:
  * The base content at `sf` is drawn from a FIXED base seed, so every
    run seed sees the same shapes, sizes and skews; timings differ by seed
    only through what the seed changes below.
  * `--replicas R` unions R copies with disjoint key spaces (one stride per
    key DOMAIN, shared by every column drawing from it) and word-salts the
    documents of replica i >= 1 (`w` -> `wx<i>`), so replicas are not
    near-duplicates of each other.
  * The run seed then (a) shifts every key domain by a seeded offset,
    modulo the domain's extent (the smallest extent among the columns that
    share it), so the key space stays dense and zero-based as the fixtures
    are -- several operators derive bucket widths and base slices from it --
    while every key moves, (b) permutes the row order of every table, and
    (c) relabels document tokens through a seeded one-to-one map of the
    vocabulary, so Jaccard structure is kept while the LSH buckets move.
  * Every foreign key is checked against its dimension before writing.
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
VOCAB = ("a the data row column table key value part line order customer "
         "join filter group sort merge scan hash agg window stream batch "
         "query spark vector big small fast slow").split()
DUP = "dup"
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
ADJS = "blue cold hot large new old red small".split()
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
ROW_GROUP_ROWS = 65_536


def ts_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def base_tables(sf):
    """Fixture-shaped tables at scale `sf`, keys dense from 0."""
    r = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_line, n_ev = max(600, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    n_users = max(3, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(REGIONS, dtype=object)}
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": nk,
                   "n_name": np.array([f"NATION_{i}" for i in nk], dtype=object),
                   "n_regionkey": (nk % 5).astype(np.int32)}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": np.array([f"Customer#{i:09d}" for i in ck], dtype=object),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[r.integers(0, 5, n_cust)]}
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": np.array([f"Supplier#{i:09d}" for i in sk], dtype=object),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{ADJS[a]} {NOUNS[b]}" for a, b in
             zip(r.integers(0, len(ADJS), n_part), r.integers(0, len(NOUNS), n_part))]
    t["part"] = {
        "p_partkey": pk, "p_name": np.array(names, dtype=object),
        "p_brand": np.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)], dtype=object),
        "p_type": np.array(TYPES, dtype=object)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}
    ok = np.arange(n_ord, dtype=np.int64)
    d0, d1 = ts_us(1995, 1, 1), ts_us(2001, 8, 1)
    t["orders"] = {
        "o_orderkey": ok, "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": d0 + r.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[r.integers(0, 5, n_ord)]}
    s0, s1 = ts_us(1995, 1, 2), ts_us(2001, 11, 4)
    t["lineitem"] = {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[r.integers(0, 2, n_line)],
        "l_shipdate": s0 + r.integers(0, (s1 - s0) // DAY_US + 1, n_line) * DAY_US}
    e0 = ts_us(2024, 1, 1)
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": e0 + np.sort(r.integers(0, 30 * DAY_US, n_ev)),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], dtype=object)}
    # Documents: iid tokens over VOCAB; one in twenty is an earlier
    # document with " dup" appended (the fixture's near-duplicate shape).
    texts = []
    for i in range(n_docs):
        if i >= 20 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " " + DUP)
        else:
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(10, 100)))]))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": np.array(texts, dtype=object),
        "lang": np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), n_docs)],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object)}
    x = r.standard_normal((n_vecs, 64)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": x / np.linalg.norm(x, axis=1, keepdims=True),
        "label": r.integers(0, 10, n_vecs).astype(np.int32)}
    return t


# Key domains: every column drawing from one key space shifts together.
DOMAINS = {
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey"), ("events", "user_id")],
    "supp": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "doc": [("documents", "doc_id"), ("embeddings", "vec_id")],
    "event": [("events", "event_id")],
}
DIMENSIONS = ("region", "nation")
FOREIGN_KEYS = [  # (fact, column, dimension, key)
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("embeddings", "vec_id", "documents", "doc_id"),
]


def replicate(t, replicas):
    if replicas == 1:
        return t
    stride = {d: max(int(t[tb][c].max()) for tb, c in cols) + 1 for d, cols in DOMAINS.items()}
    col_dom = {(tb, c): d for d, cols in DOMAINS.items() for tb, c in cols}
    out = {}
    for name, cols in t.items():
        if name in DIMENSIONS:
            out[name] = cols
            continue
        reps = []
        for i in range(replicas):
            rep = {}
            for c, v in cols.items():
                d = col_dom.get((name, c))
                if d is not None:
                    v = v + np.int64(i * stride[d])
                elif name == "documents" and c == "text" and i > 0:
                    v = np.array([" ".join(f"{w}x{i}" for w in s.split()) for s in v], dtype=object)
                rep[c] = v
            reps.append(rep)
        out[name] = {c: np.concatenate([rp[c] for rp in reps]) for c in cols}
    return out


def apply_seed(t, seed):
    r = np.random.default_rng(seed)
    for d, cols in DOMAINS.items():
        n = min(int(t[tb][c].max()) + 1 for tb, c in cols)
        off = int(r.integers(1, n))
        for tb, c in cols:
            v = t[tb][c]
            t[tb][c] = np.where(v < n, (v + off) % n, v).astype(v.dtype)
    # One-to-one token relabeling: a seeded permutation of the base
    # vocabulary (replica salts ride along as suffixes).
    perm = dict(zip(VOCAB + [DUP], list(np.array(VOCAB + [DUP])[r.permutation(len(VOCAB) + 1)])))

    def relabel(w):
        base, sep, rest = w.partition("x") if w not in perm else (w, "", "")
        return perm.get(base, base) + sep + rest

    docs = t["documents"]
    docs["text"] = np.array([" ".join(relabel(w) for w in s.split()) for s in docs["text"]], dtype=object)
    docs["n_chars"] = np.array([len(s) for s in docs["text"]], dtype=np.int64)
    for name, cols in t.items():
        n = len(next(iter(cols.values())))
        p = r.permutation(n)
        t[name] = {c: v[p] for c, v in cols.items()}
    return t


def check_foreign_keys(t):
    for fact, col, dim, key in FOREIGN_KEYS:
        missing = np.setdiff1d(np.unique(t[fact][col]), t[dim][key])
        if missing.size:
            raise SystemExit(f"gen: {fact}.{col} dangles: {missing.size} keys not in {dim}.{key}")


SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                 ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                 ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
             ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
               ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                 ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                 ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                 ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())],
}


def write(t, out):
    os.makedirs(out, exist_ok=True)
    sizes = {}
    for name, fields in SCHEMAS.items():
        arrays = []
        for c, typ in fields:
            v = t[name][c]
            if c == "embedding":
                arrays.append(pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1), pa.float32()), 64).cast(typ))
            else:
                arrays.append(pa.array(v, typ))
        path = os.path.join(out, f"{name}.parquet")
        # Several row groups per file: Spark splits a file only at row-group
        # boundaries, so the larger tables scan in parallel.
        pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)), path,
                       row_group_size=ROW_GROUP_ROWS)
        sizes[name] = {"rows": len(t[name][fields[0][0]]), "bytes": os.path.getsize(path)}
    return sizes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--replicas", type=int, default=1)
    a = ap.parse_args()
    if a.replicas < 1 or a.sf <= 0:
        sys.exit("gen: --replicas must be >= 1 and --sf > 0")
    t = apply_seed(replicate(base_tables(a.sf), a.replicas), a.seed)
    check_foreign_keys(t)
    print(json.dumps(write(t, a.out)))


if __name__ == "__main__":
    main()
