#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables of the engine's test schema (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one `<table>.parquet` file each, with the row ratios of the
engine's scale-study generator: lineitem = 6M*sf rows, orders = li/4,
customers = orders/10, parts = li/30, suppliers = max(10, li/600),
events = li/6, users = max(15, events/66), documents = max(500, 50k*sf),
embeddings = max(500, 20k*sf). Every 10th document is a near-duplicate of
its predecessor (the same words plus three more).

Every value is drawn from one numpy generator seeded with `--seed`, so a
seed always gives the same files. `--layout single` writes each table as
one parquet row group; `--layout many` splits every table of at least
`2 * MANY_GROUPS` rows into MANY_GROUPS row groups (still one file).

Usage: gen.py --seed N --sf F --layout single|many --out DIR
"""
import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANY_GROUPS = 16

VOCAB = np.array([
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "key", "agg", "slow", "fast", "table", "value", "part", "a", "the",
    "merge", "window", "spark", "order", "data", "small", "line", "query",
    "sort", "group", "index", "shuffle", "cache", "disk"])
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
STATUSES = np.array(["P", "O", "F"])
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJS = np.array(["small", "red", "blue", "hot", "old", "large", "green", "new"])
NOUNS = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "cog", "pin"])
PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"])

DAY_US = 86400 * 1_000_000
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def sizes(sf):
    n_li = int(6_000_000 * sf)
    n_orders = n_li // 4
    n_events = n_li // 6
    return {
        "lineitem": n_li, "orders": n_orders, "customer": n_orders // 10,
        "part": n_li // 30, "supplier": max(10, n_li // 600),
        "events": n_events, "users": max(15, n_events // 66),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def money(x):
    return np.round(x, 2)


def documents(rng, n):
    texts = []
    for i in range(n):
        if i % 10 == 9:
            words = texts[i - 1].split(" ")
            words += list(VOCAB[rng.integers(0, len(VOCAB), 3)])
        else:
            u = rng.random(rng.integers(8, 91))
            words = list(VOCAB[np.minimum((u * u * len(VOCAB)).astype(int),
                                          len(VOCAB) - 1)])
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n):
    label = np.arange(n) % 10
    centers = rng.normal(0, 0.2, (10, 64))
    vecs = (centers[label] + rng.normal(0, 0.1, (n, 64))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def events(rng, n, n_users):
    span = 30 * DAY_US
    ts = (np.arange(n, dtype=np.int64) * (span // max(n, 1))
          + (rng.random(n) * 6e7).astype(np.int64))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": money(np.minimum(500.0, np.exp(rng.normal(3.54, 1.0, n)))),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })


def days(rng, n):
    return EPOCH_1992 + (rng.integers(0, 2500, n) * DAY_US).astype("timedelta64[us]")


def orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": money(1000.0 + rng.random(n) * 450000.0),
        "o_orderdate": days(rng, n),
        "o_orderpriority": PRIOS[rng.integers(0, 5, n)],
    })


def lineitem(rng, n, n_orders, n_parts, n_supp):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(qty * (900.0 + rng.random(n) * 1000.0)),
        "l_discount": money(rng.random(n) * 0.1),
        "l_tax": money(rng.random(n) * 0.08),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": days(rng, n),
    })


def customer(rng, n):
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": ids,
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": money(-999.0 + rng.random(n) * 10000.0),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)],
    })


def part(rng, n):
    ids = np.arange(n, dtype=np.int64)
    names = np.char.add(np.char.add(ADJS[rng.integers(0, len(ADJS), n)], " "),
                        NOUNS[rng.integers(0, len(NOUNS), n)])
    return pa.table({
        "p_partkey": ids,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": PTYPES[rng.integers(0, len(PTYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": money(900.0 + (ids % 1000) / 10.0),
    })


def supplier(rng, n):
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": ids,
        "s_name": [f"Supplier#{i:09d}" for i in ids],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": money(-1000.0 + rng.random(n) * 11000.0),
    })


def generate(seed, sf, layout, out):
    n = sizes(sf)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, n["documents"]),
        "embeddings": embeddings(rng, n["embeddings"]),
        "events": events(rng, n["events"], n["users"]),
        "orders": orders(rng, n["orders"], n["customer"]),
        "lineitem": lineitem(rng, n["lineitem"], n["orders"], n["part"], n["supplier"]),
        "customer": customer(rng, n["customer"]),
        "part": part(rng, n["part"]),
        "supplier": supplier(rng, n["supplier"]),
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables.items():
        rows = max(t.num_rows, 1)
        if layout == "many" and rows >= 2 * MANY_GROUPS:
            group = -(-rows // MANY_GROUPS)
        else:
            group = rows
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=group)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--layout", choices=["single", "many"], required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.sf, a.layout, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
