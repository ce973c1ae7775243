#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas of FIXTURES.md section B. The same (seed, scale) always
produces byte-identical files, so query fingerprints recorded once stay
valid. `scale` multiplies the sf0.001 row counts (scale 1 = 6,000 lineitem
rows).

Usage: gen_tables.py <outDir> <seed> <scale>
"""
import datetime as dt
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group filter vector dup").split()
LANGS = ["en"] * 6 + ["de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = "small red blue cold hot old new large".split()
NOUN = "ring widget bolt anvil plate gear rod gizmo".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30, compression="snappy")


def tables(out, seed, scale):
    r = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_orders, n_events = 1500 * scale, 1000 * scale

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]})
    prices = [round(900 + (i % 200) / 10, 1) for i in range(n_part)]
    write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [r.choice(PTYPES) for _ in range(n_part)],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": prices})

    epoch = dt.datetime(1995, 1, 1)
    o_dates = [epoch + dt.timedelta(days=r.randrange(2400)) for _ in range(n_orders)]
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    totals = []
    for o in range(n_orders):
        total = 0.0
        for ln in range(1, r.randint(1, 7) + 1):
            pk = r.randrange(n_part)
            qty = float(r.randint(1, 50))
            ext = round(qty * prices[pk], 2)
            total += ext
            li["l_orderkey"].append(o)
            li["l_partkey"].append(pk)
            li["l_suppkey"].append(r.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(ext)
            li["l_discount"].append(r.randint(0, 10) / 100)
            li["l_tax"].append(r.randint(0, 8) / 100)
            li["l_returnflag"].append(r.choice("ANR"))
            li["l_linestatus"].append(r.choice("FO"))
            li["l_shipdate"].append(o_dates[o] + dt.timedelta(days=r.randint(1, 121)))
        totals.append(round(total, 2))
    write(out, "orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": totals,
        "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n_orders)]})
    li["l_orderkey"] = pa.array(li["l_orderkey"], pa.int64())
    li["l_partkey"] = pa.array(li["l_partkey"], pa.int64())
    li["l_suppkey"] = pa.array(li["l_suppkey"], pa.int64())
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    write(out, "lineitem", li)

    write(out, "events", events(r, n_events, max(15, 15 * scale)))

    docs = []
    for i in range(500):
        if docs and r.random() < 0.06:  # near-duplicate of an earlier doc
            words = r.choice(docs).split()
            words[r.randrange(len(words))] = r.choice(WORDS)
        else:
            words = [r.choice(WORDS) for _ in range(r.randint(20, 90))]
        docs.append(" ".join(words))
    write(out, "documents", {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": docs,
        "lang": [r.choice(LANGS) for _ in range(500)],
        "source": [f"src{r.randrange(20)}" for _ in range(500)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})

    centroids = [[r.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(500):
        lab = r.randrange(10)
        v = [c + r.gauss(0, 0.8) for c in centroids[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    write(out, "embeddings", {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def events(r, n, users):
    """The `events` table: also the source of the streaming message bodies."""
    ts, t = [], dt.datetime(2024, 1, 1)
    for _ in range(n):
        t += dt.timedelta(microseconds=r.randrange(1, 2 * 86400 * 30 * 10**6 // n))
        ts.append(t)
    return {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([r.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(r.expovariate(1 / 50), 2) for _ in range(n)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n)]}


if __name__ == "__main__":
    tables(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
