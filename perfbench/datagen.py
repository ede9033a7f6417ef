"""Seeded input tables for the benchmark.

The tables have the schemas of the engine's scale-factor datasets (one
parquet file per table, the layout `graft.Tables` loads), so every
registered query and its DuckDB oracle run on them unchanged. Their
value distributions are fitted to the engine's sf0.1 dataset: the
figures below are what `fit_inputs.py` measures there (README.md lists
them). Values are drawn from `random.Random(seed)`: the same seed gives
byte-identical inputs, and a different seed gives different rows with
the same shape and size.
"""
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. They are chosen so one run (set-up, warm-up,
# timed window and output checks) stays well inside the run budget on a
# 4-core host; README.md records the resulting per-operation latencies.
# Between tables they keep sf0.1's ratios: 10 orders a customer, 4 line
# items an order, 2 parts per 15 orders, 1 supplier per 150 orders.
SIZES = {
    "listing_cycle": dict(orders=8000, customer=800, part=1070,
                          events=8000, documents=300),
    "index_maintenance": dict(documents=600, embeddings=600,
                              orders=1500, lineitem=6000, customer=150,
                              supplier=10),
}

# sf0.1 documents: 30 words drawn uniformly (each 3.3% of the tokens),
# 10 to 100 words a document, uniformly; 5% of the documents are another
# document's text with " dup" appended; 41% "en" and 15% each of the
# other four languages; source = doc_id % 20.
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DOC_WORDS = (10, 100)
DUP_SHARE = 0.05
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14)]
# sf0.1 part names: one of 8 adjectives and one of 8 nouns; retail price
# 900.0 to 999.9 in steps of 0.1
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
# sf0.1 events.value: exponential, median 34.8 (mean 50)
EVENT_VALUE_MEAN = 50.0
STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]


def _ts(base, seconds):
    return base + dt.timedelta(seconds=seconds)


def orders(r, n, customers):
    base = dt.datetime(1995, 1, 1)
    return pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([r.randrange(customers) for _ in range(n)],
                              pa.int64()),
        "o_orderstatus": [r.choice(STATUS) for _ in range(n)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n)],
        "o_orderdate": pa.array(
            [_ts(base, 86400 * r.randrange(2400)) for _ in range(n)],
            pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITY) for _ in range(n)],
    })


def lineitem(r, n, n_orders, parts, suppliers):
    base = dt.datetime(1995, 1, 1)
    return pa.table({
        "l_orderkey": pa.array([r.randrange(n_orders) for _ in range(n)],
                               pa.int64()),
        "l_partkey": pa.array([r.randrange(parts) for _ in range(n)],
                              pa.int64()),
        "l_suppkey": pa.array([r.randrange(suppliers) for _ in range(n)],
                              pa.int64()),
        "l_linenumber": pa.array([r.randrange(1, 8) for _ in range(n)],
                                 pa.int32()),
        "l_quantity": [float(r.randrange(1, 51)) for _ in range(n)],
        "l_extendedprice": [round(r.uniform(900, 100000), 2)
                            for _ in range(n)],
        "l_discount": [r.randrange(11) / 100 for _ in range(n)],
        "l_tax": [r.randrange(9) / 100 for _ in range(n)],
        "l_returnflag": [r.choice("NAR") for _ in range(n)],
        "l_linestatus": [r.choice("OF") for _ in range(n)],
        "l_shipdate": pa.array(
            [_ts(base, 86400 * r.randrange(2500)) for _ in range(n)],
            pa.timestamp("us")),
    })


def customer(r, n):
    return pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:06d}" for i in range(n)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n)],
                                pa.int32()),
        "c_acctbal": [round(r.uniform(-999, 9999), 2) for _ in range(n)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n)],
    })


def supplier(r, n):
    return pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:06d}" for i in range(n)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n)],
                                pa.int32()),
        "s_acctbal": [round(r.uniform(-999, 9999), 2) for _ in range(n)],
    })


def part(r, n):
    return pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}"
                   for _ in range(n)],
        "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(n)],
        "p_type": [r.choice(PART_TYPES) for _ in range(n)],
        "p_size": pa.array([r.randrange(1, 51) for _ in range(n)],
                           pa.int32()),
        "p_retailprice": [900 + r.randrange(1000) / 10 for _ in range(n)],
    })


def events(r, n):
    base = dt.datetime(2024, 1, 1)
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(
            [_ts(base, r.uniform(0, 30 * 86400)) for _ in range(n)],
            pa.timestamp("us")),
        "user_id": pa.array([r.randrange(1500) for _ in range(n)],
                            pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(r.expovariate(1 / EVENT_VALUE_MEAN), 2)
                  for _ in range(n)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n)],
    })


def documents(r, n):
    """Word-soup documents shaped like sf0.1's (see the figures above):
    a seeded share are near-copies, another document's text plus " dup",
    so the dedup passes have work to find."""
    texts = [" ".join(r.choice(WORDS)
                      for _ in range(r.randint(*DOC_WORDS)))
             for _ in range(n)]
    base = list(texts)
    for i in r.sample(range(n), round(n * DUP_SHARE)):
        j = r.randrange(n - 1)
        texts[i] = base[j + (j >= i)] + " dup"
    langs, weights = zip(*LANGS)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": r.choices(langs, weights, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(r, n, dim=64, labels=10):
    """Unit vectors in uniformly random directions, each with a uniform
    label: sf0.1's embeddings have no cluster structure (the mean cosine
    between two vectors of one label is 0, as between labels)."""
    vecs = []
    for _ in range(n):
        v = [r.gauss(0, 1) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(labels) for _ in range(n)], pa.int32()),
    })


def generate(workload, seed, out_dir):
    """Write the workload's tables under `out_dir`; returns the row counts."""
    sizes = SIZES[workload]
    r = random.Random(f"{workload}:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_cust = sizes.get("customer", 1000)
    tables = {}
    if "orders" in sizes:
        tables["orders"] = orders(r, sizes["orders"], n_cust)
    if "customer" in sizes:
        tables["customer"] = customer(r, n_cust)
    if "supplier" in sizes:
        tables["supplier"] = supplier(r, sizes["supplier"])
    if "lineitem" in sizes:
        tables["lineitem"] = lineitem(r, sizes["lineitem"], sizes["orders"],
                                      sizes["orders"] * 2 // 15,
                                      sizes["supplier"])
    if "part" in sizes:
        tables["part"] = part(r, sizes["part"])
    if "events" in sizes:
        tables["events"] = events(r, sizes["events"])
    if "documents" in sizes:
        tables["documents"] = documents(r, sizes["documents"])
    if "embeddings" in sizes:
        tables["embeddings"] = embeddings(r, sizes["embeddings"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    rows = {name: t.num_rows for name, t in tables.items()}
    # what the harness needs to know about its inputs without a Spark job
    meta = {"rows": rows, "vocabulary": WORDS}
    if "documents" in tables:
        meta["text_bytes"] = [len(t.encode())
                              for t in tables["documents"]["text"].to_pylist()]
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return rows
