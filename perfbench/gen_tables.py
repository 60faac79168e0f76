"""Seeded generator of the query suite's ten input tables.

The tables follow the engine's table contract (`graft.Tables`): a small
TPC-H-like star (region, nation, customer, supplier, part, orders,
lineitem), an `events` stream, a `documents` corpus and an `embeddings`
set. One parquet file per table, written with pyarrow. The same seed gives
byte-identical files.

    python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import datetime as dt
import hashlib
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: half the engine's sf0.01 test scale for the star and the
# events, its full size for the corpus and the embeddings. At this size
# the engine's per-query fixed costs, not the rows, set the suite time: a
# fifth of the rows gave the same pass time on four cores.
SIZES = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
         "lineitem": 30000, "events": 5000, "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = [("en", 0.44), ("de", 0.14), ("es", 0.14), ("fr", 0.14), ("zh", 0.14)]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
         "table", "the", "value", "vector", "window"]
EMBEDDING_DIM = 64
LABELS = 10


def _day(r, first, last):
    span = (last - first).days
    return dt.datetime.combine(first + dt.timedelta(days=r.randrange(span + 1)), dt.time())


def _money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def tables(seed):
    """{name: pyarrow.Table} for one seed. Each table draws from its own
    generator, so changing one table's rules leaves the others alone."""
    def rng(name):
        return random.Random(f"{seed}:{name}")

    n = SIZES
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng("customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [_money(r, -999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n["customer"])]})

    r = rng("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [_money(r, -999.99, 9999.99) for _ in range(n["supplier"])]})

    r = rng("part")
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{r.choice(ADJECTIVES)} {r.choice(NOUNS)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [r.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": [round(900 + (k % 1000) / 10, 1) for k in range(n["part"])]})

    r = rng("orders")
    first, last = dt.date(1995, 1, 1), dt.date(2001, 8, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([r.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [_money(r, 1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": pa.array([_day(r, first, last) for _ in range(n["orders"])],
                                pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n["orders"])]})

    r = rng("lineitem")
    first, last = dt.date(1995, 1, 2), dt.date(2001, 11, 4)
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array([r.randrange(n["orders"]) for _ in range(m)], pa.int64()),
        "l_partkey": pa.array([r.randrange(n["part"]) for _ in range(m)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(n["supplier"]) for _ in range(m)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(m)], pa.int32()),
        "l_quantity": [float(r.randint(1, 50)) for _ in range(m)],
        "l_extendedprice": [_money(r, 900, 105000) for _ in range(m)],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(m)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(m)],
        "l_returnflag": [r.choice("ANR") for _ in range(m)],
        "l_linestatus": [r.choice("FO") for _ in range(m)],
        "l_shipdate": pa.array([_day(r, first, last) for _ in range(m)], pa.timestamp("us"))})

    r = rng("events")
    m = n["events"]
    start = dt.datetime(2024, 1, 1)
    offsets = sorted(r.randrange(30 * 86400 * 10**6) for _ in range(m))
    out["events"] = pa.table({
        "event_id": pa.array(range(m), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=o) for o in offsets], pa.timestamp("us")),
        "user_id": pa.array([r.randrange(n["customer"] // 10) for _ in range(m)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(m)],
        "value": [round(min(490.0, r.expovariate(1 / 60)) + 0.01, 2) for _ in range(m)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(m)]})

    r = rng("documents")
    texts = []
    for i in range(n["documents"]):
        if texts and r.random() < 0.05:
            # a near-duplicate of an earlier document: one word replaced
            words = r.choice(texts).split(" ")
            words[r.randrange(len(words))] = r.choice(WORDS)
        else:
            words = [r.choice(WORDS) for _ in range(r.randint(10, 99))]
        texts.append(" ".join(words))
    langs, weights = zip(*LANGS)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": r.choices(langs, weights, k=n["documents"]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng("embeddings")
    centers = [[r.gauss(0, 1) for _ in range(EMBEDDING_DIM)] for _ in range(LABELS)]
    vecs, labels = [], []
    for _ in range(n["embeddings"]):
        label = r.randrange(LABELS)
        v = [c + r.gauss(0, 0.8) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_all(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def digest(out_dir):
    """SHA-256 over the generated files, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


if __name__ == "__main__":
    write_all(sys.argv[1], int(sys.argv[2]))
    print(digest(sys.argv[1]))
