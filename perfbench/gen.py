"""Seeded generator of the benchmark's input tables.

Every table the engine's queries read is generated from the workload seed at
the shapes and distributions of the engine's sf0.1 fixtures (one parquet file
per table, one row group each): a TPC-H-like star schema, an `events` click
stream, a `documents` corpus with 5% exact-prefix near-duplicates and unit
`embeddings` drawn around 10 labelled centres. The same seed always writes
byte-identical files; different seeds change every value but no shape.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# row counts at scale factor 0.1; `generate` scales them linearly
SF0_1 = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
         "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
         "users": 1500}
DIM, N_LABELS = 64, 10

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    return EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def region(rng, N):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation(rng, N):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, N):
    n = N["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(rng, SEGMENTS, n)})


def supplier(rng, N):
    n = N["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def part(rng, N):
    n = N["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _choice(rng, names, n),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _choice(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})


def orders(rng, N):
    n = N["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N["customer"], n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, 0, 2404, n)),
        "o_orderpriority": _choice(rng, PRIORITIES, n)})


def lineitem(rng, N):
    n = N["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, 1, 2499, n))})


def events(rng, N):
    n = N["events"]
    # distinct, ascending microsecond stamps over 30 days: event_id order is
    # time order, and no two events tie on ts
    ts = np.sort(rng.choice(30 * DAY_US, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, N["users"], n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, N):
    n = N["documents"]
    words = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, N):
    n = N["embeddings"]
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    v = centers[labels] + rng.normal(0.0, 0.6, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def generate(seed, out_dir, sf=0.1):
    """Write `<out_dir>/<table>.parquet` for each table at scale factor
    `sf` (row counts linear in sf); returns out_dir."""
    N = {t: max(1, round(n * sf / 0.1)) for t, n in SF0_1.items()}
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        tmp = os.path.join(out_dir, f".{t}.parquet.tmp")
        pq.write_table(globals()[t](_rng(seed, t), N), tmp, row_group_size=1 << 30)
        os.replace(tmp, os.path.join(out_dir, f"{t}.parquet"))
    return out_dir
