"""Seeded generator for the benchmark's input tables.

Writes the ten catalog tables (same names, columns and parquet types
as the star schema the package reads) plus the daily tick's change
source. Every value is a function of the seed, so one seed always
gives the same bytes-for-bytes inputs.

Sizes match the sf0.01 test tables (TESTDATA.md): 15,000 orders, ~60,000
lineitems, 500 documents and 500 embeddings. All of it fits in memory
many times over; see README.md for what that leaves uncovered.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_EVENTS = 10_000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64
N_LABELS = 10

# change source for the daily tick: each tick updates this share of
# the live keys and inserts this many new orders
TICK_UPDATE_SHARE = 0.03
TICK_INSERTS = 150

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "large", "red", "blue", "hot", "old", "cold", "green"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pin"]
WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400 * 1_000_000

CHANGE_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("version", pa.int32()),
])
CHANGE_DDL = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double, version int"
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> None:
    """Write every catalog table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    retail = np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(P_ADJ, N_PART), rng.choice(P_NOUN, N_PART))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(P_TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": retail,
    })

    order_day = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    orders = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, N_ORDERS).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": EPOCH_1995 + order_day * DAY_US,
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist(),
    }
    _write(out_dir, "orders", orders)

    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_partkey = rng.integers(0, N_PART, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = order_day[l_orderkey] + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": EPOCH_1995 + ship_day * DAY_US,
    })

    ts = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    _write(out_dir, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": EPOCH_2024 + ts,
        "user_id": rng.integers(0, 150, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # label clusters: a weak per-label centroid under unit-norm noise,
    # so IVF cells and kNN votes carry some signal. Centroids and label
    # counts are the same for every seed (only the noise and the label
    # order vary), so cell and bucket sizes, which set the similarity
    # operators' work, do not swing from seed to seed.
    labels = rng.permutation(np.arange(N_EMBEDDINGS) % N_LABELS)
    centroids = np.random.default_rng(0).normal(size=(N_LABELS, EMBED_DIM))
    vecs = rng.normal(size=(N_EMBEDDINGS, EMBED_DIM)) + 0.6 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def base_snapshot(data_dir: str) -> pa.Table:
    """The change source's version-0 rows: every order as first loaded."""
    orders = pq.read_table(
        os.path.join(data_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    return orders.append_column(
        "version", pa.array(np.zeros(orders.num_rows, np.int32))
    ).cast(CHANGE_SCHEMA)


def tick_changes(seed: int, tick: int) -> pa.Table:
    """Change rows of one tick (version == ``tick``): updates to a
    seeded share of the keys alive so far plus fresh inserts. Keys are
    unique within a tick, so latest-version-wins has no ties."""
    rng = np.random.default_rng([seed, tick])
    alive = N_ORDERS + (tick - 1) * TICK_INSERTS
    n_upd = int(alive * TICK_UPDATE_SHARE)
    upd = rng.choice(alive, n_upd, replace=False)
    ins = np.arange(alive, alive + TICK_INSERTS)
    keys = np.concatenate([upd, ins]).astype(np.int64)
    return pa.table({
        "o_orderkey": keys,
        "o_orderstatus": rng.choice(["U", "F", "O", "P"], len(keys)).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(keys)),
        "version": pa.array(np.full(len(keys), tick), pa.int32()),
    }, schema=CHANGE_SCHEMA)
