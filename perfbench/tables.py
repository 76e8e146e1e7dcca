"""Seeded generator of the catalog tables (TPC-H-ish star schema, an
event stream, a text corpus and an embedding set) for the catalog
workloads.

The schemas are the ones ``convoy_spark.tables`` reads; row counts
follow the catalog's sf convention (``lineitem`` = 6M x sf). The
seed changes every value; the row counts, key ranges and vocabulary
stay fixed, so different seeds ask the engine for the same amount of
work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["ring", "widget", "bolt", "plate", "gear", "pipe", "valve", "spring"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VOCAB = (
    "a the data spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge batch part "
    "customer vector join"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
N_LABELS = 10


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(50_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    odate = _dates(rng, n_orders, "1995-01-01", 2404)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000, 500_000, n_orders),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.permutation(np.resize(np.arange(1, 8), n_orders))
    okey = np.repeat(np.arange(n_orders), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    perm = rng.permutation(n_li)
    li = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.95, 1.05, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            odate[okey] + (rng.integers(1, 122, n_li) * 86_400_000_000).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
    }
    t["lineitem"] = pa.table(li).take(pa.array(perm))
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(40, n_events) + 0.01, 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
        }
    )

    # Text corpus with planted near-duplicates (a few tokens edited)
    # and a handful of exact duplicates, as a crawl has.
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.06:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.062:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )

    centers = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n_vecs)
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write one ``<name>.parquet`` per table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
