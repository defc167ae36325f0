"""Synthetic base tables for the benchmark.

The tables follow the engine's fixture layout: a TPC-H-style star schema
(region, nation, customer, supplier, part, orders, lineitem) plus the
`events`, `documents` and `embeddings` tables the curation and streaming
queries read. One parquet file per table, named `<table>.parquet`.

The tables come from a fixed generator seed, so every workload seed sees
the same base data and run-to-run differences come from the engine, not
from the data. The workload seed only salts what the workloads derive
from these tables (source splits, upsert deltas, query order).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "graph node edge merge source bundle predicate qualifier curie prefix "
    "biolink category publication closure subclass normalize synonym label "
    "spark shuffle stage task join window partition scan filter sort hash "
    "token shingle minhash band bucket cluster centroid vector query corpus"
).split()
LANGS = ("en", "de", "zh", "fr", "es")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("PROMO", "ECONOMY", "MEDIUM", "LARGE", "STANDARD", "SMALL")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_US = np.int64(86_400_000_000)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n_doc: int) -> list[str]:
    """Random word sequences; about 2% are near copies of an earlier
    document with two words substituted, so the near-duplicate and
    decontamination queries have real candidates to find."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 110, n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.02:
            words = texts[rng.integers(0, i)].split()
            for _ in range(2):
                words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return texts


def generate(out_dir: str, sf: float) -> int:
    """Write every table at scale factor `sf` (lineitem has about
    6 million * sf rows). Returns the bytes written."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_evt = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 100)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {VOCAB[i % len(VOCAB)]} {i // len(VOCAB) % 97}" for i in range(n_part)],
        "p_brand": [f"Brand#{1 + i % 25}" for i in range(n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })

    odate = np.datetime64("1995-01-01", "us") + (
        rng.integers(0, 2400, n_ord) * DAY_US
    ).astype("timedelta64[us]")
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.choice(3, n_ord, p=[0.48, 0.48, 0.04])],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_order)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "N", "A"])[rng.choice(3, n_li, p=[0.25, 0.5, 0.25])],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": np.repeat(odate, lines_per)
        + (rng.integers(1, 121, n_li) * DAY_US).astype("timedelta64[us]"),
    })

    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * DAY_US, n_evt).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.choice(5, n_evt, p=[0.1, 0.4, 0.05, 0.35, 0.1])],
        "value": np.round(rng.exponential(50, n_evt), 2),
        "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n_evt)],
    })

    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    vecs = (centers[labels] + rng.normal(0, 0.3, (n_emb, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })
    return sum(
        os.path.getsize(os.path.join(out_dir, f"{t}.parquet")) for t in TABLES
    )
