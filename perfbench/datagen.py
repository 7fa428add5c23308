"""Seeded synthetic tables for the benchmark.

Every input the benchmark feeds the engine comes from here, so one seed
always yields byte-identical Parquet. The shapes follow the repository's
fixture schema (an ``events`` stream table plus a TPC-H-like star), with
timestamps stored as UTC-adjusted TIMESTAMP(MICROS).

``SIZES`` is the scale the workloads run at; tests pass a tiny scale.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_WEIGHTS = [0.35, 0.3, 0.1, 0.1, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
N_USERS = 1000
N_PROPS = 100

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
ORDERS_START = dt.datetime(1995, 1, 1)
ORDERS_DAYS = 2400

SIZES = {"events": 200_000, "orders": 60_000, "lineitem": 240_000, "customer": 6_000}
TINY = {"events": 3_000, "orders": 1_500, "lineitem": 6_000, "customer": 150}

# corpus_build: word-bag documents over the fixture vocabulary, so a share
# of them passes the Gopher rules, plus exact and near duplicates and one
# embedding per document clustered by label.
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
CORPUS_DOCS = 600
N_PROBES = 20  # doc_id < 20 are the decontamination probes

# cold_ingest: the live table starts on its own day range so its daily
# batches never overlap the query tables.
LIVE_START = dt.datetime(2024, 3, 1)
BATCH_ROWS = 20_000

_US = 1_000_000


def _epoch_us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * _US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us", tz="UTC"))


def _events(rng: np.random.Generator, n: int, start: dt.datetime, days: int,
            first_id: int = 0) -> pa.Table:
    offs = np.sort(rng.integers(0, days * 86_400 * _US, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), type=pa.int64()),
        "ts": _ts(_epoch_us(start) + offs),
        "user_id": pa.array(rng.integers(0, N_USERS, n), type=pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)].tolist()),
        "value": pa.array(np.round(rng.gamma(2.0, 10.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS, n)]),
    })


def _days(rng: np.random.Generator, n: int, start: dt.datetime, days: int) -> pa.Array:
    return _ts(_epoch_us(start) + rng.integers(0, days, n) * 86_400 * _US)


def make_tables(seed: int, out_dir: str, sizes: dict | None = None) -> dict[str, str]:
    """Write the query tables under ``out_dir``; returns name -> path."""
    sizes = sizes or SIZES
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    ne, no, nl, nc = (sizes[k] for k in ("events", "orders", "lineitem", "customer"))
    tables = {
        "events": _events(rng, ne, EVENTS_START, EVENTS_DAYS),
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), type=pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(len(NATIONS)), type=pa.int32()),
            "n_name": NATIONS,
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(len(NATIONS))],
                                    type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, len(NATIONS), nc), type=pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), nc)].tolist(),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), type=pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist(),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, no), 2),
            "o_orderdate": _days(rng, no, ORDERS_START, ORDERS_DAYS),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)].tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, nl), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, nl), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), type=pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist(),
            "l_shipdate": _days(rng, nl, ORDERS_START, ORDERS_DAYS + 90),
        }),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def make_batches(seed: int, out_dir: str, n_batches: int,
                 rows: int = BATCH_ROWS) -> list[str]:
    """Daily event batches for the live table: batch ``i`` holds day
    ``LIVE_START + i`` only, so the set of visible days tells how many
    batches a query saw."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_batches):
        table = _events(rng, rows, LIVE_START + dt.timedelta(days=i), 1,
                        first_id=i * rows)
        path = os.path.join(out_dir, f"batch_{i:04d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def make_corpus(seed: int, out_dir: str, n_docs: int = CORPUS_DOCS) -> dict[str, str]:
    """The tables the corpus chain registers: documents and embeddings
    from ``seed``, and tiny copies of the others."""
    rng = np.random.default_rng([seed, 4])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= N_PROBES and r < 0.06:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
            continue
        if i >= N_PROBES and r < 0.18:  # near duplicate: a few words swapped
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), 1 + len(words) // 20):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 111))]
        texts.append(" ".join(words))
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(size=(10, 64))
    emb = centers[labels] + 0.8 * rng.normal(size=(n_docs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    ids = rng.permutation(n_docs)  # row order is not part of the input's meaning
    paths = make_tables(seed, out_dir, TINY)
    tables = {
        "documents": pa.table({
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": [texts[i] for i in ids],
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(texts[i]) for i in ids], type=pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(list(emb[ids]), type=pa.list_(pa.float32())),
            "label": pa.array(labels[ids], type=pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(10), type=pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(10)],
            "s_nationkey": pa.array(rng.integers(0, len(NATIONS), 10), type=pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, 10), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(20), type=pa.int64()),
            "p_name": [f"part {i}" for i in range(20)],
            "p_brand": [f"Brand#{i % 5}" for i in range(20)],
            "p_type": ["STANDARD"] * 20,
            "p_size": pa.array(rng.integers(1, 50, 20), type=pa.int32()),
            "p_retailprice": np.round(rng.uniform(900.0, 2000.0, 20), 2),
        }),
    }
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
