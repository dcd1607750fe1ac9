"""Seeded input generator for the benchmark.

Writes the parquet tables the registry reads (events, customer, nation,
region, documents, embeddings) with the schemas and value distributions of
the project's seed-42 testdata, at the size ``run.SIZES`` sets per workload:

- events: ``event_id`` in key order, ``ts`` ascending over 30 days, uniform
  ``user_id`` and five event types, exponential ``value`` (mean 50, two
  decimals), ``props`` = ``{"k": 0..99}``. Users scale with events so that a
  push (user_id, event_type) keeps ~13 rows, as in the testdata.
- customer: ten customers per user, uniform nation and market segment.
- documents: 10-100 words from a 30-word vocabulary; 5% are a copy of
  another document's text plus `` dup`` (the near-duplicates the dedup
  operators look for); 20 sources, ``en`` on 40%.
- embeddings: 64-d unit vectors with a uniform label in 0..9.

Rows are written in a seeded permutation, so operators that break ties by
key see a physical order that differs from key order on every seed.
Output is byte-deterministic per (seed, sizes): same seed, same bytes. The
sha256 of every table file is returned and recorded beside the tables.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SOURCES = 20
DIM = 64
DAYS = 30
ROWS_PER_PUSH = 13.3


def _events(rng, n):
    users = max(1, round(n / (ROWS_PER_PUSH * len(EVENT_TYPES))))
    start_us = 1704067200_000000  # 2024-01-01 00:00:00 UTC
    ts = np.sort(rng.integers(0, DAYS * 86400_000000, n)) + start_us
    return users, {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _customer(rng, n):
    return {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    }


def _documents(rng, n):
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def generate(out_dir, seed, events, documents, embeddings):
    """Write all tables for one workload input under ``out_dir``; return
    ``{table file: sha256}``."""
    rng = np.random.default_rng(seed)
    users, ev = _events(rng, events)
    tables = {
        "events": ev,
        "customer": _customer(rng, users * 10),
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(REGIONS)},
        "documents": _documents(rng, documents),
        "embeddings": _embeddings(rng, embeddings),
    }
    os.makedirs(out_dir, exist_ok=True)
    sums = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        with open(path, "rb") as f:
            sums[f"{name}.parquet"] = hashlib.sha256(f.read()).hexdigest()
    return sums

