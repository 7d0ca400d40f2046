"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and shape: the same
arguments write byte-identical parquet files (pyarrow, no pandas
metadata, fixed row-group size).  The program under test only ever
sees these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20, compression="snappy",
                   store_schema=False)


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws from a Zipf(s) law truncated to ``n_keys`` keys.
    Ranks map to ids through a seeded permutation, so the hot keys are
    not simply the smallest ids."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def event_columns(rng: np.random.Generator, n: int, n_users: int, skew: float,
                  first_id: int = 0, t0_us: int = T0_US) -> dict:
    """Columns of ``n`` events: strictly increasing ``ts`` (micros),
    Zipf-keyed ``user_id``, 2-decimal ``value`` and a ``{"k": n}``
    header payload in ``props``."""
    gaps = rng.integers(1, 2_000_000, size=n, dtype=np.int64)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts_us": t0_us + np.cumsum(gaps),
        "user_id": zipf_keys(rng, n, n_users, skew),
        "event_type": rng.integers(0, len(EVENT_TYPES), size=n),
        "value": np.round(rng.uniform(0.0, 200.0, size=n), 2),
        "k": rng.integers(0, 100, size=n),
    }


def write_table_fold(out_dir: str, seed: int, n_events: int, n_users: int,
                     skew: float) -> None:
    """``events``, ``customer`` and ``nation`` topics in the layout of
    the repository's test data."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    ev = event_columns(rng, n_events, n_users, skew)
    types = np.array(EVENT_TYPES, dtype=object)
    _write(pa.table({
        "event_id": ev["event_id"],
        "ts": pa.array(ev["ts_us"], pa.timestamp("us")),
        "user_id": ev["user_id"],
        "event_type": pa.array(types[ev["event_type"]], pa.string()),
        "value": ev["value"],
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"].tolist()], pa.string()),
    }), os.path.join(out_dir, "events.parquet"))
    _write(pa.table({
        "c_custkey": np.arange(n_users, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_users)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_users), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, size=n_users), 2),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, size=n_users)],
            pa.string()),
    }), os.path.join(out_dir, "customer.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))


def write_documents(out_dir: str, seed: int, n_docs: int, dup_share: float,
                    n_clusters: int, near_share: float = 0.05) -> None:
    """A ``documents`` topic of random-vocabulary docs (10–100 words)
    where ``dup_share`` of the rows fall into ``n_clusters`` equal
    exact-duplicate clusters and ``near_share`` are one-word edits of
    another doc (real near-pairs for the similarity miners)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_dup = int(n_docs * dup_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_dup - n_near
    vocab = np.array(VOCAB[:-1], dtype=object)
    texts = []
    for _ in range(n_base):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                 size=int(rng.integers(10, 101)))]))
    for i in range(n_near):
        words = texts[int(rng.integers(0, n_base))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    heads = rng.choice(n_base, size=n_clusters, replace=False)
    per = np.full(n_clusters, n_dup // n_clusters)
    per[: n_dup % n_clusters] += 1
    for h, c in zip(heads.tolist(), per.tolist()):
        texts.extend([texts[h]] * c)
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order.tolist()]
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, 5, size=n_docs)],
                         pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 5, size=n_docs).tolist()]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))
