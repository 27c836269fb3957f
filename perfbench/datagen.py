"""Seeded synthetic inputs for the benchmark workloads.

``events``, ``documents``, ``orders`` and ``embeddings`` have the schema of
the engine's warehouse tables of the same names, and the value
distributions measured on the engine's sf0.1 warehouse (listed on each
generator). Values come from a NumPy generator keyed by the benchmark's
``--seed``: the same seed and sizes give identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """``n`` events over 30 days, ``event_id`` ascending with ``ts``. As in
    sf0.1 (100,000 events, 1,500 users): users and the five event types
    uniform, ``value`` exponential with mean 50 (measured mean 49.9, sd
    49.6), ``props`` ``{"k": 0..99}`` uniform."""
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts_us("2024-01-01", offsets),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(
    rng: np.random.Generator, n: int, near_dup_share: float = 0.051,
    exact_dup_share: float = 0.0016,
) -> pa.Table:
    """Word-salad documents as in sf0.1 (5,000 documents): 10-100 words
    uniform, drawn uniformly from a 30-word vocabulary; 5.1% are
    near-duplicates, a copy of another document with `` dup`` appended
    (almost all families are pairs); 0.16% are exact copies; ``lang`` and
    20 round-robin ``source`` values as measured."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lengths]
    n_near = int(round(n * near_dup_share))
    n_exact = max(1, int(round(n * exact_dup_share)))
    order = rng.permutation(n)
    picks, sources = order[: n_near + n_exact], order[n_near + n_exact:]
    for i, j in enumerate(picks):
        src = int(sources[rng.integers(0, len(sources))])
        texts[j] = texts[src] + " dup" if i < n_near else texts[src]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def orders_table(rng: np.random.Generator, n: int, customers: int) -> pa.Table:
    """Orders as in sf0.1 (150,000 orders, 15,000 customers, about ten
    orders each): customer, status (O/F/P) and priority uniform,
    ``o_totalprice`` uniform over 1,000-500,000 in cents, ``o_orderdate``
    a uniform day from 1995-01-01 to 2001-08-01."""
    days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customers, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n) / 100.0),
            "o_orderdate": _ts_us("1995-01-01", rng.integers(0, days + 1, n)
                                  * 86_400 * 1_000_000),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors as in sf0.1 (2,000 of dimension 64): no cluster
    structure (the cosine to the own label's centroid has median 0.07), so
    isotropic Gaussian directions; ``label`` uniform over 0-9."""
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def arrival_files(
    out_dir: str, events: pa.Table, seed: int, n_files: int, n_empty: int
) -> list[int]:
    """Split ``events`` into ``n_files`` arrival files, each a contiguous
    ``event_id`` range of seeded, uneven size; ``n_empty`` of them hold no
    rows. Files are written in ``event_id`` order with increasing mtimes,
    so a one-file-per-trigger stream drains them in order. Returns the
    row count of each file."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = events.num_rows
    n_full = n_files - n_empty
    weights = rng.gamma(1.5, size=n_full)
    cuts = np.round(np.cumsum(weights) / weights.sum() * n).astype(int)
    bounds = np.concatenate([[0], cuts])
    sizes = list(np.diff(bounds))
    empties = sorted(rng.choice(np.arange(1, n_files), n_empty, replace=False))
    for e in empties:
        sizes.insert(int(e), 0)
    start = 0
    for i, k in enumerate(sizes):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(events.slice(start, k), path)
        os.utime(path, ns=(1_700_000_000_000_000_000 + i * 10**9,) * 2)
        start += k
    return [int(k) for k in sizes]
