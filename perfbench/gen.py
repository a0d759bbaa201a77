"""Seeded input generator for the benchmark.

Writes the ``{dir}/{table}.parquet`` layout that ``tables.load_tables`` and
the DuckDB oracles both read. Value domains follow the repository's test
data, so the queries' fixed filters select real rows:

* ``events``: January 2024 ``ts`` (microseconds), five ``event_type`` values
  including ``error``, ``value`` in 0-560 (exponential, mean ~50), ``props``
  of the form ``{"k": n}``, ``user_id`` in 0-1499.
* ``documents``: space-separated words from a small vocabulary, with planted
  exact duplicates (whole-text copies) and near duplicates (the last word
  replaced).
* ``embeddings``: 64-d unit vectors with planted near-duplicate vectors.

The same seed gives the same bytes: every array comes from one
``numpy.random.Generator`` and the parquet writer is given fixed options.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_USERS = 1500
TS_LO = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
TS_HI = int(dt.datetime(2024, 1, 31, tzinfo=dt.timezone.utc).timestamp() * 1e6)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EMB_DIM = 64

_WRITE_OPTS = dict(compression="snappy", write_statistics=True,
                   use_dictionary=True)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def events_table(n: int, seed: int, id_base: int = 0,
                 ts_lo: int = TS_LO, ts_hi: int = TS_HI) -> pa.Table:
    """``n`` events sorted by ``ts`` within [ts_lo, ts_hi) microseconds."""
    r = _rng(seed, 1, id_base)
    ts = np.sort(r.integers(ts_lo, ts_hi, n, dtype=np.int64))
    value = np.minimum(np.round(r.exponential(50.0, n), 2), 560.0)
    etype = np.asarray(EVENT_TYPES, dtype=object)[r.integers(0, 5, n)]
    props = np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(etype, type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props.astype(object), type=pa.string()),
    })


def write_events(out_dir: str, n: int, seed: int) -> int:
    """Write ``events.parquet`` as one file; returns the bytes written."""
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events_table(n, seed), path, row_group_size=1 << 17,
                   **_WRITE_OPTS)
    return os.path.getsize(path)


def documents_table(n: int, seed: int, batch: int = 0):
    """``n`` documents with planted duplicates. Returns (table, planted)
    where planted = {"exact": [[doc_id, ...], ...], "near": [(a, b), ...]}:
    exact groups share one text; each near pair differs in its last word."""
    r = _rng(seed, 2, batch)
    lens = r.integers(10, 70, n)
    vocab = np.asarray(VOCAB, dtype=object)
    words = [list(vocab[r.integers(0, len(VOCAB), k)]) for k in lens]
    ids = np.arange(n, dtype=np.int64) + batch * 1_000_000
    # plant on disjoint doc sets: sources, then copies, never re-used
    order = r.permutation(n)
    n_groups = max(1, n // 50)
    cursor = 0
    exact, near = [], []
    for _ in range(n_groups):
        src = order[cursor]
        copies = order[cursor + 1:cursor + 1 + int(r.integers(1, 3))]
        cursor += 1 + len(copies)
        for c in copies:
            words[c] = list(words[src])
        exact.append(sorted(int(ids[i]) for i in (src, *copies)))
    long_docs = [i for i in order[cursor:] if lens[i] >= 40]
    for a, b in zip(long_docs[0:2 * n_groups:2], long_docs[1:2 * n_groups:2]):
        w = list(words[a])
        w[-1] = VOCAB[(VOCAB.index(w[-1]) + 1) % len(VOCAB)]
        words[b] = w
        near.append((int(min(ids[a], ids[b])), int(max(ids[a], ids[b]))))
    text = [" ".join(w) for w in words]
    tbl = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(list(np.asarray(LANGS, dtype=object)[
            r.integers(0, len(LANGS), n)]), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)],
                           type=pa.string()),
        "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
    })
    return tbl, {"exact": exact, "near": near}


def embeddings_table(n: int, seed: int, batch: int = 0) -> pa.Table:
    """``n`` unit vectors; every 50th vector is a near copy of another."""
    r = _rng(seed, 3, batch)
    v = r.standard_normal((n, EMB_DIM)).astype(np.float32)
    for i in range(0, n - 1, 50):
        j = int(r.integers(0, n))
        if j != i:
            v[j] = v[i] + 0.05 * r.standard_normal(EMB_DIM).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n).astype(np.int32)),
    })


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int,
                 batch: int) -> tuple[int, dict]:
    """Write one fresh corpus batch (documents + embeddings) into
    ``out_dir``. Returns (bytes written, planted duplicates)."""
    os.makedirs(out_dir, exist_ok=True)
    docs, planted = documents_table(n_docs, seed, batch)
    total = 0
    for name, tbl in (("documents", docs),
                      ("embeddings", embeddings_table(n_vecs, seed, batch))):
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, p, **_WRITE_OPTS)
        total += os.path.getsize(p)
    return total, planted
