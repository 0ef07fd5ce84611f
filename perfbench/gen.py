"""Seeded input generator for the benchmark workloads.

Every table keeps the physical parquet schema of the repository's test
fixture (``ts`` is ``timestamp[us]``, ``embedding`` is ``list<float>``)
and its marginals: events spread uniformly over 2024-01-01..01-30 with
five equally likely event types and exponential(mean 50) values rounded
to cents; unit-norm 64-d embeddings with ten uniform labels.

The same seed gives byte-identical files; nothing is read from outside
the output directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_START_US = 1704067200 * 1_000_000          # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000                # ..2024-01-30 23:59:59
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EMB_DIM = 64

EVENTS_SCHEMA = pa.schema([("event_id", pa.int64()),
                           ("ts", pa.timestamp("us")),
                           ("user_id", pa.int64()),
                           ("event_type", pa.string()),
                           ("value", pa.float64()),
                           ("props", pa.string())])
EMBEDDINGS_SCHEMA = pa.schema([("vec_id", pa.int64()),
                               ("embedding", pa.list_(pa.float32())),
                               ("label", pa.int32())])


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table leaves the
    # others' rows unchanged
    return np.random.default_rng([seed, sum(map(ord, table))])


def events(seed: int, n_rows: int, n_series: int) -> pa.Table:
    rng = _rng(seed, "events")
    ts = np.sort(rng.integers(0, SPAN_US, n_rows)) + SPAN_START_US
    return pa.table({
        "event_id": np.arange(n_rows, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_series, n_rows),
        "event_type": np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n_rows)],
        "value": np.round(rng.exponential(50.0, n_rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
    }, schema=EVENTS_SCHEMA)


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n_vecs, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        np.arange(0, n_vecs * EMB_DIM + 1, EMB_DIM, dtype=np.int32),
        pa.array(x.ravel(), pa.float32()))
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }, schema=EMBEDDINGS_SCHEMA)


def write(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write the tables ``sizes`` asks for into ``out_dir`` as
    ``<table>.parquet``; return ``{table: rows}``.

    ``sizes`` keys: ``events`` -> ``(n_rows, n_series)``,
    ``embeddings`` -> n."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": lambda a: events(seed, *a),
              "embeddings": lambda n: embeddings(seed, n)}
    rows = {}
    for name, arg in sizes.items():
        table = makers[name](arg)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 20)
        rows[name] = table.num_rows
    return rows
