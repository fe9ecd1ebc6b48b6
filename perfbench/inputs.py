"""Seeded input generators. Each function is a pure function of its
arguments: the same seed writes the same rows."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def write_events(path: str, n: int, seed: int) -> None:
    """An ``events`` table with the schema of the driver test data:
    (event_id, ts TIMESTAMP_NTZ, user_id, event_type, value, props).
    Timestamps are distinct and ascending over 30 days; values are
    exponential with two decimals, like the driver test data's."""
    rng = np.random.default_rng(seed)
    span_us = 30 * 86_400 * 1_000_000
    # a few spare draws, so that n distinct values remain after np.unique
    ts = np.unique(rng.integers(0, span_us, size=int(n * 1.01) + 16))
    ts = np.sort(rng.choice(ts, size=n, replace=False)) + EPOCH_2024_US
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })
    pq.write_table(table, path)


def write_raw_slice(path: str, n: int, seed: int, start_us: int,
                    span_secs: int) -> None:
    """One file of raw (source, ts, value) rows from 16 sources with event
    times in [start_us, start_us + span_secs); the stream ingest schema."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ts = start_us + rng.integers(0, span_secs * 1_000_000, size=n)
    src = np.char.add("src", rng.integers(0, 16, size=n).astype(str))
    table = pa.table({
        "source": pa.array(src),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
    })
    pq.write_table(table, path)
