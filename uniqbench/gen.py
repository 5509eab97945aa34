"""Seeded input generator for every workload.

All inputs have the shape of the test corpus's ``events`` table
(``event_id, ts, user_id, event_type, value, props``), so the registry
entries in ``__spark_entry__.py`` and their DuckDB ``oracle_sql()`` run
on them unchanged. The same seed and spec always give byte-identical
files: nothing here reads the clock.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, the corpus's first day

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, exponent: float) -> np.ndarray:
    """``n`` draws from a Zipf law truncated to ``n_keys`` keys. Ranks
    are shuffled onto key ids so the hottest key is not always id 0."""
    weights = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** exponent
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    return rng.permutation(n_keys).astype(np.int64)[ranks]


def keyed_runs(rng, n: int, n_keys: int, exponent: float, run_length: float) -> np.ndarray:
    """Key column made of runs: each run repeats one Zipf-drawn key a
    geometric number of times with mean ``run_length`` (1 = i.i.d.)."""
    n_runs = int(n / run_length) + 16
    lengths = rng.geometric(1.0 / run_length, size=n_runs)
    while lengths.sum() < n:
        lengths = np.concatenate([lengths, rng.geometric(1.0 / run_length, size=n_runs)])
    keys = zipf_keys(rng, len(lengths), n_keys, exponent)
    return np.repeat(keys, lengths)[:n]


def payload(rng, n: int) -> dict:
    """The non-key, non-time columns, shaped like the corpus's."""
    return {
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
        "value": np.round(rng.exponential(50.0, size=n) + 0.01, 2),
        "props": PROPS[rng.integers(0, len(PROPS), size=n)],
    }


def table(event_id, ts_us, user_id, cols: dict) -> pa.Table:
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    }, schema=SCHEMA)


def write(tbl: pa.Table, path: str) -> None:
    # one row group, no timestamps in the file metadata: same seed,
    # same bytes
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows), compression="snappy",
                   store_schema=False)


def batch_events(seed: int, rows: int, keys: int, zipf: float, run_length: float,
                 span_days: int) -> pa.Table:
    """One batch input: strictly increasing ``ts`` over ``span_days``
    (distinct timestamps, so every order-dependent operator has one
    answer), ``event_id`` in time order."""
    rng = np.random.default_rng(seed)
    gaps = rng.integers(1, 2 * (span_days * 86_400_000_000 // rows), size=rows)
    ts = T0_US + np.cumsum(gaps)
    user = keyed_runs(rng, rows, keys, zipf, run_length)
    return table(np.arange(rows), ts, user, payload(rng, rows))


def stream_files(seed: int, files: int, rows_per_file: int, hot_keys: int, zipf: float,
                 new_key_share: float, interval_ms: int):
    """Open-loop stream input, one table per file. File ``i`` sits
    ``i * interval_ms`` into the schedule, and its events carry that
    place as their creation stamp: ``ts = T0 + i * interval_ms`` plus
    the event's index in microseconds, so timestamps stay distinct.
    Keys are a Zipf-drawn hot set plus a fixed share of never-seen keys
    (state inserts alongside updates)."""
    rng = np.random.default_rng(seed)
    next_new = hot_keys
    n_new = int(round(rows_per_file * new_key_share))
    for i in range(files):
        user = zipf_keys(rng, rows_per_file, hot_keys, zipf)
        slots = rng.choice(rows_per_file, size=n_new, replace=False)
        user[slots] = np.arange(next_new, next_new + n_new)
        next_new += n_new
        ts = T0_US + i * interval_ms * 1000 + np.arange(rows_per_file)
        ids = np.arange(i * rows_per_file, (i + 1) * rows_per_file)
        yield table(ids, ts, user, payload(rng, rows_per_file))


def file_index(ts_us: int, interval_ms: int) -> int:
    """Which file of :func:`stream_files` an event came from, read back
    from its ``ts`` (in microseconds since the epoch)."""
    return (ts_us - T0_US) // (interval_ms * 1000)


def write_batch(path_dir: str, tbl: pa.Table) -> str:
    os.makedirs(path_dir, exist_ok=True)
    path = os.path.join(path_dir, "events.parquet")
    write(tbl, path)
    return path
