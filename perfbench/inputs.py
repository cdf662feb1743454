"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files. The schema is that of the engine's
sf0.1 ``events`` table, so ``__spark_entry__`` queries and their DuckDB
oracles run on them unchanged, and the distributions are fitted to
sf0.1 (perfbench/README.md has the measured side-by-side):

- ``events(event_id, ts, user_id, event_type, value, props)``: 30 days
  of events, five equally likely event types, ~67 per user, values
  exponential with mean 50, props ``{"k": 0..99}``, timestamps
  increasing with ``event_id``.

Each file is written as one row group, like the testdata generator, so
the scan layer's fan-out decision sees the same single-split input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_PER_USER = 200 / 3  # 100k events over 1500 users, as at sf0.1
VALUE_MEAN = 50.0  # sf0.1: median 34.8, p90 114, mean 49.9
DAY_US = 86_400 * 1_000_000
START_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def events_table(seed: int, n_events: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n_users = max(1, round(n_events / EVENTS_PER_USER))
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events)) + START_US
    value = np.round(rng.exponential(VALUE_MEAN, n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return path


def shard_by_user(events: pa.Table, seed: int, n_shards: int, out_dir: str) -> list[str]:
    """Split ``events`` into ``n_shards`` parquet files by a seeded hash
    of ``user_id``. A user's events stay in one shard, so every shard
    holds whole conversations and is transform-complete."""
    user = events.column("user_id").to_numpy()
    salt = np.random.default_rng([seed, 3]).integers(1, 2**31)
    shard = ((user * 2654435761 + salt) % (2**32)) % n_shards
    paths = []
    for s in range(n_shards):
        mask = pa.array(shard == s)
        paths.append(write_table(events.filter(mask), os.path.join(out_dir, f"part-{s:02d}.parquet")))
    return paths
