"""Seeded input tables for the batch workload, in the layout the registry
reads (one parquet file per table, columns as in TESTDATA.md).

events: one row per user action over 30 days, shaped like the sf0.1
`events` table as measured there: 100k rows (set in config.json), 1,500
users drawn uniformly, `ts` uniform over 2024-01-01 .. 2024-01-30 and
ascending with `event_id`, five event types drawn uniformly, `value`
exponential with mean 50 rounded to cents, and props `{"k": <0..99>}`
drawn uniformly. The rows themselves differ: the sf0.1 generator is not
in the repository, so this one draws its own from the run's seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000


def events(seed, n, users):
    rng = np.random.default_rng(seed)
    ts = np.sort(START_US + rng.integers(0, SPAN_US, n))
    user_id = rng.integers(0, users, n)
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user_id.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {x}}}' for x in k]),
    })


def write(seed, out_dir, n, users):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events(seed, n, users), f"{out_dir}/events.parquet")
