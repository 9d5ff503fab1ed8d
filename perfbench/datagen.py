"""Seeded input table for the benchmark's streaming workload.

``events`` copies the shape of the engine's synthetic warehouse events
table (FIXTURES.md §5; the sf 0.001, 0.01 and 0.1 test tables), whose
parameters were read off those files:

* 1 000 000·sf rows and 15 000·sf users (1 000/15, 10 000/150 and
  100 000/1 500); ``user_id`` uniform on ``[0, users)``;
* ``event_id`` 0..n-1 in ``ts`` order; ``ts`` starts at 2024-01-01 and
  spans 30 days, with exponential gaps (mean ≈ sd ≈ 30 d / n);
* ``event_type`` uniform over five values (19.8–20.3 % each at sf 0.1);
* ``value`` exponential with mean 50 rounded to cents (sf 0.1: mean
  49.87, median 34.77, p90 114.3);
* ``props`` is ``{"k": n}`` with n uniform on 0..99;
* no nulls and no out-of-range timestamps;
* ``ts`` is parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false, as in
  those files, so streams read it natively (the nanosAsLong branch of
  streaming.pipeline.read_event_stream is not taken for them either).

The same (seed, sf) always writes the same bytes, so a run's inputs are
fully determined by the benchmark's ``--seed``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / (n + 1), size=n)
    ts_us = np.minimum(np.cumsum(gaps), span_us - 1).astype(np.int64)
    epoch = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us + epoch, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> None:
    """Write the requested tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": lambda rng: events(rng, int(1_000_000 * sf), int(15_000 * sf))}
    for i, name in enumerate(names):
        rng = np.random.default_rng([seed, i])
        pq.write_table(makers[name](rng), os.path.join(out_dir, f"{name}.parquet"))
