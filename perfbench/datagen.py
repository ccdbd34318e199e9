"""Seeded input tables for the benchmark.

The engine reads parquet tables by name from one directory
(``sources.fixtures.load_table``). The generators below write the two
tables the benchmark's workloads read. Their shapes follow the engine's
test-data tables at sf0.001, sf0.01 and sf0.1, as profiled with DuckDB and
pyarrow (schema, counts, distinct values, value ranges):

- ``part``: 200 rows per 0.001 of scale factor; ``p_name`` one of 8 × 8
  adjective-noun pairs, 25 brands ``Brand#1``..``Brand#25``, 6 types,
  ``p_size`` 1..50, ``p_retailprice = 900 + (p_partkey % 1000) / 10`` on
  every row. The tables key from 0; here a seeded key offset varies which
  rows carry which edge, because ``synthetic_fundamentals`` keys every
  injected edge (bad tickers, missing PEG inputs, duplicate symbols) off
  ``p_partkey``.
- ``events``: 10,000 rows per 0.01 of scale factor (sf0.01 is the size
  the benchmark uses); ``user_id`` uniform over 0..rows × 1.5% − 1 (15,
  150 and 1,500 users; 45-99 events per user at sf0.1); the five event
  types equally frequent (each 19.8-20.3% at sf0.1); ``value`` rounded to
  cents with mean 49.6-50.1, median 34.6-35.7 and deviation 47.6-49.6,
  i.e. exponential with mean 50; ``props`` ``{"k": n}`` with n over
  0..99; ``ts`` over 2024-01-01..2024-01-30 (the streaming gates slice on
  fixed dates in that month), ascending with ``event_id`` = 0..rows − 1.
  ``ts`` is parquet ``TIMESTAMP(MICROS)``, not adjusted to UTC, in all
  three tables (FIXTURES.md describes it as nanoseconds; the files hold
  microseconds), so it is written the same way here.

The same seed always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUNS = ["ring", "widget", "bolt", "rod", "gear", "plate", "anvil", "gizmo"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_EVENTS_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
_EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def write_part(path: str, rows: int, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    key = int(rng.integers(0, 10_000)) + np.arange(rows, dtype=np.int64)
    name = [
        f"{_ADJECTIVES[a]} {_NOUNS[n]}"
        for a, n in zip(
            rng.integers(0, len(_ADJECTIVES), rows),
            rng.integers(0, len(_NOUNS), rows),
        )
    ]
    table = pa.table(
        {
            "p_partkey": pa.array(key, pa.int64()),
            "p_name": pa.array(name, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, rows)], pa.string()
            ),
            "p_type": pa.array(
                [_TYPES[t] for t in rng.integers(0, len(_TYPES), rows)],
                pa.string(),
            ),
            "p_size": pa.array(rng.integers(1, 51, rows), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (key % 1000) / 10.0, 1), pa.float64()
            ),
        }
    )
    pq.write_table(table, path)


def write_events(path: str, rows: int, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    ts = np.sort(rng.integers(0, _EVENTS_SPAN_US, rows)) + _EVENTS_START_US
    users = max(15, rows * 15 // 1000)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, rows), pa.int64()),
            "event_type": pa.array(
                [
                    _EVENT_TYPES[t]
                    for t in rng.integers(0, len(_EVENT_TYPES), rows)
                ],
                pa.string(),
            ),
            "value": pa.array(
                np.round(rng.exponential(50.0, rows), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
                pa.string(),
            ),
        }
    )
    pq.write_table(table, path)


WRITERS = {"part": write_part, "events": write_events}


def write_tables(sf_dir: str, sizes: dict[str, int], seed: int) -> None:
    """Write each ``{table: rows}`` of ``sizes`` as ``<sf_dir>/<table>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for table, rows in sizes.items():
        WRITERS[table](os.path.join(sf_dir, f"{table}.parquet"), rows, seed)
