"""Seeded inputs: the events table and the stream chunks.

The events table has the shape of the repository's ``events`` fixture
(100 000 rows over the 30 days from 2024-01-01, value ≈ exponential with
mean 50 and two decimals, five event types, 1 500 users), generated
from the workload seed so that the benchmark reads nothing outside its
own checkout. Timestamps keep microsecond precision and have distinct
millisecond floors, so the order of events is the same at the program's
millisecond grain as at the file's microsecond grain.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ROWS = 100_000
N_DAYS = 30
WATERMARK_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
HORIZON_MS = N_DAYS * DAY_MS
ADVANCE_MS = WATERMARK_MS + HORIZON_MS
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

#: stream_ingest: half the rows of the last minutes of each day arrive
#: with the next day's chunk (kept: within the 10-minute watermark
#: delay), and each chunk from day 2 on carries rows more than a day
#: behind the watermark (dropped)
OUT_OF_ORDER_WINDOW_MS = 5 * MINUTE_MS
LATE_PER_CHUNK = 2


@dataclass
class Events:
    """Column arrays of the events table, sorted by ``ts_us``."""

    event_id: np.ndarray
    ts_us: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray  # index into EVENT_TYPES
    value: np.ndarray

    def __len__(self) -> int:
        return len(self.ts_us)

    def take(self, idx: np.ndarray) -> "Events":
        return Events(
            self.event_id[idx],
            self.ts_us[idx],
            self.user_id[idx],
            self.event_type[idx],
            self.value[idx],
        )

    def to_arrow(self) -> pa.Table:
        return pa.table(
            {
                "event_id": pa.array(self.event_id, pa.int64()),
                "ts": pa.array(self.ts_us, pa.timestamp("us")),
                "user_id": pa.array(self.user_id, pa.int64()),
                "event_type": pa.array(
                    np.asarray(EVENT_TYPES, dtype=object)[self.event_type],
                    pa.string(),
                ),
                "value": pa.array(self.value, pa.float64()),
            }
        )


def make_events(seed: int, n: int = N_ROWS) -> Events:
    rng = np.random.default_rng(seed)
    # distinct millisecond offsets: oversample, dedupe, then draw n
    ms = np.unique(rng.integers(0, HORIZON_MS, size=n + n // 8))
    ms = np.sort(rng.choice(ms, size=n, replace=False))
    ts_us = (WATERMARK_MS + ms) * 1000 + rng.integers(0, 1000, size=n)
    value = np.round(rng.exponential(50.0, size=n), 2)
    return Events(
        event_id=np.arange(n, dtype=np.int64),
        ts_us=ts_us.astype(np.int64),
        user_id=rng.integers(0, 1500, size=n, dtype=np.int64),
        event_type=rng.integers(0, len(EVENT_TYPES), size=n),
        value=value,
    )


def write_parquet(events: Events, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(events.to_arrow(), path)
    return path


# ------------------------------------------------------------------ stream


@dataclass
class Chunk:
    """One daily file of the replay: ``kept`` rows must reach the
    index, ``late`` rows must be dropped by the watermark."""

    day: int
    kept: Events
    late: Events


def make_chunks(events: Events, seed: int) -> list[Chunk]:
    """Split ``events`` into 30 daily chunks, then seed disorder: some
    rows from the last minutes of day d-1 arrive with chunk d (inside
    the 10-minute delay, so they must be kept), and chunk d >= 2 also
    carries extra rows more than a day behind the watermark (dropped).
    """
    rng = np.random.default_rng(seed + 1)
    ts_ms = events.ts_us // 1000
    day = (ts_ms - WATERMARK_MS) // DAY_MS
    home = day.copy()
    for d in range(1, N_DAYS):
        start = WATERMARK_MS + d * DAY_MS
        tail = np.flatnonzero(
            (ts_ms >= start - OUT_OF_ORDER_WINDOW_MS) & (ts_ms < start)
        )
        home[rng.choice(tail, size=len(tail) // 2, replace=False)] = d
    next_id = int(events.event_id.max()) + 1
    chunks = []
    for d in range(N_DAYS):
        kept = events.take(np.flatnonzero(home == d))
        n_late = LATE_PER_CHUNK if d >= 2 else 0
        start = WATERMARK_MS + d * DAY_MS
        # more than a day behind the watermark (which trails the
        # newest row seen so far by 10 minutes) but inside the horizon
        late_ms = np.sort(
            rng.integers(WATERMARK_MS, start - DAY_MS - HOUR_MS, size=n_late)
        )
        late = Events(
            event_id=np.arange(next_id, next_id + n_late, dtype=np.int64),
            ts_us=late_ms * 1000,
            user_id=rng.integers(0, 1500, size=n_late, dtype=np.int64),
            event_type=rng.integers(0, len(EVENT_TYPES), size=n_late),
            value=np.round(rng.exponential(50.0, size=n_late), 2),
        )
        next_id += n_late
        chunks.append(Chunk(d, kept, late))
    return chunks


def chunk_table(chunk: Chunk, seed: int) -> pa.Table:
    """The chunk's rows in file order: shuffled, so disorder inside a
    file is exercised too."""
    t = pa.concat_tables([chunk.kept.to_arrow(), chunk.late.to_arrow()])
    perm = np.random.default_rng(seed + 100 + chunk.day).permutation(len(t))
    return t.take(pa.array(perm))
