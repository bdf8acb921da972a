"""Expected answers, computed apart from the program under test.

Range scalars come from NumPy prefix sums over the micro-quantized
values (the program's exact-sum policy: ``round(value * 1e6)`` summed as
integers, one int-to-double conversion and one division at the end),
so SUM, COUNT and AVG compare exactly. MIN and MAX come from per-minute
extremes reduced over the range. The dashboard's grouped, candle and
fallback panels come from DuckDB over the same parquet file. Everything
here runs outside the timed phase.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow.parquet as pq

from data import MINUTE_MS, WATERMARK_MS, HORIZON_MS

QUANT_SCALE = 1_000_000

AGGS = ("SUM", "COUNT", "AVG", "MIN", "MAX")

#: relative tolerance for sums the fallback path adds as doubles
#: (Spark's SUM(double) depends on partition order; the index paths
#: add scaled integers and are compared exactly)
FALLBACK_REL_TOL = 1e-9


def micros(values: np.ndarray) -> np.ndarray:
    """``round(v * 1e6)`` half away from zero, as the program rounds."""
    scaled = values * QUANT_SCALE
    return np.where(
        scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
    ).astype(np.int64)


class RangeReference:
    """SUM / COUNT / AVG / MIN / MAX over minute-aligned ``[s, e)``."""

    def __init__(self, ts_us: np.ndarray, value: np.ndarray) -> None:
        order = np.argsort(ts_us, kind="stable")
        self.ts_ms = ts_us[order] // 1000
        self.value = value[order]
        self.sum_prefix = np.concatenate(([0], np.cumsum(micros(self.value))))
        n_min = HORIZON_MS // MINUTE_MS
        minute = (self.ts_ms - WATERMARK_MS) // MINUTE_MS
        inside = (minute >= 0) & (minute < n_min)
        self.min_by_minute = np.full(n_min, np.inf)
        self.max_by_minute = np.full(n_min, -np.inf)
        np.minimum.at(self.min_by_minute, minute[inside], self.value[inside])
        np.maximum.at(self.max_by_minute, minute[inside], self.value[inside])

    @classmethod
    def from_parquet(cls, path: str) -> "RangeReference":
        t = pq.read_table(path, columns=["ts", "value"])
        return cls(
            t["ts"].to_numpy().astype("datetime64[us]").astype(np.int64),
            t["value"].to_numpy(),
        )

    def _rows(self, s: np.ndarray, e: np.ndarray):
        lo = np.searchsorted(self.ts_ms, s, side="left")
        hi = np.searchsorted(self.ts_ms, e, side="left")
        return lo, hi

    def _extreme(self, ufunc, table, s, e) -> np.ndarray:
        if len(s) == 0:
            return np.empty(0)
        a = (s - WATERMARK_MS) // MINUTE_MS
        b = (e - WATERMARK_MS) // MINUTE_MS
        idx = np.empty(2 * len(a), dtype=np.int64)
        idx[0::2] = a
        idx[1::2] = np.minimum(b, len(table) - 1)
        out = ufunc.reduceat(table, idx)[0::2]
        # reduceat stops one short when b == len(table)
        last = b == len(table)
        if last.any():
            tail = np.array([ufunc.reduce(table[x:]) for x in a[last]])
            out[last] = tail
        return out

    def answers(self, aggs: np.ndarray, s: np.ndarray, e: np.ndarray) -> list:
        """Expected ``sql_scalar`` answers: ``aggs`` indexes AGGS."""
        lo, hi = self._rows(s, e)
        cnt = hi - lo
        total = self.sum_prefix[hi] - self.sum_prefix[lo]
        out: list = [None] * len(s)
        ext_idx = {3: np.flatnonzero(aggs == 3), 4: np.flatnonzero(aggs == 4)}
        ext = {
            3: self._extreme(np.minimum, self.min_by_minute,
                             s[ext_idx[3]], e[ext_idx[3]]),
            4: self._extreme(np.maximum, self.max_by_minute,
                             s[ext_idx[4]], e[ext_idx[4]]),
        }
        for code in (3, 4):
            for i, v in zip(ext_idx[code], ext[code]):
                out[i] = float(v) if cnt[i] else None
        for i in np.flatnonzero(aggs < 3):
            c = int(cnt[i])
            code = aggs[i]
            if code == 1:
                out[i] = c
            elif c == 0:
                out[i] = None
            elif code == 0:
                out[i] = float(int(total[i])) / QUANT_SCALE
            else:
                out[i] = float(int(total[i])) / float(c) / QUANT_SCALE
        return out

    def query_all(self, s: int, e: int) -> dict:
        """Expected ``DriverWheelIndex.query_all`` for one range."""
        sa, ea = np.array([s]), np.array([e])
        row = [self.answers(np.array([k]), sa, ea)[0] for k in range(5)]
        return {
            "sum": row[0], "cnt": row[1], "avg": row[2],
            "min": row[3], "max": row[4],
        }

    def rows_in(self, s: int, e: int) -> tuple[np.ndarray, np.ndarray]:
        lo, hi = self._rows(np.array([s]), np.array([e]))
        return self.ts_ms[lo[0]:hi[0]], self.value[lo[0]:hi[0]]


def median_rank_value(values: np.ndarray) -> float | None:
    """The rank-ceil(n/2) element, which the histogram median's bin
    must contain."""
    if len(values) == 0:
        return None
    r = math.ceil(0.5 * len(values))
    return float(np.partition(values, r - 1)[r - 1])


def twa(ts_ms: np.ndarray, values: np.ndarray) -> float | None:
    """Last-observation-carried-forward time-weighted average with the
    program's exact policy: integer micros x ms areas, one division."""
    if len(ts_ms) == 0:
        return None
    order = np.lexsort((values, ts_ms))
    t, v = ts_ms[order], values[order]
    if t[-1] == t[0]:
        return float(v[0])
    area = int(np.sum(micros(v[:-1]) * np.diff(t)))
    return float(area) / QUANT_SCALE / float(t[-1] - t[0])


def m4(ts_ms: np.ndarray, values: np.ndarray, s: int, e: int, n_px: int,
       slot_ms: int = MINUTE_MS) -> dict:
    """px_ms -> (open, high, low, close, cnt); pixel width is the range
    over ``n_px`` rounded up to whole slots."""
    per_px = -(-(e - s) // n_px)
    px = -(-per_px // slot_ms) * slot_ms
    out: dict = {}
    if len(ts_ms) == 0:
        return out
    pix = (ts_ms - s) // px
    starts = np.flatnonzero(np.concatenate(([True], pix[1:] != pix[:-1])))
    ends = np.concatenate((starts[1:], [len(pix)]))
    highs = np.maximum.reduceat(values, starts)
    lows = np.minimum.reduceat(values, starts)
    for a, b, hi, lo in zip(starts, ends, highs, lows):
        out[int(s + pix[a] * px)] = (
            float(values[a]), float(hi), float(lo), float(values[b - 1]),
            int(b - a),
        )
    return out


def counter_increase(ts_ms: np.ndarray, values: np.ndarray) -> float | None:
    """Reset-aware increase over the (ts, value)-ordered samples: each
    step adds ``v1 - v0`` when the value grew, else ``v1`` (a reset), in
    integer micros with one division at the end."""
    if len(ts_ms) < 2:
        return None
    order = np.lexsort((values, ts_ms))
    vm = micros(values[order])
    step = np.where(vm[1:] >= vm[:-1], vm[1:] - vm[:-1], vm[1:])
    return float(int(step.sum())) / QUANT_SCALE


class DuckReference:
    """Grouped, candle and fallback panels from DuckDB."""

    def __init__(self, path: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')"
        )

    def close(self) -> None:
        self.con.close()

    def hourly(self, lo: str, hi: str) -> dict:
        rows = self.con.execute(
            "SELECT epoch_ms(date_trunc('hour', ts)) AS h, "
            "CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) "
            "/ 1000000 AS s, COUNT(*) AS n FROM events "
            "WHERE ts >= CAST(? AS TIMESTAMP) AND ts < CAST(? AS TIMESTAMP) "
            "GROUP BY 1",
            [lo, hi],
        ).fetchall()
        return {int(h): (float(s), int(n)) for h, s, n in rows}

    def ohlc(self, lo: str, hi: str) -> tuple:
        return tuple(
            self.con.execute(
                "SELECT arg_min(value, ts), max(value), min(value), "
                "arg_max(value, ts) FROM events "
                "WHERE ts >= CAST(? AS TIMESTAMP) AND ts < CAST(? AS TIMESTAMP)",
                [lo, hi],
            ).fetchone()
        )

    def fallback_sum(self, lo: str, hi: str, min_value: float | None) -> float:
        extra = "" if min_value is None else f" AND value > {min_value}"
        (v,) = self.con.execute(
            "SELECT CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)"
            " / 1000000 FROM events "
            "WHERE ts >= CAST(? AS TIMESTAMP) AND ts < CAST(? AS TIMESTAMP)"
            + extra,
            [lo, hi],
        ).fetchone()
        return v


def close_enough(got, want, rel: float) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return abs(got - want) <= rel * max(abs(want), 1.0)


def watermark_split(chunks_ts_ms: list[np.ndarray], delay_ms: int):
    """Apply the streaming watermark rule chunk by chunk: a row is late
    when its event time is below the watermark, which trails the newest
    event time of earlier chunks by ``delay_ms``. Returns a boolean
    keep-mask per chunk."""
    newest = None
    masks = []
    for ts in chunks_ts_ms:
        wm = -np.inf if newest is None else newest - delay_ms
        masks.append(ts >= wm)
        if len(ts):
            newest = ts.max() if newest is None else max(newest, ts.max())
    return masks
