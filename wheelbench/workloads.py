"""The workloads. Each runs one closed-loop client in this process:
the caller waits for every reply before it sends the next request.

A workload has four phases: set-up (repeated ``SETUPS`` times, the
median is reported), warm-up (not timed), the timed phase and the
correctness check against ``reference``. The timed phase of
``point_ranges`` lasts ``--seconds``; in its traced run the first half
runs with the tracer idle (to measure the tracing overhead), the second
half traced, and a fixed number of dashboard refreshes follows. The
timed phase of ``stream_ingest`` drains a fixed number of chunks; in its
traced run every snapshot is read twice, tracer idle and then traced.
"""

from __future__ import annotations

import calendar
import math
import os
import re
import time
import traceback
from datetime import datetime
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import data
import reference as ref

SETUPS = 4
#: calibration samples are taken between requests at most this often,
#: this many at a time
CALIBRATE_EVERY_S = 0.25
CALIBRATE_SAMPLES = 3


_CAL_PATTERN = re.compile(
    r"^SELECT\s+(\w+)\((\w+)\)\s+FROM\s+(\w+)\s+WHERE\s+ts\s*>=\s*'([^']+)'"
)


def calibrate() -> float:
    """Seconds one fixed pure-Python kernel takes right now: string
    formatting, a regex match, date parsing, dict and integer work — the
    kind of interpreter work a routed statement does, in code apart from
    the program. The host's speed drifts between runs (shared vCPUs);
    this time tracks it while the program is idle."""
    t0 = time.perf_counter()
    seen: dict = {}
    for i in range(100):
        q = f"SELECT SUM(v{i % 7}) FROM t WHERE ts >= '2024-01-{i % 28 + 1:02d} 10:00:00'"
        m = _CAL_PATTERN.match(q)
        day = datetime.strptime(m.group(4), "%Y-%m-%d %H:%M:%S")
        seen[(m.group(2), day)] = seen.get((m.group(2), day), 0) + i * i
    return time.perf_counter() - t0


@dataclass
class Outcome:
    """What a workload measured; ``run.py`` turns it into metrics."""

    latencies_ns: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    elapsed_s: float = 0.0
    #: seconds of each part of the timed phase (see Context.phases)
    part_elapsed_s: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    freshness_s: list = field(default_factory=list)
    #: rows made servable per second, one value per freshness sample
    ingest_rows_per_s: list = field(default_factory=list)
    #: calibration kernel times (s), taken while the program is idle
    calibration_s: list = field(default_factory=list)
    # traced run only
    traced_latencies_ns: list = field(default_factory=list)
    traced_requests: int = 0
    jobs: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)


class Context:
    def __init__(self, spark, seed, seconds, work, tracer, jobs):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.jobs = jobs

    def phases(self):
        """(traced?, seconds) of the timed phase's parts."""
        if self.tracer is None:
            return [(False, self.seconds)]
        return [(False, self.seconds / 2), (True, self.seconds / 2)]

    def set_phase(self, phase: str, traced: bool = True) -> None:
        if self.tracer is not None:
            self.tracer.phase = phase
            self.tracer.active = traced


def batch_freshness(out: Outcome) -> None:
    """A batch table is servable once registered: its freshness is a
    rebuild in a warm process, i.e. every set-up after the first. These
    are the same samples ``setup_s`` takes its median over, so on a
    batch workload ``freshness_s`` and ``ingest_rows_per_s`` (the rows
    over that time) restate the set-up figure; they are derived here
    only."""
    out.freshness_s = out.setup_s[1:]
    out.ingest_rows_per_s = [data.N_ROWS / f for f in out.freshness_s]


def ts_literal(ms) -> np.ndarray:
    """Epoch ms -> 'YYYY-MM-DD HH:MM:SS' (naive UTC)."""
    s = np.datetime_as_string(np.asarray(ms).astype("datetime64[ms]"), unit="s")
    return np.char.replace(s, "T", " ")


def _timed_loop(ctx: Context, out: Outcome, request, n_requests: float,
                parts=None):
    """Send requests 0, 1, 2, ... until each part of the timed phase
    (``parts``, by default ``ctx.phases()``) has run its seconds or
    ``n_requests`` have been sent; ``request(i)`` returns its own
    latencies in ns (so work between requests, like landing a stream
    chunk, is not counted as latency) or raises."""
    i = 0
    t_start = time.perf_counter()
    for traced, seconds in parts or ctx.phases():
        ctx.set_phase("serve", traced)
        if traced:  # jobs of the untraced part are not this part's
            ctx.jobs.finish(*ctx.jobs.extra_groups)
        lat = out.traced_latencies_ns if traced else out.latencies_ns
        t_part = time.perf_counter()
        t_end = t_part + seconds
        next_cal = 0.0
        while i < n_requests:
            if time.perf_counter() >= next_cal:
                out.calibration_s += [
                    calibrate() for _ in range(CALIBRATE_SAMPLES)
                ]
                next_cal = time.perf_counter() + CALIBRATE_EVERY_S
            if traced:
                group = f"wheelbench-{i}"
                ctx.tracer.request_id = i
                ctx.jobs.start(group)
            out.attempted += 1
            try:
                lat.extend(request(i))
            except Exception:  # a failed request is counted, not fatal
                out.failed += 1
                out.extra.setdefault("first_error", traceback.format_exc())
            if traced:
                out.traced_requests += 1
                j, t = ctx.jobs.finish(group, *ctx.jobs.extra_groups)
                out.jobs += j
                out.tasks += t
            i += 1
            if time.perf_counter() >= t_end:
                break
        out.part_elapsed_s.append(time.perf_counter() - t_part)
    ctx.set_phase("check", False)
    out.elapsed_s = time.perf_counter() - t_start
    return i


# --------------------------------------------------------------- point_ranges


class PointRanges:
    """Reference-shaped scalar statements through ``sql_scalar``.

    Half the ranges are minute-aligned, half hour-aligned (the fixed
    hour generator, not the reference's minute-offset variant); 60 % ask
    SUM, the rest COUNT / AVG / MIN / MAX. Each is served from the
    driver index with no Spark job, so parsing and routing dominate."""

    #: end-to-end metrics rescaled for host drift (run.DRIFT_EXPONENT):
    #: the statements are interpreter work and all of the timed phase
    RESCALED = ("latency_ms", "throughput_rps")
    POOL = 300_000
    WARMUP = 3_000
    SHARES = (0.6, 0.1, 0.1, 0.1, 0.1)  # over reference.AGGS

    def __init__(self, ctx: Context) -> None:
        from uwheel_datafusion_spark.bench.harness import (
            gen_hour_ranges,
            gen_minute_ranges,
        )

        self.ctx = ctx
        seed = ctx.seed
        self.path = data.write_parquet(
            data.make_events(seed), os.path.join(ctx.work, "events.parquet")
        )
        half = self.POOL // 2
        ranges = gen_minute_ranges(
            data.WATERMARK_MS, data.HORIZON_MS, half, seed=seed
        ) + gen_hour_ranges(data.WATERMARK_MS, data.HORIZON_MS, half, seed=seed + 1)
        rng = np.random.default_rng(seed + 2)
        order = rng.permutation(len(ranges))
        r = np.asarray(ranges, dtype=np.int64)[order]
        self.s, self.e = r[:, 0], r[:, 1]
        self.aggs = rng.choice(len(ref.AGGS), size=len(r), p=self.SHARES)
        agg_sql = np.array([f"{a}(value)" for a in ref.AGGS])[self.aggs]
        lo, hi = ts_literal(self.s), ts_literal(self.e)
        self.statements = [
            f"SELECT {a} FROM events WHERE ts >= '{x}' AND ts < '{y}'"
            for a, x, y in zip(agg_sql, lo, hi)
        ]

    def setup(self):
        from uwheel_datafusion_spark.engine import WheelEngine

        self.ctx.spark.catalog.clearCache()
        eng = WheelEngine(self.ctx.spark)
        eng.register_table(
            "events", self.path, ts_col="ts", value_col="value",
            watermark_ms=data.WATERMARK_MS, advance_to_ms=data.ADVANCE_MS,
        )
        eng.index("events").to_driver_index()
        return eng

    def run(self, out: Outcome) -> None:
        ctx = self.ctx
        for _ in range(SETUPS):
            out.calibration_s.append(calibrate())
            t0 = time.perf_counter()
            eng = self.setup()
            out.setup_s.append(time.perf_counter() - t0)
        batch_freshness(out)
        out.extra["driver_index_bytes"] = (
            eng.index("events").to_driver_index().size_bytes()
        )
        ctx.set_phase("warmup", False)
        for q in self.statements[-self.WARMUP:]:
            eng.sql_scalar(q)

        answers: list = []
        stmts = self.statements
        pool = len(stmts) - self.WARMUP
        sql_scalar = eng.sql_scalar
        clock = time.perf_counter_ns

        def request(i):
            q = stmts[i % pool]
            t0 = clock()
            a = sql_scalar(q)
            t1 = clock()
            answers.append((i, a))
            return (t1 - t0,)

        _timed_loop(ctx, out, request, math.inf)
        reference = ref.RangeReference.from_parquet(self.path)
        idx = np.array([i % pool for i, _ in answers], dtype=np.int64)
        want = reference.answers(self.aggs[idx], self.s[idx], self.e[idx])
        out.wrong = sum(1 for (_, got), w in zip(answers, want) if got != w)
        if ctx.tracer is not None:
            out.wrong += DashboardProbe(ctx, self.path, reference).run(out)


class DashboardProbe:
    """A fixed number of dashboard refreshes, run by ``point_ranges``'
    traced run after its timed phase so that the rollup, sketch-batch
    and fallback layers get spans. A second engine registers the same
    table with the quantile, OHLC, TWA and counter rollups; each refresh
    is one ``sql_many_rows`` call with nine panels over one seeded
    hour-aligned range: index-served scalars, a rollup-served hourly
    GROUP BY, APPROX_MEDIAN, an OHLC candle, TWA, M4, a counter
    increase, and two statements the index cannot serve (an unaligned
    endpoint; an extra predicate) that fall back to Spark SQL. Then one
    ``batch`` call runs the refreshes' ranges through the wheel's
    distributed ``agg`` family. A refresh takes seconds, so the count
    is fixed rather than timed; its figures are per-layer only."""

    REFRESHES = 2
    M4_PIXELS = 48

    def __init__(self, ctx: Context, path: str, reference) -> None:
        from uwheel_datafusion_spark.bench.harness import gen_hour_ranges

        self.ctx = ctx
        self.path = path
        self.reference = reference
        #: (start, end, wrong panel positions) per wrong refresh
        self.mismatches: list = []
        # the last range warms up, untraced
        self.ranges = gen_hour_ranges(
            data.WATERMARK_MS, data.HORIZON_MS, self.REFRESHES + 1,
            seed=ctx.seed + 4,
        )

    def panels(self, s: int, e: int) -> list[str]:
        lo, hi = ts_literal([s, e])
        lo_off = str(ts_literal(s + 30_000))
        where = f"FROM events WHERE ts >= '{lo}' AND ts < '{hi}'"
        return [
            f"SELECT SUM(value) AS total, COUNT(*) AS n, AVG(value) AS mean, "
            f"MIN(value) AS lo, MAX(value) AS hi {where}",
            f"SELECT date_trunc('hour', ts) AS h, SUM(value) AS s, "
            f"COUNT(*) AS n {where} GROUP BY 1",
            f"SELECT APPROX_MEDIAN(value) AS med {where}",
            f"SELECT min_by(value, ts) AS open, max(value) AS high, "
            f"min(value) AS low, max_by(value, ts) AS close {where}",
            f"SELECT TWA(value, ts) AS twa {where}",
            f"SELECT M4(value, ts, {self.M4_PIXELS}) {where}",
            f"SELECT COUNTER_INCREASE(value, ts) AS inc {where}",
            f"SELECT SUM(value) AS s FROM events WHERE ts >= '{lo_off}' "
            f"AND ts < '{hi}'",
            f"SELECT SUM(value) AS s {where} AND value > 100",
        ]

    def run(self, out: Outcome) -> int:
        """Refresh, then return the number of wrong panels."""
        from uwheel_datafusion_spark.engine import WheelEngine

        ctx = self.ctx
        ctx.set_phase("dashboard_setup")
        t0 = time.perf_counter()
        eng = WheelEngine(ctx.spark)
        eng.register_table(
            "events", self.path, ts_col="ts", value_col="value",
            watermark_ms=data.WATERMARK_MS, advance_to_ms=data.ADVANCE_MS,
            quantiles=True, ohlc=True, twa=True, counter=True,
        )
        out.extra["dashboard_register_s"] = time.perf_counter() - t0
        ctx.set_phase("warmup", False)
        eng.sql_many_rows(self.panels(*self.ranges[-1]))

        ranges = self.ranges[:-1]
        results, refresh_ms = [], []
        jobs = tasks = 0
        ctx.set_phase("dashboard")
        for i, (s, e) in enumerate(ranges):
            group = f"wheelbench-dashboard-{i}"
            ctx.jobs.start(group)
            out.attempted += 1
            t0 = time.perf_counter_ns()
            try:
                rows = eng.sql_many_rows(self.panels(s, e))
            except Exception:  # a failed refresh is counted, not fatal
                out.failed += 1
                out.extra.setdefault("first_error", traceback.format_exc())
            else:
                refresh_ms.append((time.perf_counter_ns() - t0) / 1e6)
                results.append((s, e, rows))
            j, t = ctx.jobs.finish(group)
            jobs, tasks = jobs + j, tasks + t
        ctx.set_phase("dashboard_agg")
        agg = eng.batch("events", "agg", ranges).collect()
        ctx.set_phase("check", False)
        out.extra.update(
            dashboard_refresh_ms=refresh_ms,
            dashboard_jobs=jobs,
            dashboard_tasks=tasks,
            dashboard_mismatches=self.mismatches,
        )
        duck = ref.DuckReference(self.path)
        try:
            wrong = sum(
                self.check(duck, s, e, rows) for s, e, rows in results
            )
        finally:
            duck.close()
        for r in agg:
            s, e = ranges[r["query_id"]]
            want = self.reference.query_all(s, e)
            wrong += (
                r["sum_value"], r["cnt"], r["min_value"], r["max_value"]
            ) != (want["sum"], want["cnt"], want["min"], want["max"])
        return wrong

    def check(self, duck, s, e, rows) -> int:
        """Number of panels whose answer differs from the reference."""
        from uwheel_datafusion_spark.operators.quantile_rollup import (
            DEFAULT_BIN_WIDTH,
        )

        lo, hi = (str(x) for x in ts_literal([s, e]))
        want = self.reference.query_all(s, e)
        ts, vals = self.reference.rows_in(s, e)
        ok = []
        (r,) = rows[0]
        ok.append(
            (r.total, r.n, r.mean, r.lo, r.hi)
            == tuple(want[k] for k in ("sum", "cnt", "avg", "min", "max"))
        )
        got = {calendar.timegm(x.h.timetuple()) * 1000: (x.s, x.n)
               for x in rows[1]}
        ok.append(got == duck.hourly(lo, hi))
        (r,) = rows[2]
        med = ref.median_rank_value(vals)
        ok.append(
            (r.med is None and med is None)
            or (r.med is not None and abs(r.med - med) <= DEFAULT_BIN_WIDTH)
        )
        (r,) = rows[3]
        ok.append((r.open, r.high, r.low, r.close) == duck.ohlc(lo, hi))
        (r,) = rows[4]
        ok.append(r.twa == ref.twa(ts, vals))
        got = {
            x.px_ms: (x.open, x.high, x.low, x.close, x.cnt) for x in rows[5]
        }
        ok.append(got == ref.m4(ts, vals, s, e, self.M4_PIXELS))
        (r,) = rows[6]
        ok.append(r.inc == ref.counter_increase(ts, vals))
        lo_off = str(ts_literal(s + 30_000))
        (r,) = rows[7]
        ok.append(ref.close_enough(
            r.s, duck.fallback_sum(lo_off, hi, None), ref.FALLBACK_REL_TOL
        ))
        (r,) = rows[8]
        ok.append(ref.close_enough(
            r.s, duck.fallback_sum(lo, hi, 100), ref.FALLBACK_REL_TOL
        ))
        bad = [i for i, x in enumerate(ok) if not x]
        if bad:
            self.mismatches.append((s, e, bad))
        return len(bad)


# --------------------------------------------------------------- stream_ingest


class StreamIngest:
    """Daily chunks land in a source directory; a ``StreamingWheel`` with
    a 10-minute watermark delay drains each (one ``process_available``
    per chunk), snapshots its index, and a burst of ``query_all`` reads
    runs against the fresh snapshot. Chunks carry out-of-order rows
    within the delay (kept) and rows more than a day late (dropped)."""

    #: end-to-end metrics rescaled for host drift (run.DRIFT_EXPONENT):
    #: the reads are interpreter work, while drains (and so throughput,
    #: freshness and ingest rate) are Spark work that does not follow
    #: the calibration kernel
    RESCALED = ("latency_ms",)
    DELAY = "10 minutes"
    DELAY_MS = 10 * data.MINUTE_MS
    READS_PER_SNAPSHOT = 1_000
    #: the timed phase drains a fixed number of chunks, about
    #: ``--seconds`` at this many seconds a chunk on the reference host;
    #: never a time bound, because the stream's state grows with every
    #: chunk and its figures would then depend on how far a run got
    CHUNK_S_NOMINAL = 1.0

    def __init__(self, ctx: Context) -> None:
        from uwheel_datafusion_spark.bench.harness import gen_minute_ranges

        self.ctx = ctx
        events = data.make_events(ctx.seed)
        self.chunks = data.make_chunks(events, ctx.seed)
        self.staged = []
        for c in self.chunks:
            path = os.path.join(ctx.work, "staged", f"day-{c.day:02d}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(data.chunk_table(c, ctx.seed), path)
            self.staged.append(path)
        self.src = os.path.join(ctx.work, "source")
        os.makedirs(self.src)
        self.n_chunks = min(
            len(self.chunks) - 1,
            max(2, round(ctx.seconds / self.CHUNK_S_NOMINAL)),
        )
        self.reads = gen_minute_ranges(
            data.WATERMARK_MS, data.HORIZON_MS,
            self.READS_PER_SNAPSHOT * len(self.chunks), seed=ctx.seed + 3,
        )

    def land(self, day: int) -> float:
        os.replace(
            self.staged[day], os.path.join(self.src, f"day-{day:02d}.parquet")
        )
        return time.perf_counter()

    def start(self, k: int):
        from uwheel_datafusion_spark.streaming.wheel_stream import StreamingWheel

        stream = (
            self.ctx.spark.readStream.schema(
                "event_id long, ts timestamp_ntz, user_id long, "
                "event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
            .select("ts", "value")
        )
        sw = StreamingWheel(stream, "ts", "value", watermark_delay=self.DELAY)
        sw.start(os.path.join(self.ctx.work, f"checkpoint-{k}"))
        sw.process_available()
        return sw, sw.snapshot_index(data.WATERMARK_MS, data.ADVANCE_MS)

    def run(self, out: Outcome) -> None:
        ctx = self.ctx
        self.land(0)
        for k in range(SETUPS):
            if k:
                sw.stop()
            out.calibration_s.append(calibrate())
            t0 = time.perf_counter()
            sw, snap = self.start(k)
            out.setup_s.append(time.perf_counter() - t0)
        ctx.set_phase("warmup", False)
        snapshots = {0: []}
        self._reads(snap, 0, snapshots[0])
        latest = [snap]

        def request(i):
            day = i + 1
            t_land = self.land(day)
            sw.process_available()
            latest[0] = sw.snapshot_index(data.WATERMARK_MS, data.ADVANCE_MS)
            fresh = time.perf_counter() - t_land
            out.freshness_s.append(fresh)
            chunk = self.chunks[day]
            out.ingest_rows_per_s.append((len(chunk.kept) + len(chunk.late)) / fresh)
            snapshots[day] = []
            if ctx.tracer is not None:
                # the same reads untraced, for the tracing overhead
                ctx.set_phase("serve", False)
                out.latencies_ns.extend(
                    self._reads(latest[0], day, snapshots[day])
                )
                ctx.set_phase("serve", True)
            return self._reads(latest[0], day, snapshots[day])

        if ctx.jobs is not None:
            # micro-batches run on the stream's own thread, under the
            # query's run id as job group
            ctx.jobs.extra_groups = (str(sw._query.runId),)
        served = _timed_loop(
            ctx, out, request, self.n_chunks,
            parts=[(ctx.tracer is not None, math.inf)],
        )
        out.extra["state_slots"] = len(sw.store.slots)
        out.extra["late_rows_reported"] = sw.store.n_late_rows
        out.extra["driver_index_bytes"] = latest[0].size_bytes()
        sw.stop()
        out.wrong, out.extra["late_rows_expected"] = self.check(
            served, snapshots
        )

    def _reads(self, snap, day, answers) -> list:
        clock = time.perf_counter_ns
        base = day * self.READS_PER_SNAPSHOT
        lat = []
        for s, e in self.reads[base: base + self.READS_PER_SNAPSHOT]:
            t0 = clock()
            a = snap.query_all(s, e)
            lat.append(clock() - t0)
            answers.append((s, e, a))
        return lat

    def check(self, served: int, snapshots: dict) -> tuple[int, int]:
        """Wrong read answers, and the late rows the watermark rule drops
        from the chunks the final query drained."""
        tables = [
            pq.read_table(
                os.path.join(self.src, f"day-{d:02d}.parquet"),
                columns=["ts", "value"],
            )
            for d in range(served + 1)
        ]
        ts = [t["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
              for t in tables]
        masks = ref.watermark_split([x // 1000 for x in ts], self.DELAY_MS)
        wrong = 0
        keep_ts: list = []
        keep_v: list = []
        for day, (t, tab, m) in enumerate(zip(ts, tables, masks)):
            keep_ts.append(t[m])
            keep_v.append(tab["value"].to_numpy()[m])
            if day not in snapshots:
                continue
            want = ref.RangeReference(
                np.concatenate(keep_ts), np.concatenate(keep_v)
            )
            for s, e, got in snapshots[day]:
                if got != want.query_all(s, e):
                    wrong += 1
        late = int(sum((~m).sum() for m in masks))
        return wrong, late


WORKLOADS = {
    "point_ranges": PointRanges,
    "stream_ingest": StreamIngest,
}
