"""In-memory span recorder for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: ``instrument``
replaces the public entry points of each layer with a wrapper that
records (name, start, end, parent, request id). Nothing in the program
is edited. Self time is a span's duration minus the time its child
spans cover; a child recorded on another thread (the streaming
``foreachBatch`` callback) attaches to the innermost open span of the
main thread, which is blocked waiting for it.

Spark jobs are counted per request: each request runs under its own
job group, and ``statusTracker()`` lists the group's jobs and their
stages' tasks afterwards.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

#: spans written to the trace file; later ones are only aggregated
KEEP_SPANS = 100_000


class Tracer:
    def __init__(self) -> None:
        self.phase = "setup"
        #: spans and counters are recorded only while active
        self.active = True
        self.request_id = -1
        self.spans: list[tuple] = []
        self.n_spans = 0
        #: (phase, name) -> [calls, outer calls, total ns, self ns]
        self.stats: dict[tuple[str, str], list[int]] = {}
        #: (phase, name) -> durations (ns) of the set-up phase's spans
        self.setup_durations: dict[str, list[int]] = {}
        #: (phase, counter) -> value
        self.counters: dict[tuple[str, str], float] = {}
        self._local = threading.local()
        self._main_stack = self._stack()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, n: float = 1) -> None:
        if not self.active:
            return
        key = (self.phase, name)
        self.counters[key] = self.counters.get(key, 0) + n

    def span(self, name: str, fn):
        """``fn`` wrapped so each call records a span called ``name``."""
        layer = name.rsplit(".", 1)[0]
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            st = tracer._stack()
            parent = st[-1] if st else (
                tracer._main_stack[-1] if tracer._main_stack else None
            )
            sid = tracer.n_spans
            tracer.n_spans += 1
            # [span id, start ns, child ns, layer]
            frame = [sid, time.perf_counter_ns(), 0, layer]
            st.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter_ns()
                st.pop()
                dur = end - frame[1]
                if parent is not None:
                    parent[2] += dur
                key = (tracer.phase, name)
                s = tracer.stats.get(key)
                if s is None:
                    s = tracer.stats[key] = [0, 0, 0, 0]
                s[0] += 1
                if parent is None or parent[3] != layer:
                    s[1] += 1
                s[2] += dur
                s[3] += dur - frame[2]
                if tracer.phase == "setup":
                    tracer.setup_durations.setdefault(name, []).append(dur)
                if len(tracer.spans) < KEEP_SPANS:
                    tracer.spans.append(
                        (
                            name,
                            frame[1],
                            end,
                            None if parent is None else parent[0],
                            tracer.request_id,
                            sid,
                        )
                    )

        return traced

    # ----------------------------------------------------------- queries

    def calls(self, phase: str, name: str) -> int:
        return self.stats.get((phase, name), [0, 0, 0, 0])[0]

    def total_ns(self, phase: str, name: str) -> int:
        return self.stats.get((phase, name), [0, 0, 0, 0])[2]

    def self_ns(self, phase: str, name: str) -> int:
        return self.stats.get((phase, name), [0, 0, 0, 0])[3]

    def layer_self_ns(self, phase: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for (ph, name), s in self.stats.items():
            if ph == phase:
                layer = name.rsplit(".", 1)[0]
                out[layer] = out.get(layer, 0) + s[3]
        return out

    def write(self, path: str, summary: dict) -> None:
        """Spans as JSON lines, then one summary line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, start, end, parent, req, sid in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sid,
                            "name": name,
                            "start_ns": start,
                            "end_ns": end,
                            "parent": parent,
                            "request": req,
                        }
                    )
                    + "\n"
                )
            summary = dict(summary, spans_recorded=self.n_spans,
                           spans_written=len(self.spans))
            f.write(json.dumps({"summary": summary}) + "\n")


def _patch_method(tracer: Tracer, cls, attr: str, name: str) -> None:
    raw = cls.__dict__[attr]
    if isinstance(raw, classmethod):
        setattr(cls, attr, classmethod(tracer.span(name, raw.__func__)))
    else:
        setattr(cls, attr, tracer.span(name, raw))


def _patch_function(
    tracer: Tracer, module, attr: str, name: str, after=None
) -> None:
    """Replace ``module.attr`` and every other binding of the same
    function object inside the package (``from x import f`` copies);
    ``after(result)`` sees each traced call's result."""
    orig = getattr(module, attr)
    traced = tracer.span(name, orig)
    if after is not None:
        inner = traced

        def traced(*args, **kwargs):
            result = inner(*args, **kwargs)
            after(result)
            return result

    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("uwheel_datafusion_spark"):
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads load."""
    from pyspark.sql.classic.dataframe import DataFrame

    from uwheel_datafusion_spark import engine, session
    from uwheel_datafusion_spark.operators import (
        counter,
        driver_index,
        ohlc,
        quantile_rollup,
        sketch_batch,
        twa,
        wheel,
    )
    from uwheel_datafusion_spark.plans import range_plan, sql_router
    from uwheel_datafusion_spark.streaming import wheel_stream

    _patch_function(tracer, session, "get_spark", "session.get_spark")

    for attr in ("register_table", "sql_scalar", "sql_many_rows"):
        _patch_method(tracer, engine.WheelEngine, attr, f"engine.{attr}")

    # the sketch batch tier: one engine.batch call and one collect of
    # its frame per panel group
    batch_frames: set[int] = set()
    batch = tracer.span("engine.batch", engine.WheelEngine.batch)

    def traced_batch(self, *args, **kwargs):
        frame = batch(self, *args, **kwargs)
        batch_frames.add(id(frame))
        return frame

    engine.WheelEngine.batch = traced_batch
    for attr in dir(sketch_batch):
        if attr.startswith("range_") and attr.endswith("_batch_df"):
            _patch_function(tracer, sketch_batch, attr, f"sketch_batch.{attr}")
    for module, attr in (
        (quantile_rollup, "build_histogram_rollup"),
        (ohlc, "build_ohlc_rollup"),
        (twa, "build_twa_rollup"),
        (counter, "build_counter_rollup"),
    ):
        _patch_function(tracer, module, attr, f"rollups.{attr}")

    router = sql_router.WheelSqlRouter
    decide = tracer.span("sql_router._decide", router._decide)

    def traced_decide(self, query):
        d = decide(self, query)
        tracer.count("sql_router.routed")
        if d.path == "sql":
            tracer.count("sql_router.fallback")
        return d

    router._decide = traced_decide
    _patch_method(tracer, router, "sql_scalar", "sql_router.sql_scalar")

    def count_runs(p):
        tracer.count("range_plan.runs", len(p.runs))

    _patch_function(
        tracer, range_plan, "decompose_range", "range_plan.decompose_range",
        after=count_runs,
    )

    di = driver_index.DriverWheelIndex
    for attr in (
        "query_sum", "query_count", "query_min", "query_max", "query_avg",
        "query_all", "from_minute_rows",
    ):
        _patch_method(tracer, di, attr, f"driver_index.{attr}")

    for attr in ("build", "to_driver_index"):
        _patch_method(tracer, wheel.WheelIndex, attr, f"wheel.{attr}")

    sw = wheel_stream.StreamingWheel
    for attr in ("process_available", "snapshot_index"):
        _patch_method(tracer, sw, attr, f"wheel_stream.{attr}")
    store = wheel_stream.RollupStore
    upsert = tracer.span("wheel_stream.upsert", store.upsert)

    def traced_upsert(self, rows):
        rows = list(rows)
        tracer.count("wheel_stream.upsert_rows", len(rows))
        return upsert(self, rows)

    store.upsert = traced_upsert

    # Spark execution: the actions that launch jobs on these paths
    _patch_method(tracer, DataFrame, "count", "spark.count")
    collect = DataFrame.collect
    spark_collect = tracer.span("spark.collect", collect)
    batch_collect = tracer.span("sketch_batch.collect", collect)

    def traced_collect(self):
        if id(self) in batch_frames:
            batch_frames.discard(id(self))
            return batch_collect(self)
        return spark_collect(self)

    DataFrame.collect = traced_collect


class JobCounter:
    """Spark jobs and completed tasks per request, by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._seen: set[int] = set()
        #: groups counted with every request (a stream's own jobs)
        self.extra_groups: tuple[str, ...] = ()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def finish(self, *groups: str) -> tuple[int, int]:
        """(jobs, tasks) of ``groups`` not counted before."""
        jobs = tasks = 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                if jid in self._seen:
                    continue
                self._seen.add(jid)
                jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
        return jobs, tasks
