"""Benchmark entry point: one workload, one seed, one process.

    python3 wheelbench/run.py --workload point_ranges --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a detail report (sample counts,
p99 where the sample supports it, the Spark session's configuration).
Scratch files live under ``.wheelbench/`` in the repository root; the
traced run leaves its spans in ``.wheelbench/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "1g"
#: the calibration kernel's time on the reference host (a 4-vCPU VM at
#: its usual speed)
REFERENCE_CALIBRATION_S = 0.0009
#: interpreter-bound times scale as the calibration kernel's time **
#: this. Over 40 point_ranges runs in four batches an hour apart, log
#: statement latency followed log kernel time with slope 0.59 (r = 0.94;
#: 0.41 to 0.63 per batch); over 31 stream_ingest runs in five batches,
#: log read latency followed it with slope 0.54 (r = 0.87)
DRIFT_EXPONENT = 0.5


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_spark_env(work: str) -> dict:
    """Size the local session from the CPUs this process may use and
    keep every file Spark writes inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that assembles the driver's command line too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}" '
        "pyspark-shell"
    )
    return {"cpus": cpus}


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process
    started on its behalf (the JVM, Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def end_to_end(out, session_s: float, rss_mb: float, rescaled) -> dict:
    """The workload's interpreter-bound metrics (``rescaled``: latency,
    and throughput where requests are all the work) are rescaled to the
    reference host's speed by (REFERENCE_CALIBRATION_S / the run's
    median calibration time) ** DRIFT_EXPONENT; the Spark-bound ones
    and peak memory are as measured."""
    f = (
        REFERENCE_CALIBRATION_S / statistics.median(out.calibration_s)
    ) ** DRIFT_EXPONENT
    lat = out.latencies_ns
    metrics = {
        "latency_ms": (sum(lat) / len(lat) / 1e6, "ms"),
        "throughput_rps": (len(lat) / out.elapsed_s, "1/s"),
        "freshness_s": (statistics.median(out.freshness_s), "s"),
        "ingest_rows_per_s": (statistics.median(out.ingest_rows_per_s), "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "setup_s": (session_s + statistics.median(out.setup_s), "s"),
    }
    for name in rescaled:
        value, unit = metrics[name]
        metrics[name] = (value / f if unit == "1/s" else value * f, unit)
    return metrics


def per_layer(out, tracer) -> dict:
    t = tracer
    serve = "serve"
    n_req = max(out.traced_requests, 1)
    setup = t.setup_durations

    def med_setup(name, scale):
        d = setup.get(name)
        return statistics.median(d) / scale if d else 0.0

    def mean(phase, name, scale, self_time=False):
        calls = t.calls(phase, name)
        total = t.self_ns(phase, name) if self_time else t.total_ns(phase, name)
        return total / calls / scale if calls else 0.0

    def names(prefix):
        return [n for (ph, n) in t.stats if ph == serve and n.startswith(prefix)]

    di_calls = sum(t.stats[(serve, n)][1] for n in names("driver_index.query"))
    di_self = sum(t.self_ns(serve, n) for n in names("driver_index.query"))
    fmr = [
        t.stats[(ph, n)] for (ph, n) in t.stats
        if n == "driver_index.from_minute_rows"
    ]
    fmr_calls = sum(s[0] for s in fmr)
    drains = t.calls(serve, "wheel_stream.process_available")
    spark_self = sum(t.self_ns(serve, n) for n in names("spark."))
    # the dashboard probe (point_ranges only): refreshes, then one
    # distributed agg batch
    dash, dash_agg = "dashboard", "dashboard_agg"
    refreshes = len(out.extra.get("dashboard_refresh_ms", ()))
    routed = t.counters.get((dash, "sql_router.routed"), 0)
    plans = sum(t.calls(ph, "range_plan.decompose_range") for ph in (dash, dash_agg))
    runs = sum(t.counters.get((ph, "range_plan.runs"), 0) for ph in (dash, dash_agg))
    groups = t.calls(dash, "engine.batch")
    group_ns = t.total_ns(dash, "engine.batch") + t.total_ns(
        dash, "sketch_batch.collect")
    builds = [n for (ph, n) in t.stats if ph == "dashboard_setup"
              and n.startswith("rollups.")]
    return {
        "session.start_s": (med_setup("session.get_spark", 1e9), "s"),
        "engine.register_table_s": (med_setup("engine.register_table", 1e9), "s"),
        "wheel.build_s": (med_setup("wheel.build", 1e9), "s"),
        "wheel.to_driver_index_ms": (med_setup("wheel.to_driver_index", 1e6), "ms"),
        "driver_index.from_minute_rows_ms": (
            sum(s[2] for s in fmr) / fmr_calls / 1e6 if fmr_calls else 0.0, "ms"),
        "driver_index.query_us": (di_self / di_calls / 1e3 if di_calls else 0.0, "us"),
        "driver_index.bytes": (out.extra.get("driver_index_bytes", 0), "B"),
        "sql_router.decide_us": (mean(serve, "sql_router._decide", 1e3, True), "us"),
        "sql_router.sql_scalar_self_us": (
            mean(serve, "sql_router.sql_scalar", 1e3, True), "us"),
        "sql_router.fallback_ratio": (
            t.counters.get((dash, "sql_router.fallback"), 0) / routed
            if routed else 0.0, "ratio"),
        "range_plan.runs_per_query": (runs / plans if plans else 0.0, "count"),
        "dashboard.refresh_ms": (
            statistics.median(out.extra["dashboard_refresh_ms"])
            if refreshes else 0.0, "ms"),
        "engine.sql_many_rows_self_ms": (
            mean(dash, "engine.sql_many_rows", 1e6, True), "ms"),
        "sketch_batch.groups_per_refresh": (
            groups / refreshes if refreshes else 0.0, "count"),
        "sketch_batch.group_ms": (
            group_ns / groups / 1e6 if groups else 0.0, "ms"),
        "spark.jobs_per_refresh": (
            out.extra.get("dashboard_jobs", 0) / refreshes
            if refreshes else 0.0, "count"),
        "spark.tasks_per_refresh": (
            out.extra.get("dashboard_tasks", 0) / refreshes
            if refreshes else 0.0, "count"),
        "rollups.build_s": (
            sum(t.total_ns("dashboard_setup", n) for n in builds) / 1e9, "s"),
        "wheel_stream.process_available_s": (
            mean(serve, "wheel_stream.process_available", 1e9), "s"),
        "wheel_stream.snapshot_index_ms": (
            mean(serve, "wheel_stream.snapshot_index", 1e6), "ms"),
        "wheel_stream.state_slots": (out.extra.get("state_slots", 0), "count"),
        "wheel_stream.upsert_rows": (
            t.counters.get((serve, "wheel_stream.upsert_rows"), 0) / drains
            if drains else 0.0, "count"),
        "wheel_stream.late_rows_reported": (
            out.extra.get("late_rows_reported", 0), "count"),
        "wheel_stream.late_rows_expected": (
            out.extra.get("late_rows_expected", 0), "count"),
        "spark.jobs_per_request": (out.jobs / n_req, "count"),
        "spark.tasks_per_request": (out.tasks / n_req, "count"),
        "spark.action_ms_per_request": (spark_self / n_req / 1e6, "ms"),
        # latency and throughput of the untraced requests as measured,
        # without the drift rescaling
        "serve.latency_mean_raw_ms": (
            sum(out.latencies_ns) / len(out.latencies_ns) / 1e6, "ms"),
        "serve.throughput_raw_rps": (
            len(out.latencies_ns) / out.part_elapsed_s[0], "1/s"),
        "latency_p50_ms": (pct(out.latencies_ns, 50) / 1e6, "ms"),
        # both workloads hold at least 1 000 samples, so ten lie beyond
        "latency_p99_ms": (pct(out.latencies_ns, 99) / 1e6, "ms"),
        "tracing.overhead_ratio": (
            pct(out.traced_latencies_ns, 50) / pct(out.latencies_ns, 50), "ratio"),
        "check.wrong_results": (out.wrong, "count"),
        "check.failed_ratio": (out.failed / max(out.attempted, 1), "ratio"),
        "host.calibration_ms": (statistics.median(out.calibration_s) * 1e3, "ms"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import uwheel_datafusion_spark  # noqa: F401
    except ImportError as exc:
        print(f"wheelbench: the program is not importable: {exc}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()

    from tracing import JobCounter, Tracer, instrument
    from workloads import WORKLOADS, Context, Outcome

    work = os.path.join(ROOT, ".wheelbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sizing = configure_spark_env(work)
    tracer = None
    if args.trace:
        tracer = Tracer()
        instrument(tracer)

    from uwheel_datafusion_spark import session

    spark = session.get_spark(app_name="wheelbench")
    session_s = time.perf_counter() - T_PROCESS
    conf = spark.sparkContext.getConf()
    config = {
        key: conf.get(key, None)
        for key in (
            "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        )
    }
    config.update(sizing)
    out = Outcome()
    try:
        jobs = JobCounter(spark) if tracer is not None else None
        ctx = Context(spark, args.seed, args.seconds, work, tracer, jobs)
        t0 = time.perf_counter()
        workload = WORKLOADS[args.workload](ctx)
        workload.run(out)
        wall = {"session": session_s, "workload": time.perf_counter() - t0}
        from pyspark import SparkContext

        rss = {
            "python": peak_rss_mb(os.getpid()),
            "jvm": peak_rss_mb(SparkContext._gateway.proc.pid),
        }
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    wall["stop"] = time.perf_counter() - t0
    wall["timed"] = out.elapsed_s

    lat = out.latencies_ns
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "samples": len(lat),
        "elapsed_s": out.elapsed_s,
        "latency_mean_ms": sum(lat) / len(lat) / 1e6,
        "latency_p50_ms": pct(lat, 50) / 1e6,
        "latency_p99_ms": pct(lat, 99) / 1e6 if len(lat) >= 1000 else None,
        "wrong_results": out.wrong,
        "failed_ratio": out.failed / max(out.attempted, 1),
        "setup_runs_s": out.setup_s,
        "freshness_s": out.freshness_s,
        "calibration_ms": statistics.median(out.calibration_s) * 1e3,
        "session_s": session_s,
        "late_rows_reported": out.extra.get("late_rows_reported"),
        "late_rows_expected": out.extra.get("late_rows_expected"),
        "first_error": out.extra.get("first_error"),
        "dashboard": {
            k: out.extra[k] for k in (
                "dashboard_register_s", "dashboard_refresh_ms",
                "dashboard_mismatches",
            ) if k in out.extra
        } or None,
        "spark": config,
        "wall_s": wall,
        "peak_rss_mb": rss,
    }
    if tracer is None:
        metrics = end_to_end(
            out, session_s, sum(rss.values()), WORKLOADS[args.workload].RESCALED
        )
    else:
        metrics = per_layer(out, tracer)
        detail["self_ms_per_request"] = {
            layer: ns / max(out.traced_requests, 1) / 1e6
            for layer, ns in sorted(tracer.layer_self_ns("serve").items())
        }
        tracer.write(
            os.path.join(ROOT, ".wheelbench", "traces",
                         f"{args.workload}-seed{args.seed}.jsonl"),
            detail,
        )
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": out.wrong == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
