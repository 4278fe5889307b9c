"""The benchmark's workloads and the harness that runs them.

A run builds its inputs from the seed, starts a session, makes one
untimed warm-up pass (whose outputs are checked against the DuckDB
oracles), then measures for the requested number of seconds. Only the
package's public entry points are called: ``session.get_spark``,
``registry.queries()``, ``streaming.pipeline.run_microbatch_pipeline``
and ``caching.release_caches``.
"""

from __future__ import annotations

import logging
import os
import random
import resource
import statistics
import threading
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime
from time import perf_counter, time


import duckdb
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from iot_big_data_engineering_spark import registry
from iot_big_data_engineering_spark.caching import release_caches
from iot_big_data_engineering_spark.session import get_spark
from iot_big_data_engineering_spark.sources.sensor_view import quality_checked
from iot_big_data_engineering_spark.streaming.pipeline import run_microbatch_pipeline
from perfbench import datagen
from perfbench.tracing import (
    Tracer,
    covered_seconds,
    group_counters,
    read_events,
    replan_phases,
    self_times,
    tracker_phases,
)
from tests.oracle import compare, run_oracle

log = logging.getLogger("perfbench")

API_REQUESTS = (
    "o1_filtered_scan_paginated", "o1b_filtered_scan_keyset", "o4_anomaly_listing",
    "p7_vehicle_scan", "p8_date_bucket", "p10_json_extract", "a4_vehicle_analytics",
    "a9_vehicle_topk", "m10_hourly_quality", "m11_liveness", "m12_latency",
    "m13_throughput", "m14_anomaly_rate", "m15_alerts",
)
BATCH_QUERIES = (
    "a1_windowed_analytics", "a2_daily_analytics", "a2_weekly_analytics",
    "a2_monthly_analytics", "a3_sensor_type_measurements", "a5_quality_histogram",
    "a6_anomaly_analytics", "a7_summary_report", "a8_sensor_type_report",
    "j1_pricing_summary", "j3_shipping_priority", "j6_forecast_revenue",
    "j8_market_share", "j9_profit_by_nation", "j10_order_rollup", "j18_large_orders",
)
CORPUS_QUERIES = ("d4_minhash_lsh_dedup", "d7_dedup_clusters_full")


@dataclass(frozen=True)
class QueryWorkload:
    """Registered queries run over seeded tables at scale factor ``sf``.

    ``sink="collect"``: a closed loop of one client; each query is one
    request whose rows are collected, as the API returns them.
    ``sink="noop"``: repeated passes over all queries, each result
    written to the ``noop`` sink, as the batch job does.
    """

    name: str
    queries: tuple[str, ...]
    sf: float
    sink: str


@dataclass(frozen=True)
class StreamWorkload:
    """Backlogs of time-ordered event files, each drained one file per
    micro-batch through the reference pipeline by its own streaming query,
    one after another until the measured time is used up."""

    name: str
    rows_per_file: int
    files_per_drain: int


WORKLOADS = {
    w.name: w
    for w in (
        QueryWorkload("api_serving", API_REQUESTS, sf=0.1, sink="collect"),
        QueryWorkload("sensor_batch", BATCH_QUERIES, sf=0.1, sink="noop"),
        QueryWorkload("corpus_dedup", CORPUS_QUERIES, sf=0.01, sink="noop"),
        StreamWorkload("stream_ingest", rows_per_file=2000, files_per_drain=6),
    )
}

# Untimed passes (query workloads) or drains (stream_ingest) before
# measuring: the first runs two to four times as slow as a warm one. Later
# passes keep getting faster for a while; one warm-up pass leaves more of
# the run budget for measured passes.
WARMUP_PASSES = 1

STREAM_PHASES = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
}
# Order of the phases inside one trigger (MicroBatchExecution), used to
# lay out their spans.
_TRIGGER_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Outcome:
    """What one workload run measured."""

    setup_s: float
    unit_ms: list[float]  # wall time of each measured request / query run / micro-batch
    latency_ms: float  # latency_p50_ms: median unit, or for noop passes the sum of per-query medians
    throughput_per_s: float
    attempted: int
    failed: int
    layer_units: int  # divisor of the per-layer table: requests, passes or micro-batches
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, int] = field(default_factory=dict)  # stream_ingest: drains, files, rows
    stream_run_ids: set[str] = field(default_factory=set)  # job groups of measured streaming queries


class Bench:
    """One run: the session, its tracer and its operation counts."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work_dir: str, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.cores = cores
        self.tracer = Tracer(traced)
        self.event_dir = os.path.join(work_dir, "eventlog") if traced else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.session_s = 0.0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def start_session(self) -> None:
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        t = perf_counter()
        with self.tracer.span("session", "setup"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.session_s = perf_counter() - t

    def job_group(self, group: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, group)

    def attempt(self, what: str, fn):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            log.exception("operation failed: %s", what)
            return None

    def peak_rss_mb(self) -> float:
        """Driver JVM high-water RSS plus this process's max RSS."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None


class _Captured:
    """Rows collected during warm-up, shaped like the DataFrame that
    ``tests.oracle.compare`` reads (columns, dtypes, collect)."""

    def __init__(self, df):
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = df.collect()

    def collect(self):
        return self._rows


# --- query workloads -------------------------------------------------------


def _run_query(b: Bench, fn, name: str, data_dir: str, sink: str, trace: str, parent, capture: bool = False):
    """Build one query, run its action and release caches, with spans."""
    tr = b.tracer
    with tr.span("query", trace, parent, query=name) as qid:
        b.job_group(f"{trace}:{name}:build")
        with tr.span("build", trace, qid) as bid:
            df = fn(b.spark, data_dir)
        if tr.enabled:
            built = tracker_phases(df)
            end = tr.spans[bid]["end"]
            ms = (built or {}).get("analysis", 0.0)
            tr.add("catalyst", trace, bid, end - ms / 1e3, end,
                   phases={"analysis": None if built is None else ms})
        b.job_group(f"{trace}:{name}:action")
        with tr.span("action", trace, qid) as aid:
            if capture:
                out = _Captured(df)
            elif sink == "collect":
                out = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        if tr.enabled:
            planned = tracker_phases(df) if sink == "collect" else None
            if planned is None or "planning" not in planned:
                planned = replan_phases(df)
            start = tr.spans[aid]["start"]
            opt = (planned or {}).get("optimization", 0.0)
            plan = (planned or {}).get("planning", 0.0)
            tr.add("catalyst", trace, aid, start, start + (opt + plan) / 1e3,
                   phases={"optimization": None if planned is None else opt,
                           "planning": None if planned is None else plan})
        with tr.span("release", trace, qid, tracked=0) as rid:
            n = release_caches()
        if tr.enabled:
            tr.spans[rid]["tracked"] = n
    return out


def _check_against_oracles(b: Bench, captured: dict[str, _Captured], data_dir: str) -> None:
    oracles = registry.oracle_sql()
    for name, got in captured.items():
        def check(name=name, got=got):
            cols, types, rows = run_oracle(oracles[name], data_dir)
            compare(got, cols, types, rows)
        b.attempt(f"oracle check {name}", check)


def run_query_workload(b: Bench, wl: QueryWorkload) -> Outcome:
    data_dir = datagen.write_tables(b.path("data"), wl.sf, b.seed)
    b.start_session()
    fns = registry.queries()
    rng = random.Random(b.seed)
    tr = b.tracer

    # Warm-up: untimed passes; the first one's outputs are the ones checked.
    t0 = perf_counter()
    captured = {}
    with tr.span("warmup", f"{wl.name}:warmup") as wid:
        for i in range(WARMUP_PASSES):
            for name in rng.sample(wl.queries, len(wl.queries)):
                got = b.attempt(name, lambda name=name: _run_query(
                    b, fns[name], name, data_dir, wl.sink, f"{wl.name}:warmup", wid, capture=i == 0))
                if i == 0 and got is not None:
                    captured[name] = got
    warmup_s = perf_counter() - t0
    b.job_group("check")
    _check_against_oracles(b, captured, data_dir)

    unit_ms: list[float] = []
    query_ms: dict[str, list[float]] = {name: [] for name in wl.queries}
    passes = 0
    t_start = perf_counter()
    while perf_counter() - t_start < b.seconds or not unit_ms:
        order = rng.sample(wl.queries, len(wl.queries))
        if wl.sink == "collect":
            for name in order:  # one round: every request once, in seeded order
                trace = f"{wl.name}:r{len(unit_ms)}"
                t = perf_counter()
                with tr.span("request", trace) as uid:
                    b.attempt(name, lambda: _run_query(b, fns[name], name, data_dir, wl.sink, trace, uid))
                unit_ms.append((perf_counter() - t) * 1e3)
        else:
            trace = f"{wl.name}:p{passes}"
            with tr.span("pass", trace) as uid:
                for name in order:  # each query run is one timed unit
                    t = perf_counter()
                    b.attempt(name, lambda: _run_query(b, fns[name], name, data_dir, wl.sink, trace, uid))
                    query_ms[name].append((perf_counter() - t) * 1e3)
                    unit_ms.append(query_ms[name][-1])
            passes += 1
    measured_s = perf_counter() - t_start

    if wl.sink == "collect":
        latency_ms, layer_units = statistics.median(unit_ms), len(unit_ms)
    else:  # the median pass, built from each query's median run
        latency_ms, layer_units = sum(statistics.median(ms) for ms in query_ms.values()), passes
    return Outcome(
        setup_s=b.session_s + warmup_s,
        unit_ms=unit_ms,
        latency_ms=latency_ms,
        throughput_per_s=len(unit_ms) / measured_s,
        attempted=b.attempted,
        failed=b.failed,
        layer_units=layer_units,
        layers={"session.start_ms": b.session_s * 1e3, "session.warmup_ms": warmup_s * 1e3},
    )


# --- streaming workload ----------------------------------------------------


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event, per query run, for the benchmark."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self._terminated: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

    def _done(self, run_id: str) -> threading.Event:
        with self._lock:
            return self._terminated.setdefault(run_id, threading.Event())

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {"batch": p.batchId, "rows": p.numInputRows, "timestamp": p.timestamp,
               "durations": dict(p.durationMs)}
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryTerminated(self, event):
        self._done(str(event.runId)).set()

    def wait_terminated(self, run_id: str, timeout: float = 60.0) -> bool:
        return self._done(run_id).wait(timeout)

    def data_batches(self, run_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.progress.get(run_id, []) if p["rows"] > 0]


@dataclass
class _Drain:
    src: str  # directory of part-*.parquet event files
    out: str  # the pipeline's sinks and checkpoint
    run_id: str | None = None
    wall_s: float = 0.0
    batches: list[dict] = field(default_factory=list)


def _drain(b: Bench, listener: ProgressListener, d: _Drain) -> _Drain:
    """Run the pipeline over one backlog and wait for its last progress
    event; fills in the query's run id, wall time and data batches."""
    n_started = len(listener.started)
    t = perf_counter()
    run_microbatch_pipeline(b.spark, d.src, d.out, glob="part-*.parquet", max_files_per_trigger=1)
    d.wall_s = perf_counter() - t
    deadline = perf_counter() + 30
    while len(listener.started) == n_started and perf_counter() < deadline:
        threading.Event().wait(0.05)
    d.run_id = listener.started[n_started]
    if not listener.wait_terminated(d.run_id):
        raise TimeoutError(f"no termination event for streaming query {d.run_id}")
    d.batches = listener.data_batches(d.run_id)
    return d


def _sink_files(path: str) -> list[str]:
    return [os.path.join(root, f) for root, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")]


def _check_sinks(b: Bench, wl: StreamWorkload, backlog_root: str, drains: list[_Drain]) -> None:
    """Every drain's three sinks against one batch read of all their
    files (``backlog_root/events.parquet/drain=*/``)."""
    expected = quality_checked(b.spark, backlog_root)
    want_q = expected.count()
    want_a = expected.filter(F.col("anomaly_score") > 0).count()

    def scan(sink: str, select: str) -> int:
        files = [f for d in drains for f in _sink_files(os.path.join(d.out, sink))]
        return duckdb.sql(f"SELECT {select} FROM read_parquet({files!r})").fetchone()[0] if files else 0

    got_q = scan("sensor_quality_checked", "count(*)")
    got_a = scan("sensor_anomalies", "count(*)")
    rc = scan("sensor_analytics", "sum(record_count)")
    problems = []
    if got_q != want_q:
        problems.append(f"quality sink rows {got_q} != batch quality_checked rows {want_q}")
    if got_a != want_a:
        problems.append(f"anomaly sink rows {got_a} != batch anomaly_score > 0 rows {want_a}")
    if rc != got_q:
        problems.append(f"analytics record_count sum {rc} != quality sink rows {got_q}")
    for d in drains:
        rows = sum(p["rows"] for p in d.batches)
        if len(d.batches) != wl.files_per_drain or rows != wl.files_per_drain * wl.rows_per_file:
            problems.append(f"{d.src}: {len(d.batches)} data batches of {rows} rows for {wl.files_per_drain} files")
    if problems:
        raise AssertionError("; ".join(problems))


def _trace_batches(tr: Tracer, wl: StreamWorkload, d: _Drain, parent: int, wall_offset: float) -> None:
    """Spans for each micro-batch and its trigger phases, from the
    progress events (their timestamps are wall-clock trigger starts)."""
    for p in d.batches:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - wall_offset
        trace = f"{wl.name}:{d.run_id}:b{p['batch']}"
        tr.add("batch", trace, parent, start, start + p["durations"].get("triggerExecution", 0) / 1e3)
        bid = len(tr.spans) - 1
        at = start
        for phase in _TRIGGER_ORDER:
            dur = p["durations"].get(phase, 0) / 1e3
            tr.add(f"streaming.{phase}", trace, bid, at, at + dur)
            at += dur


def run_stream_workload(b: Bench, wl: StreamWorkload) -> Outcome:
    backlog_root = b.path("backlog")

    def backlog(name: str, seed: tuple[int, ...]) -> _Drain:
        d = _Drain(src=os.path.join(backlog_root, "events.parquet", f"drain={name}"), out=b.path("sinks", name))
        datagen.write_event_backlog(d.src, seed, wl.files_per_drain, wl.rows_per_file)
        return d

    warm = [backlog(f"w{i}", (b.seed, 0, i)) for i in range(WARMUP_PASSES)]
    b.start_session()
    listener = ProgressListener()
    b.spark.streams.addListener(listener)
    tr = b.tracer
    drains: list[_Drain] = []
    try:
        t0 = perf_counter()
        with tr.span("warmup", f"{wl.name}:warmup"):
            for d in warm:
                b.attempt("warm-up drain", lambda: _drain(b, listener, d))
        warmup_s = perf_counter() - t0

        wall_offset = time() - perf_counter()
        measured_s = 0.0
        while measured_s < b.seconds or not drains:
            i = len(drains)
            d = backlog(str(i), (b.seed, 1, i))  # written outside the measured time
            with tr.span("drain", f"{wl.name}:d{i}") as did:
                if b.attempt("drain", lambda: _drain(b, listener, d)) is None:
                    break  # the pipeline raised; the failure is counted
            drains.append(d)
            measured_s += d.wall_s
            b.attempted += len(d.batches)
            if tr.enabled:
                _trace_batches(tr, wl, d, did, wall_offset)
    finally:
        b.spark.streams.removeListener(listener)

    b.job_group("check")
    b.attempt("sink check", lambda: _check_sinks(b, wl, backlog_root, [*warm, *drains]))

    batches = [p for d in drains for p in d.batches]
    rows = sum(p["rows"] for p in batches)
    sink_files = [f for d in drains for f in _sink_files(d.out)]
    n = max(len(batches), 1)
    layers = {
        "session.start_ms": b.session_s * 1e3,
        "session.warmup_ms": warmup_s * 1e3,
        "sinks.files_written": len(sink_files) / n,
        "sinks.bytes_per_row": sum(os.path.getsize(f) for f in sink_files) / max(rows, 1),
    }
    for phase, metric in STREAM_PHASES.items():
        layers[metric] = statistics.median([p["durations"].get(phase, 0) for p in batches]) if batches else 0.0
    unit_ms = [float(p["durations"].get("triggerExecution", 0)) for p in batches]
    return Outcome(
        setup_s=b.session_s + warmup_s,
        unit_ms=unit_ms,
        latency_ms=statistics.median(unit_ms) if unit_ms else 0.0,
        throughput_per_s=rows / measured_s if measured_s else 0.0,
        attempted=b.attempted,
        failed=b.failed,
        layer_units=len(unit_ms),
        layers=layers,
        report={"drains": len(drains), "files": len(batches), "rows": rows},
        stream_run_ids={d.run_id for d in drains},
    )


# --- per-layer table ------------------------------------------------------

LAYER_METRICS = {
    "session.start_ms": "ms", "session.warmup_ms": "ms",
    "registry.build_ms": "ms", "registry.build_jobs": "count", "registry.self_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "executor.action_ms": "ms", "executor.self_ms": "ms", "executor.jobs": "count",
    "executor.stages": "count", "executor.tasks": "count", "executor.run_ms": "ms",
    "executor.cpu_ms": "ms", "executor.gc_ms": "ms", "executor.cpu_share": "ratio",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes", "shuffle.fetch_wait_ms": "ms",
    "spill.bytes": "bytes", "scan.input_bytes": "bytes", "scan.records_read": "count",
    "python.run_ms": "ms", "python.init_ms": "ms", "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "caching.tracked_frames": "count", "caching.release_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms", "streaming.self_ms": "ms",
    "sinks.bytes_per_row": "bytes/row", "sinks.files_written": "count",
    "memory.peak_rss_mb": "MB",
    "trace.unit_p50_ms": "ms", "trace.uncovered_share": "ratio",
}

_EXECUTOR_METRICS = {
    "executor.jobs": "jobs", "executor.stages": "stages", "executor.tasks": "tasks",
    "executor.run_ms": "run_ms", "executor.cpu_ms": "cpu_ms", "executor.gc_ms": "gc_ms",
    "shuffle.read_bytes": "shuffle_read_bytes", "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.fetch_wait_ms": "fetch_wait_ms", "spill.bytes": "spill_bytes",
    "scan.input_bytes": "input_bytes", "scan.records_read": "records_read",
    "python.run_ms": "python_run_ms", "python.init_ms": "python_init_ms",
    "python.bytes_sent": "python_bytes_sent", "python.bytes_returned": "python_bytes_returned",
}


def layer_table(b: Bench, out: Outcome) -> dict[str, float | None]:
    """Per-layer metrics of a traced run, per measured unit (request,
    pass or micro-batch) except ``session.*`` (per run) and the
    ``streaming.*`` phases (medians over micro-batches). Call after the
    session stopped, so the event log is complete."""
    units = max(out.layer_units, 1)
    spans = [s for s in b.tracer.spans if not s["trace"].endswith((":warmup", "setup"))]
    counters: Counter = Counter()
    build_jobs = 0
    for group, c in group_counters(read_events(b.event_dir)).items():
        parts = (group or "").split(":")
        if group in out.stream_run_ids:
            counters.update(c)
        elif len(parts) == 4 and parts[0] == b.workload and parts[1] != "warmup":
            counters.update(c)
            if parts[3] == "build":
                build_jobs += c["jobs"]

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def phase(p: str) -> float | None:
        vals = [s["phases"].get(p) for s in spans if s["name"] == "catalyst" and p in s["phases"]]
        if any(v is None for v in vals):
            return None  # the tracker could not be read: report null, not 0
        return sum(vals) / units

    own = self_times(spans)
    unit_wall = sum(out.unit_ms) / 1e3
    layers = {m: 0.0 for m in LAYER_METRICS}
    layers.update(out.layers)
    layers.update({
        "registry.build_ms": total("build") * 1e3 / units,
        "registry.build_jobs": build_jobs / units,
        "registry.self_ms": own.get("build", 0.0) * 1e3 / units,
        "catalyst.analysis_ms": phase("analysis"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
        "executor.action_ms": total("action") * 1e3 / units,
        "executor.self_ms": own.get("action", 0.0) * 1e3 / units,
        "caching.tracked_frames": sum(s.get("tracked", 0) for s in spans if s["name"] == "release") / units,
        "caching.release_ms": total("release") * 1e3 / units,
        "streaming.self_ms": own.get("batch", 0.0) * 1e3 / units,
        "trace.unit_p50_ms": out.latency_ms,
    })
    for metric, key in _EXECUTOR_METRICS.items():
        layers[metric] = counters[key] / units
    if unit_wall > 0:
        layers["executor.cpu_share"] = counters["cpu_ms"] / 1e3 / (unit_wall * b.cores)
        layer_spans = {"build", "action", "release", "batch"}
        window = covered_seconds(spans, {"request", "pass", "drain"})
        layers["trace.uncovered_share"] = 1.0 - covered_seconds(spans, layer_spans) / window if window else 0.0
    return layers
