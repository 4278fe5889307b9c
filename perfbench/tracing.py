"""Spans, Catalyst phase timings and Spark event-log counters.

Spans are recorded by the benchmark around its calls into the package:
each has a name, start, end, parent and the identifier of the request or
pass it belongs to. They stay in memory until the run ends.

Executor, shuffle, scan and Python-worker counters come from Spark's
event log (turned on for traced runs only). Every job the benchmark
causes runs under a job group ``<workload>:<unit>:<query>:<phase>``, so
each task's counters can be attributed to one span.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from time import perf_counter

from py4j.protocol import Py4JError

PHASES = ("analysis", "optimization", "planning")

# Task-end accumulables (SQL metrics) that carry the Python-worker layer;
# the "timing" metric type is milliseconds. "time to initialize Python
# workers" is left out: in Spark 4.1 some of its per-task updates exceed the
# task's own run time several times over.
_PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_init_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: str, parent: int | None = None, **attrs) -> Iterator[int | None]:
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "trace": trace, "parent": parent, "name": name,
               "start": perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = perf_counter()

    def add(self, name: str, trace: str, parent: int | None, start: float, end: float, **attrs) -> None:
        """Record a span whose interval was measured elsewhere."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "trace": trace, "parent": parent,
                               "name": name, "start": start, "end": end, **attrs})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of each span name's duration not covered by its children,
    summed over spans of that name."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: Counter = Counter()
    for s in spans:
        covered = _union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def covered_seconds(spans: list[dict], names: set[str]) -> float:
    """Wall seconds covered by at least one span named in ``names``."""
    return _union_length((s["start"], s["end"]) for s in spans if s["name"] in names)


# --- Catalyst phases -------------------------------------------------------
# QueryExecution.tracker() is not public API. Every read goes through these
# two functions, which report None when a Spark upgrade moves it.


def tracker_phases(df) -> dict[str, float] | None:
    """Catalyst phase durations (ms) recorded so far on ``df``'s own
    QueryExecution, or None when the tracker cannot be read."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        return {p: float(phases.apply(p).durationMs()) for p in PHASES if phases.contains(p)}
    except (Py4JError, AttributeError):
        return None


def replan_phases(df) -> dict[str, float] | None:
    """Phase durations of planning ``df``'s plan once more on a fresh
    QueryExecution. A write to a sink plans a command that wraps the
    frame, and its optimisation and planning are not recorded on the
    frame's own tracker; this measures the same work for that plan."""
    try:
        qe = df.alias("perfbench_replan")._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return {p: float(phases.apply(p).durationMs()) for p in PHASES[1:] if phases.contains(p)}
    except (Py4JError, AttributeError):
        return None


# --- Event log -------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``: the
    numbered parts of rolling ``eventlog_v2_*`` directories, in order, or
    single-file logs."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            files.append(path)
    return files


def read_events(log_dir: str) -> Iterator[dict]:
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def group_counters(events: Iterable[dict]) -> dict[str, Counter]:
    """Executor counters per job group (``None`` for jobs with no group)."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, Counter] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            out.setdefault(group, Counter())["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out.setdefault(stage_group.get(sid), Counter())["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out.setdefault(stage_group.get(e["Stage ID"]), Counter())
            c["tasks"] += 1
            m = e.get("Task Metrics") or {}
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            c["input_bytes"] += im.get("Bytes Read", 0)
            c["records_read"] += im.get("Records Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                key = _PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if key is not None and acc.get("Update") is not None:
                    c[key] += float(acc["Update"])
    return out
