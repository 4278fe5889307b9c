"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload api_serving --seed 1 --seconds 10 --trace 0

Preceding lines of standard output are a human-readable summary; the last
line is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are the
per-layer metrics of a traced run, and the spans are written to
``.perfbench/traces/``.

Spark's own output goes to ``.perfbench/logs/<workload>-seed<seed>-trace<t>.log``.
Everything else a run writes lives in a temporary directory under
``.perfbench/tmp/``, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import sys
import tempfile
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"  # well below physical RAM; the package default is 16g
TIME_LIMIT_S = 170  # a run still going after this many seconds is stopped and fails

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "1/s"}


def spark_cores() -> int:
    """Task slots Spark gets: half the cores this process may use. The
    other half keeps the driver, the JVM's compiler and GC threads, the
    Python workers and the host's other guests from descheduling tasks
    that every stage waits for: beside four busy loops, a corpus_dedup
    pass took 15.8 s on four slots and 8.3 s on two."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def pin_environment(work_dir: str, cores: int) -> None:
    """Environment the package and Spark read when the session starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # the package default is local[32]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # Python workers import the package
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM Spark starts (launcher and driver) keeps its temporary files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


@contextmanager
def output_to(log_path: str):
    """Send file descriptors 1 and 2 (Spark, the JVM and Python workers
    inherit them) to ``log_path``; restore them on exit."""
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    try:
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        yield
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for f in (fd, *saved):
            os.close(f)


def cpu_ticks() -> list[int] | None:
    """The host's aggregate CPU tick counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta[:8]) if sum(delta[:8]) else 0.0


def _on_alarm(signum, frame):
    raise TimeoutError("run exceeded its time limit")


def summary_lines(workload: str, out, rss_mb: float) -> list[str]:
    """The figures of one untraced run under the names a reader of the
    workload knows, with units and sample counts."""
    from perfbench import stats

    lines = [f"workload {workload}: {len(out.unit_ms)} measured units"]
    add = lambda name, value, unit, note="": lines.append(f"  {name:<24} {value:>12.4f} {unit:<4} {note}")
    add("setup_s", out.setup_s, "s")
    if workload == "api_serving":
        add("api_latency_p50_ms", out.latency_ms, "ms", f"n={len(out.unit_ms)}")
        tail = stats.tail_percentile(out.unit_ms)
        if tail and tail[0] > 50:
            add(f"api_latency_p{tail[0]:g}_ms", tail[1], "ms", f"highest percentile with >=10 samples beyond it, n={len(out.unit_ms)}")
        add("api_requests_per_s", out.throughput_per_s, "1/s")
    elif workload == "stream_ingest":
        add("stream_records_per_s", out.throughput_per_s, "1/s",
            f"{out.report['rows']} rows in {out.report['files']} files, {out.report['drains']} drains")
        if out.unit_ms:
            add("stream_batch_p50_ms", out.latency_ms, "ms", f"n={len(out.unit_ms)}")
            tail = stats.tail_percentile(out.unit_ms)
            if tail and tail[0] > 50:
                add(f"stream_batch_p{tail[0]:g}_ms", tail[1], "ms", f"n={len(out.unit_ms)}")
    else:
        add("pass_s", out.latency_ms / 1e3, "s",
            f"sum of per-query medians over {out.layer_units} passes ({len(out.unit_ms)} query runs)")
    add("failed_ops_ratio", out.failed / max(out.attempted, 1), "", f"{out.failed}/{out.attempted}")
    add("peak_rss_mb", rss_mb, "MB")
    return lines


def run(workload: str, seed: int, seconds: float, traced: bool) -> tuple[dict, list[str]]:
    from perfbench.workloads import (
        LAYER_METRICS,
        WORKLOADS,
        Bench,
        QueryWorkload,
        layer_table,
        run_query_workload,
        run_stream_workload,
    )

    wl = WORKLOADS[workload]
    cores = spark_cores()
    os.makedirs(os.path.join(OUT_DIR, "tmp"), exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(OUT_DIR, "tmp"))
    pin_environment(work_dir, cores)
    b = Bench(workload, seed, seconds, traced, work_dir, cores)
    try:
        if isinstance(wl, QueryWorkload):
            out = run_query_workload(b, wl)
        else:
            out = run_stream_workload(b, wl)
        rss_mb = b.peak_rss_mb()
        b.stop()
        if traced:
            out.layers["memory.peak_rss_mb"] = rss_mb
            metrics = layer_table(b, out)
            os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
            b.tracer.dump(os.path.join(OUT_DIR, "traces", f"{workload}-seed{seed}.json"))
            result = {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in metrics.items()}
            lines = [f"workload {workload}: traced run, per-layer metrics per measured unit"]
        else:
            result = {
                "setup_s": out.setup_s,
                # 0 only when nothing was measured, which also makes the run incorrect
                "latency_p50_ms": out.latency_ms,
                "throughput_per_s": out.throughput_per_s,
            }
            result = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result.items()}
            lines = summary_lines(workload, out, rss_mb)
    finally:
        b.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    correct = out.failed == 0 and bool(out.unit_ms)
    return {"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": result}, lines


def _seed(text: str) -> int:
    value = int(text)
    if value < 0:
        raise argparse.ArgumentTypeError("seeds are non-negative integers")
    return value


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=_seed, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[0:1] = [ROOT]  # the package, its tests' oracle and this benchmark import from the root
    try:
        import iot_big_data_engineering_spark  # noqa: F401
        import tests.oracle  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(OUT_DIR, "logs"), exist_ok=True)
    log_path = os.path.join(OUT_DIR, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))  # still clean up
    signal.alarm(TIME_LIMIT_S)
    ticks = cpu_ticks()
    try:
        with output_to(log_path):
            logging.basicConfig(level=logging.WARNING, stream=sys.stderr, force=True)
            logging.getLogger("perfbench").setLevel(logging.INFO)
            result, lines = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception as e:
        print(f"perfbench: run failed ({e!r}); see {log_path}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
    steal = steal_share(ticks, cpu_ticks())
    if steal is not None:  # other guests' load on the host makes every timing of the run slower
        lines.append(f"  {'host_steal_share':<24} {steal:>12.4f}      CPU time taken by other guests during the run")
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
