"""Per-layer table: for each workload, ``--pairs`` alternating untraced
and traced runs (the runs of a pair share a seed), the median of each
metric over them, and the tracing overhead of every pair.

    python3 perfbench/report.py --seed 7 --seconds 20 --pairs 3

writes ``perfbench/results/layers.json`` and ``perfbench/results/layers.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_WORKLOADS = ("api_serving", "sensor_batch", "corpus_dedup", "stream_ingest")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            return next(line.split(":", 1)[1].strip() for line in f if line.startswith("model name"))
    except (OSError, StopIteration):
        return platform.processor() or "unknown"


def _fmt(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.4g}" if abs(v) < 1000 else f"{v:,.0f}"
    return f"{int(v):,}"


def medians(runs: list[dict]) -> dict:
    """The runs' metrics, each the median of its values (null if any run
    reported null), plus the summed operation counts."""
    out = {"metrics": {}, "attempted": sum(r["attempted"] for r in runs),
           "failed": sum(r["failed"] for r in runs)}
    for name, m in runs[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in runs]
        value = None if None in values else statistics.median(values)
        out["metrics"][name] = {"value": value, "unit": m["unit"]}
    return out


def overhead(pairs: list[tuple[dict, dict]]) -> dict:
    """Traced minus untraced latency of each pair, as a share of the
    untraced latency. Unresolved when the shares do not all have the same
    sign: the overhead is then within the run-to-run drift."""
    shares = [t["metrics"]["trace.unit_p50_ms"]["value"] / u["metrics"]["latency_p50_ms"]["value"] - 1
              for u, t in pairs]
    return {"shares": shares, "median_share": statistics.median(shares),
            "resolved": len(shares) > 1 and (min(shares) > 0 or max(shares) < 0)}


def markdown(report: dict) -> str:
    names = list(report["workloads"])
    cols = " | ".join(names)
    lines = [
        "# Per-layer table",
        "",
        f"Hardware: {report['machine']}. {report['pairs']} pairs of runs per workload",
        f"(untraced, then traced, seeds {report['seed']}..{report['seed'] + report['pairs'] - 1}),",
        f"{report['seconds']} s measured per run; each figure is the median over the runs.",
        "Per-layer values are per measured unit (an API request, a batch pass or a",
        "micro-batch), except `session.*` (per run) and `streaming.*` (medians over",
        "micro-batches). Written by `python3 perfbench/report.py`.",
        "",
        f"| metric | unit | {cols} |",
        "|---|---|" + "---:|" * len(names),
    ]
    first = report["workloads"][names[0]]
    for section in ("untraced", "traced"):
        for metric, m in first[section]["metrics"].items():
            row = " | ".join(_fmt(report["workloads"][n][section]["metrics"][metric]["value"]) for n in names)
            lines.append(f"| {section}: {metric} | {m['unit']} | {row} |")
    for key in ("attempted", "failed"):
        row = " | ".join(_fmt(report["workloads"][n]["untraced"][key]) for n in names)
        lines.append(f"| untraced: {key}, all runs | count | {row} |")
    row = " | ".join(_fmt(report["workloads"][n]["overhead"]["median_share"]) for n in names)
    lines.append(f"| tracing overhead, median | ratio | {row} |")
    row = " | ".join(", ".join(f"{x:+.3f}" for x in report["workloads"][n]["overhead"]["shares"]) for n in names)
    lines.append(f"| tracing overhead, each pair | ratio | {row} |")
    row = " | ".join("yes" if report["workloads"][n]["overhead"]["resolved"] else "unresolved" for n in names)
    lines.append(f"| tracing overhead resolved | | {row} |")
    lines += ["", "Tracing overhead of a pair is the traced run's `trace.unit_p50_ms` over the",
              "untraced run's `latency_p50_ms`, minus 1. It is unresolved when the pairs",
              "disagree in sign: the overhead is then smaller than the drift between runs.", ""]
    return "\n".join(lines)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--pairs", type=int, default=3)
    p.add_argument("--workload", action="append", help="repeatable; default: all four")
    args = p.parse_args()

    report = {"machine": f"{cpu_model()}, {len(os.sched_getaffinity(0))} cores, {platform.system()}",
              "seed": args.seed, "seconds": args.seconds, "pairs": args.pairs, "workloads": {}}
    for name in args.workload or DEFAULT_WORKLOADS:
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            pairs.append((run_once(name, seed, args.seconds, 0), run_once(name, seed, args.seconds, 1)))
        report["workloads"][name] = {"untraced": medians([u for u, _ in pairs]),
                                     "traced": medians([t for _, t in pairs]),
                                     "overhead": overhead(pairs), "runs": pairs}
        print(f"{name}: done", file=sys.stderr)

    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump(report, f, indent=1)
    with open(os.path.join(out_dir, "layers.md"), "w") as f:
        f.write(markdown(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
