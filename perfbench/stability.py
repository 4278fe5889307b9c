"""Steadiness of the end-to-end metrics: two sets of runs of the same code
on every workload of BENCHMARK.json, each run with its own seed.

    python3 perfbench/stability.py --runs 10

For each set and metric it reports the median and the spread (the distance
between the first and third quartile as a share of the median), and for
each metric how much worse the second set's median is than the first's,
next to the metric's bound. Every run is appended to
``.perfbench/stability-runs.jsonl`` as it ends; ``--summarize`` rebuilds
the report from that file. Writes ``perfbench/results/stability.json`` and
``.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOG = os.path.join(ROOT, ".perfbench", "stability-runs.jsonl")


def benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(bench: dict, workload: str, seed: int) -> dict:
    from perfbench.run import cpu_ticks, steal_share

    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t, ticks = time.perf_counter(), cpu_ticks()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if out.returncode == 0 and lines else {}
    return {"workload": workload, "seed": seed, "returncode": out.returncode,
            "wall_s": time.perf_counter() - t, "steal_share": steal_share(ticks, cpu_ticks()), **result}


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def summarize(bench: dict, runs: list[dict]) -> dict:
    report = {"workloads": {}}
    for wl in (w["name"] for w in bench["workloads"]):
        sets = [[r for r in runs if r["workload"] == wl and r["set"] == i] for i in (0, 1)]
        if not all(sets):
            continue
        rows = {}
        for m in bench["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in s] for s in sets]
            med = [statistics.median(v) for v in vals]
            worse = (med[1] - med[0]) / med[0] * (1 if m["better"] == "lower" else -1)
            rows[m["name"]] = {"bound": m["bound"], "median": med, "spread": [spread(v) for v in vals],
                               "second_worse_by": worse, "values": vals}
        report["workloads"][wl] = {
            "runs": [len(s) for s in sets],
            "incorrect": sum(not r.get("correct") for s in sets for r in s),
            "wall_s_max": max(r["wall_s"] for s in sets for r in s),
            "steal_share": [[r["steal_share"] for r in s] for s in sets],
            "metrics": rows,
        }
    return report


def markdown(report: dict) -> str:
    lines = ["# Steadiness of the end-to-end metrics", "",
             f"Hardware: {report.get('machine', 'unknown')}. Two sets of runs of the same code per",
             "workload, one seed per run. Spread is the interquartile range over the median",
             "(`statistics.quantiles(values, n=4)`); the benchmark asks it to stay within a",
             "third of the bound. `second worse by` is how much worse the second set's",
             "median is than the first's (negative: better). Written by",
             "`python3 perfbench/stability.py`.", "",
             "| workload | metric | bound | median, set 1 / 2 | spread, set 1 / 2 | second worse by |",
             "|---|---|---:|---|---|---:|"]
    for wl, w in report["workloads"].items():
        for name, m in w["metrics"].items():
            lines.append(
                f"| {wl} | {name} | {m['bound']} | {m['median'][0]:.4g} / {m['median'][1]:.4g} | "
                f"{m['spread'][0]:.3f} / {m['spread'][1]:.3f} | {m['second_worse_by']:+.3f} |")
    lines += ["", "| workload | runs per set | incorrect runs | slowest run, s | host steal share, median / max, set 1; set 2 |",
              "|---|---|---:|---:|---|"]
    for wl, w in report["workloads"].items():
        steal = "; ".join(f"{statistics.median(v):.3f} / {max(v):.3f}" for v in w["steal_share"] if None not in v)
        lines.append(f"| {wl} | {w['runs'][0]} / {w['runs'][1]} | {w['incorrect']} | {w['wall_s_max']:.1f} | {steal} |")
    lines += ["", "Host steal share: the share of the host's CPU time that the hypervisor gave",
              "to other guests while the run went on (`/proc/stat`). Runs with more steal are",
              "slower across the board."]
    return "\n".join(lines) + "\n"


def main() -> int:
    from perfbench.report import cpu_model

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--summarize", action="store_true", help="only rebuild the report from the run log")
    args = p.parse_args()

    bench = benchmark()
    if not args.summarize:
        os.makedirs(os.path.dirname(LOG), exist_ok=True)
        open(LOG, "w").close()
        for i in (0, 1):
            for w in bench["workloads"]:
                for k in range(args.runs):
                    seed = args.first_seed + i * args.runs + k
                    r = {"set": i, **run_once(bench, w["name"], seed)}
                    with open(LOG, "a") as f:
                        f.write(json.dumps(r) + "\n")
                    print(f"set {i + 1} {w['name']} seed {seed}: {r['wall_s']:.1f} s, "
                          f"rc {r['returncode']}, correct {r.get('correct')}", file=sys.stderr)
    with open(LOG) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    report = summarize(bench, runs)
    report["machine"] = f"{cpu_model()}, {len(os.sched_getaffinity(0))} cores"
    out = os.path.join(HERE, "results", "stability")
    with open(out + ".json", "w") as f:
        json.dump(report, f, indent=1)
    with open(out + ".md", "w") as f:
        f.write(markdown(report))
    print(markdown(report))
    return 0


if __name__ == "__main__":
    sys.path[0:1] = [ROOT]
    sys.exit(main())
