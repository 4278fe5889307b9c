"""Compare the benchmark's generated tables with a directory of fixture
tables: parquet column types, row counts, per-column value summaries, and
the time and result size of every workload query on both inputs.

    python3 perfbench/compare_inputs.py --fixtures <dir of sf0.01 tables> --sf 0.01 \\
        --workload corpus_dedup
    python3 perfbench/compare_inputs.py --fixtures <dir of sf0.1 tables> --sf 0.1 \\
        --workload api_serving --workload sensor_batch

Each call writes ``perfbench/results/inputs-sf<sf>.json`` and ``.md``.
Query times are medians of ``--reps`` runs per input after one warm-up
run of each, alternating the two inputs, in one session.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0:1] = [ROOT]

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import datagen, run  # noqa: E402

TABLES = tuple(datagen.table_rows(1.0))


def column_types(path: str) -> dict[str, str]:
    """Parquet column -> logical type, or physical type when it has none."""
    out = {}
    for c in pq.ParquetFile(path).schema:
        logical = c.logical_type
        out[c.name] = str(logical) if logical.type != "NONE" else c.physical_type
    return out


def value_summary(path: str) -> dict[str, dict]:
    """Per column: distinct count and, for numbers and times, min and max."""
    cols = duckdb.sql(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()
    out = {}
    for name, dtype, *_ in cols:
        q = f'approx_count_distinct("{name}")'
        ordered = not dtype.endswith("[]") and dtype != "VARCHAR"
        if ordered:
            q += f', min("{name}")::VARCHAR, max("{name}")::VARCHAR'
        row = duckdb.sql(f"SELECT {q} FROM read_parquet('{path}')").fetchone()
        out[name] = {"distinct": row[0], **({"min": row[1], "max": row[2]} if ordered else {})}
    return out


def compare_tables(fixtures: str, generated: str) -> dict:
    report = {}
    for t in TABLES:
        fx, gen = os.path.join(fixtures, f"{t}.parquet"), os.path.join(generated, f"{t}.parquet")
        report[t] = {
            "rows": [pq.ParquetFile(fx).metadata.num_rows, pq.ParquetFile(gen).metadata.num_rows],
            "types": [column_types(fx), column_types(gen)],
            "values": [value_summary(fx), value_summary(gen)],
        }
    return report


def time_queries(spark, names: list[str], inputs: dict[str, str], reps: int) -> dict:
    from iot_big_data_engineering_spark import registry
    from iot_big_data_engineering_spark.caching import release_caches

    fns = registry.queries()
    out = {name: {k: {"ms": [], "rows": None} for k in inputs} for name in names}
    for rep in range(reps + 1):  # rep 0 is the warm-up
        for name in names:
            for key, data_dir in inputs.items():
                t = perf_counter()
                rows = fns[name](spark, data_dir).count()
                ms = (perf_counter() - t) * 1e3
                release_caches()
                out[name][key]["rows"] = rows
                if rep:
                    out[name][key]["ms"].append(ms)
    return out


def markdown(report: dict) -> str:
    lines = [f"# Generated tables vs fixtures at sf {report['sf']}", "",
             f"Seed {report['seed']}. Written by `python3 perfbench/compare_inputs.py`.", "",
             "## Tables", "",
             "| table | rows (fixture / generated) | columns whose parquet type differs |",
             "|---|---|---|"]
    for t, r in report["tables"].items():
        fx, gen = r["types"]
        diff = [f"`{c}`: {fx.get(c)} / {gen.get(c)}" for c in sorted(set(fx) | set(gen)) if fx.get(c) != gen.get(c)]
        lines.append(f"| {t} | {r['rows'][0]:,} / {r['rows'][1]:,} | {'; '.join(diff) or 'none'} |")
    lines += ["", "## Column values (fixture / generated)", "",
              "| table.column | distinct | min | max |", "|---|---|---|---|"]
    for t, r in report["tables"].items():
        fx, gen = r["values"]
        for c in fx:
            f, g = fx[c], gen.get(c, {})
            lines.append(f"| {t}.{c} | {f['distinct']:,} / {g.get('distinct', 0):,} | "
                         f"{f.get('min', '')} / {g.get('min', '')} | {f.get('max', '')} / {g.get('max', '')} |")
    lines += ["", f"## Queries (median of {report['reps']} runs, `count()` of the result)", "",
              "| query | fixture ms | generated ms | generated / fixture | fixture rows | generated rows |",
              "|---|---:|---:|---:|---:|---:|"]
    for q, r in report["queries"].items():
        f, g = statistics.median(r["fixture"]["ms"]), statistics.median(r["generated"]["ms"])
        lines.append(f"| {q} | {f:,.0f} | {g:,.0f} | {g / f:.2f} | {r['fixture']['rows']:,} | {r['generated']['rows']:,} |")
    tf = sum(statistics.median(r["fixture"]["ms"]) for r in report["queries"].values())
    tg = sum(statistics.median(r["generated"]["ms"]) for r in report["queries"].values())
    lines += [f"| all | {tf:,.0f} | {tg:,.0f} | {tg / tf:.2f} | | |", ""]
    return "\n".join(lines)


def main() -> int:
    from perfbench.workloads import WORKLOADS, Bench

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--fixtures", required=True, help="directory holding <table>.parquet fixtures")
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--workload", action="append", required=True)
    args = p.parse_args()

    names = [q for w in args.workload for q in WORKLOADS[w].queries]
    os.makedirs(os.path.join(run.OUT_DIR, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="inputs-", dir=os.path.join(run.OUT_DIR, "tmp"))
    run.pin_environment(work, len(os.sched_getaffinity(0)))
    b = Bench("compare_inputs", args.seed, 0, False, work, len(os.sched_getaffinity(0)))
    try:
        generated = datagen.write_tables(os.path.join(work, "data"), args.sf, args.seed)
        report = {"sf": args.sf, "seed": args.seed, "reps": args.reps,
                  "tables": compare_tables(args.fixtures, generated)}
        with run.output_to(os.path.join(run.OUT_DIR, "compare_inputs.log")):
            b.start_session()
            report["queries"] = time_queries(b.spark, names, {"fixture": args.fixtures, "generated": generated},
                                             args.reps)
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(HERE, "results", f"inputs-sf{args.sf:g}")
    with open(out + ".json", "w") as f:
        json.dump(report, f, indent=1)
    with open(out + ".md", "w") as f:
        f.write(markdown(report))
    print(out + ".md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
