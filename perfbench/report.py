"""Write the baseline report, ``perfbench/BASELINE.md``.

    python3 perfbench/report.py --seconds 10 --seeds 1 2 3

For each workload: untraced runs on every seed (the end-to-end medians),
one traced run (the per-layer table, and its end-to-end figures against
the untraced medians as the tracing overhead), and one run on a single
core (the 1-vs-all-cores ratio; recorded, never gated). A last section
splits each registry query of the traced ``serve_queries`` run into
construction and execution, with the Spark jobs each launched, to tell
driver-side plan building from eager checkpoint compute.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int = 0, cores: int | None = None) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    if cores:
        cmd += ["--cores", str(cores)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} failed:\n{out.stderr[-3000:]}")
    record = json.loads(lines[-2])
    record["result"] = json.loads(lines[-1])
    return record


def construction_table(seed: int) -> list[str]:
    """Construction and execution of each query in the traced
    ``serve_queries`` run's spans: wall, the Spark jobs launched (eager
    checkpoints run during construction) and the executor time of their
    tasks."""
    rows: dict[str, dict] = {}
    with open(os.path.join(HERE, ".work", f"spans-serve_queries-{seed}.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            if s["name"] in ("queries.construct", "queries.execute"):
                r = rows.setdefault(s["trace"].removesuffix("-pass0"), {})
                r[s["name"]] = (
                    f"{(s['end'] - s['start']) * 1000:.0f} | {s['jobs']} | "
                    f"{s['stages'].get('run_ms', 0):.0f}"
                )
    return [
        "## Registry construction: plan building or checkpoint compute?",
        "",
        f"Traced `serve_queries` run, seed {seed}: each query's first run in the process.",
        "",
        "| query | construct ms | jobs | executor ms | execute ms | jobs | executor ms |",
        "|---|---|---|---|---|---|---|",
    ] + [
        f"| {q} | {r['queries.construct']} | {r['queries.execute']} |"
        for q, r in sorted(rows.items())
    ]


def fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--out", default=os.path.join(HERE, "BASELINE.md"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]

    lines = ["# perfbench baseline", ""]
    for w in workloads:
        plain = [run_once(w, s, args.seconds) for s in args.seeds]
        traced = run_once(w, args.seeds[0], args.seconds, trace=1)
        one = run_once(w, args.seeds[0], args.seconds, cores=1)
        head = plain[0]
        lines += [
            f"## {w}",
            "",
            f"git {head['git_sha'][:12]}, pyspark {head['pyspark']}, nproc {head['nproc']}, "
            f"cores {head['cores']}, --seconds {args.seconds:g}, seeds {args.seeds}; "
            f"failed_ratio {[r['failed_ratio'] for r in plain]}.",
            "",
            "| end-to-end metric | median (all cores) | traced run | tracing overhead | 1 core | all cores / 1 core |",
            "|---|---|---|---|---|---|",
        ]
        for m in spec["end_to_end"]:
            k = m["name"]
            med = statistics.median(r["end_to_end"][k] for r in plain)
            tr = traced["end_to_end"][k]
            c1 = one["end_to_end"][k]
            lines.append(
                f"| {k} ({m['unit']}) | {fmt(med)} | {fmt(tr)} | {(tr - med) / med:+.1%} | {fmt(c1)} | {med / c1:.2f} |"
            )
        lines += [
            "",
            f"Samples per run: {head['op_ms']['n']} units of work, "
            f"{head['lookup_ms']['n']} lookups; tails (highest percentile with ten samples "
            f"beyond it, or the median below 20 samples): op "
            f"{fmt(head['op_ms']['tail'])} ms, lookup {fmt(head['lookup_ms']['tail'])} ms.",
            "",
            "| per-layer metric (traced run) | value |",
            "|---|---|",
        ]
        for m in spec["per_layer"]:
            lines.append(f"| {m['name']} ({m['unit']}) | {fmt(traced['per_layer'][m['name']])} |")
        lines.append("")

    lines += construction_table(args.seeds[0])
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
