"""Traced and untraced runs of every workload, written up as a report.

    python3 perfbench/trace_report.py --seed 1

Runs each workload of BENCHMARK.json twice with the same seed, with
--trace 0 and with --trace 1, then writes to perfbench/results/ the traced
runs' span files and TRACE.md: per-layer metrics, the self-time table of
each workload (a span's duration minus the part its children cover) and
the tracing overhead, the traced end-to-end numbers against the untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, "perfbench", "results")


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    host = next(json.loads(l[5:]) for l in lines if l.startswith("host "))
    return {"result": json.loads(lines[-1]), "host": host,
            "named": [l.strip() for l in lines if l.startswith("  ")]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    os.makedirs(RESULTS, exist_ok=True)
    md = [f"# Traced run, seed {args.seed}", "",
          f"Produced by `python3 perfbench/trace_report.py --seed {args.seed}`. "
          "Per-layer values of 0 mark layers the workload does not exercise. "
          "The tracing overhead compares one traced with one untraced run of "
          "the same seed, so it carries the run-to-run spread of the host "
          "too; compare the two runs' steal %.", ""]
    for w in spec["workloads"]:
        name = w["name"]
        plain = run(name, args.seed, spec["run_seconds"], 0)
        traced = run(name, args.seed, spec["run_seconds"], 1)
        src = os.path.join(ROOT, "perfbench", "out", f"trace-{name}-seed{args.seed}.json")
        dst = os.path.join(RESULTS, os.path.basename(src))
        shutil.copyfile(src, dst)
        with open(dst) as f:
            trace = json.load(f)
        md += [f"## {name}", "", f"Why: {w['why']}", "",
               f"Untraced: attempted {plain['result']['attempted']}, failed "
               f"{plain['result']['failed']}; host {json.dumps(plain['host'])}", "",
               f"Traced: attempted {traced['result']['attempted']}, failed "
               f"{traced['result']['failed']}; host {json.dumps(traced['host'])}", "",
               "```", *plain["named"], "```", "",
               "| end-to-end | untraced | traced | tracing overhead |",
               "|---|---:|---:|---:|"]
        for m, v in plain["result"]["metrics"].items():
            t = trace["e2e"][m]
            md.append(f"| {m} ({units[m]}) | {v['value']:.4g} | {t:.4g} | "
                      f"{100.0 * (t - v['value']) / v['value']:+.1f}% |")
        md += ["", "| per-layer metric | value |", "|---|---:|"]
        md += [f"| {k} ({units[k]}) | {v:.4g} |" for k, v in trace["layers"].items()]
        md += ["", "| span | count | total ms | self ms | self share |",
               "|---|---:|---:|---:|---:|"]
        md += [f"| {r['span']} | {r['count']} | {r['total_ms']:.1f} | "
               f"{r['self_ms']:.1f} | {100.0 * r['self_share']:.1f}% |"
               for r in trace["self_time"]]
        md.append("")
    with open(os.path.join(RESULTS, "TRACE.md"), "w") as f:
        f.write("\n".join(md))
    return 0


if __name__ == "__main__":
    sys.exit(main())
