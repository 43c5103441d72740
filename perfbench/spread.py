#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's spread beside its bound.

    python3 perfbench/spread.py --seeds 1-10 [--workloads serve,nrt] [--traced] [--out FILE]

Run from the root of a checkout.  For every workload and metric it
prints the median over the seeds and the spread, (Q3 - Q1) / median with
``statistics.quantiles(values, n=4)``, next to the bound in
BENCHMARK.json and a third of it, which a steady metric stays under.
``--traced`` adds a traced run per seed and reports the tracing
overhead: the traced runs' median request p50 minus the untraced one.
``--out`` also writes the figures, and every run's values, as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(x) for x in spec.split(",")]


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> tuple[dict, float]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    ap.add_argument("--workloads", help="comma-separated; default all")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    report: dict = {}
    for w in names:
        runs = []
        for seed in _seeds(args.seeds):
            out, wall = run_once(bench, w, seed)
            runs.append({"seed": seed, "wall_s": wall, "correct": out["correct"],
                         "failed": out["failed"],
                         **{k: v["value"] for k, v in out["metrics"].items()}})
            print(f"{w} seed {seed}: wall {wall:.1f} s, correct {out['correct']}",
                  file=sys.stderr, flush=True)
        figures = {}
        for m, bound in bounds.items():
            values = [r[m] for r in runs]
            figures[m] = {"median": statistics.median(values),
                          "spread": stats.relative_iqr(values), "bound": bound}
        report[w] = {"metrics": figures, "runs": runs}
        if args.traced:
            traced = [
                run_once(bench, w, seed, trace=1)[0]["metrics"]["trace.request_p50_ms"]["value"]
                for seed in _seeds(args.seeds)
            ]
            base = figures["p50_ms"]["median"]
            report[w]["trace_overhead_ms"] = statistics.median(traced) - base
            print(f"{w:6s} tracing overhead on p50: "
                  f"{report[w]['trace_overhead_ms']:.1f} ms over {base:.1f} ms")
        for m, f in figures.items():
            flag = "ok" if f["spread"] < f["bound"] / 3 else "UNSTEADY"
            print(f"{w:6s} {m:18s} median {f['median']:12.4f}  spread {f['spread']:.4f}"
                  f"  bound {f['bound']:.3f} (/3 = {f['bound'] / 3:.4f})  {flag}")
        walls = [r["wall_s"] for r in runs]
        print(f"{w:6s} wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
