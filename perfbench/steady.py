#!/usr/bin/env python3
"""Run-to-run steadiness of every end-to-end metric.

    python3 perfbench/steady.py [--runs 10] [--workload ga_reports ...] [--seed0 1000]

Runs ``perfbench/run.py`` once per seed (``seed0``, ``seed0 + 1``, ...) for
each workload, one fresh process after another, with the run length from
``BENCHMARK.json``; with ``--same-seed`` every run uses ``seed0``, which
separates host noise from what the seed changes.  For every end-to-end
metric a run prints it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance between
the quartiles as a share of the median, next to the bound of the metrics
``BENCHMARK.json`` gates.  A spread above the bound means two sets of runs
of the same code cannot be told apart at that bound.  The runs' result
lines are saved under ``perfbench/.state/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, _, q3 = quantiles(values, n=4)
    med = median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--same-seed", action="store_true", help="run every time with seed0")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {}
    for wl in args.workload or [w["name"] for w in spec["workloads"]]:
        lines = []
        for i in range(args.runs):
            seed = args.seed0 if args.same_seed else args.seed0 + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                return 1
            out = p.stdout.strip().splitlines()
            summary, last = json.loads(out[-2]), json.loads(out[-1])
            summary["wall_s"] = time.time() - t0
            lines.append(summary)
            print(f"{wl} seed {seed}: {time.time() - t0:.0f} s wall, correct={last['correct']}",
                  file=sys.stderr, flush=True)
        report[wl] = {"runs": lines, "metrics": {}}
        print(f"\n{wl} ({args.runs} runs)")
        print(f"{'metric':18} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
        for name in lines[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in lines if name in r["metrics"]]
            med, q1, q3, sp = spread(values)
            bound = bounds.get(name)
            report[wl]["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bound}
            if bound is None:
                print(f"{name:18} {med:10.4f} {q1:10.4f} {q3:10.4f} {sp:7.3f}      -")
                continue
            flag = "" if sp <= bound / 3 else (" over bound/3" if sp <= bound else " OVER BOUND")
            print(f"{name:18} {med:10.4f} {q1:10.4f} {q3:10.4f} {sp:7.3f} {bound:6.2f}{flag}")
        walls = [r["wall_s"] for r in lines]
        print(f"run wall: median {median(walls):.1f} s, max {max(walls):.1f} s")
    out = os.path.join(HERE, ".state", "results", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nsaved {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
