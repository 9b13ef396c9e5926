#!/usr/bin/env python3
"""Run one workload on several seeds and summarise the spread.

    python3 perfbench/repeat.py --workload batch_suite --seeds 1-10 --seconds 10 \
        --out perfbench/baseline/batch_suite.json

Runs ``perfbench/run.py`` once per seed, one after the other, and keeps
from each run its result line and every ``<workload> <name> = <value>
<unit>`` figure.  For each result-line metric it prints the median, the
quartiles and the spread ``(Q3 - Q1) / median`` that ``BENCHMARK.json``
bounds.  ``--out`` writes all of it as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
_FIGURE = re.compile(r"^(\w+) (\S+) = (\S+) (\S+)$")


def seeds(spec: str) -> list[int]:
    """``"1-10"`` or ``"3,5,8"`` -> the list of seeds."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, secs: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(secs), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    figures = {}
    for ln in lines[:-1]:
        m = _FIGURE.match(ln)
        if m:
            figures[m.group(2)] = {"value": float(m.group(3)), "unit": m.group(4)}
    return {"seed": seed, "process_s": time.perf_counter() - t0,
            "result": json.loads(lines[-1]), "figures": figures}


def summarise(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else None}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        r = run_once(args.workload, seed, args.seconds, args.trace)
        res = r["result"]
        print(f"seed {seed}: {r['process_s']:.1f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        runs.append(r)
    summary = summarise(runs)
    for name, s in summary.items():
        print(f"{name}: median {s['median']:.6g}  Q1 {s['q1']:.6g}  Q3 {s['q3']:.6g}  "
              f"spread {s['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "summary": summary, "runs": runs}, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
