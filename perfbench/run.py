#!/usr/bin/env python3
"""qurio-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload mcp_search --seed 1 --seconds 10 --trace 0

Run from the repository root.  The engine runs on ``local[4]`` from the
source tree next to this directory; every input is generated from
``--seed``.  Human-readable report lines go first; the last line of
standard output is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value": v, "unit": u}}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run (see
``perfbench/README.md``).  Exit code 0 means the run completed; the
correctness verdict is ``correct``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mcp_search", "batch_suite")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "qurio_spark", "__init__.py")):
        print(f"perfbench: no qurio_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    # Executors are separate Python processes: they import qurio_spark
    # through PYTHONPATH, whatever directory the benchmark runs from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)

    from perfbench import harness, metrics
    from perfbench.trace import Tracer

    mod = importlib.import_module(f"perfbench.{args.workload}")
    ctx = harness.Context(ROOT, work, args.seed, args.seconds, bool(args.trace))
    ctx.tracer = Tracer() if args.trace else None
    res = harness.Result()
    t0 = time.perf_counter()
    # Every way out, a SIGTERM included, stops Spark and waits for each
    # process the run started to end.
    harness.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        with harness.RssSampler() as rss:
            try:
                harness.start_session(ctx)
                res.report["session_s"] = ctx.session_s
                mod.run(ctx, res)
            finally:
                harness.stop_session(ctx.spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        harness.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    res.put("peak_rss_mb", rss.peak_kb / 1024.0, "MB")
    res.put("error_rate", res.failed / max(1, res.attempted), "ratio")
    res.report["wall_s"] = time.perf_counter() - t0
    for p in res.problems:
        print(f"CHECK FAILED: {p}")
    for k, v in res.report.items():
        print(f"{args.workload} {k}: {v}")
    for name, m in sorted(res.metrics.items()):
        print(f"{args.workload} {name} = {m.value:.6g} {m.unit}")
    wanted = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    out = {}
    for name, unit in wanted.items():
        m = res.metrics.get(name)
        if m is None or m.unit != unit:
            print(f"perfbench: {name} [{unit}] not measured as declared: {m}", file=sys.stderr)
            return 1
        out[name] = {"value": m.value, "unit": unit}
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
