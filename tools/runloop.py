#!/usr/bin/env python
"""The one batch run loop: ``bench.py`` and the tools run each
registered query through ``run``, after ``start`` or their own session.

Usage (data at ``$SPARK_GRAFT_SF_DIR``, default sf0.1; no query names
means every registered query):

    python tools/runloop.py --reps N [query ...]
    python tools/runloop.py --jobs [query ...]
    python tools/runloop.py --explain DIR [query ...]

``--reps N`` is the variance-controlled bench.  ``bench.py`` times each
query once, so sub-second entries swing >30% from JIT, ordering and
page-cache noise alone; here each query gets one untimed warm-up run
and N timed ones, and a regression that survives the median is real.
Prints ONE JSON line, ``median_query_seconds``: the sum of the
medians, with each query's median and spread (max - min).

``--jobs`` prints each Spark job a query submitted, with its
``query:phase`` description, duration and the driver gap since the
previous job ended (the scheduling holes job overlap would fill).

``--explain DIR`` writes ``DIR/<query>.txt``, the formatted physical
plan.  Building a query runs its construction-time work (snapshot
commits, index builds) but never the final plan.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass
from typing import Any

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from qurio_spark.functions.jobs import job_description
from qurio_spark.operators.cachectl import release_caches
from qurio_spark.session import get_spark, sf_dir


def start(app_name: str, target: str):
    """The harness session: console progress off, log level ERROR, a
    JVM/Arrow warm-up so the first query does not pay the JIT cost,
    then ``prepare_indexes``.  Index builds are amortized outside the
    timed region, as production builds an index once per corpus
    version; a failed build raises, because queries silently building
    in-DAG would change what is measured."""
    spark = get_spark(
        app_name=app_name,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    entrymod.prepare_indexes(spark, target)
    return spark


def select(names) -> dict:
    """``{name: fn}`` of the named ``queries()`` entries, in the given
    order (every entry when none is named); an unknown name exits 2."""
    queries = entrymod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    return {n: queries[n] for n in (names or queries)}


def sf_value(target: str):
    """The scale factor a data directory's name ends in (``.../sf0.1``)."""
    sf = target.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def explain_str(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


SINKS = {
    # the whole plan runs and nothing is shipped to the driver, as in a
    # cluster job; collect() would benchmark the driver pipe instead
    "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
    "collect": lambda df: df.collect(),
    "explain": explain_str,
}


@dataclass
class Run:
    """One query run: the built frame, what the sink returned (None,
    the rows, or the plan text), and the build and whole-run seconds;
    ``error`` is set (and ``seconds`` stays -1) when the run failed."""

    df: Any = None
    result: Any = None
    build_s: float = -1.0
    seconds: float = -1.0
    error: Exception | None = None


def run(spark, target: str, fn, sink: str = "noop", *, name: str) -> Run:
    """Build ``fn(spark, target)`` and consume it with ``sink``, its
    jobs described ``name:build`` and ``name:<sink>`` (a phase label
    set inside the query wins).  A failure is recorded, not raised, so
    one failed query cannot hide the rest.

    The query's caches (cachectl protocol) are released after the sink
    and outside the timed region, so a 149-query session does not
    accumulate dead cached frames; in a finally, so a failed sink does
    not leak its builder's cache."""
    r = Run()
    t0 = time.time()
    try:
        with job_description(spark, f"{name}:build"):
            r.df = fn(spark, target)
        r.build_s = time.time() - t0
        with job_description(spark, f"{name}:{sink}"):
            r.result = SINKS[sink](r.df)
        r.seconds = time.time() - t0
    except Exception as e:
        r.error = e
    finally:
        if r.df is not None:
            try:  # e.g. a dead session: must not abort the other queries
                release_caches(r.df)
            except Exception as e:
                print(f"release error in {name}: {e}", file=sys.stderr)
    return r


def jobs_snapshot(spark):
    """[(jobId, submissionMs, completionMs, description)] for every
    job the app has run, in submission order, via the AppStatusStore;
    the description is the job's label (if any), then its call site."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store lags the jobs
    out = []
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, comp, desc = j.submissionTime(), j.completionTime(), j.description()
        out.append((
            j.jobId(),
            sub.get().getTime() if sub.isDefined() else None,
            comp.get().getTime() if comp.isDefined() else None,
            f"{desc.get()}  {j.name()}" if desc.isDefined() else j.name(),
        ))
    return sorted(out, key=lambda j: (j[1] or 0, j[0]))


def timeline(jobs) -> tuple[list[str], float]:
    """One line per job of ``jobs_snapshot`` rows (in submission
    order): offset from the first submission, duration, and the gap
    since the previous job ended.  A job listed before it was
    submitted has no submission time, so no offset, duration or gap.
    -> (lines, sum of job durations in seconds)."""
    base = next((sub for _, sub, _, _ in jobs if sub), 0)
    prev_end = base
    busy = 0.0
    lines = []
    for jid, sub, comp, desc in jobs:
        dur = (comp - sub) / 1000.0 if (sub and comp) else float("nan")
        gap = (sub - prev_end) / 1000.0 if sub else float("nan")
        off = (sub - base) / 1000.0 if sub else float("nan")
        busy += dur if dur == dur else 0
        d = (desc or "")[:100].replace("\n", " ")
        lines.append(
            f"  job {jid:4d}  t+{off:7.3f}s  dur {dur:6.3f}s  gap {gap:6.3f}s  {d}"
        )
        if comp:
            prev_end = max(prev_end, comp)
    return lines, busy


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--reps", type=int, metavar="N")
    mode.add_argument("--jobs", action="store_true")
    mode.add_argument("--explain", metavar="DIR")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.reps is not None and args.reps < 1:
        ap.error("--reps must be at least 1")
    queries = select(args.queries)
    target = sf_dir()
    spark = start("qurio-spark-runloop", target)
    medians: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name, fn in queries.items():
        if args.reps:
            samples = []
            for rep in range(args.reps + 1):  # rep 0: untimed warm-up
                r = run(spark, target, fn, name=name)
                if r.error is not None:
                    break
                if rep:
                    samples.append(r.seconds)
            ok = len(samples) == args.reps
            medians[name] = round(statistics.median(samples), 3) if ok else -1.0
            spread[name] = round(max(samples) - min(samples), 3) if ok else 0.0
        elif args.jobs:
            before = {j[0] for j in jobs_snapshot(spark)}
            r = run(spark, target, fn, name=name)
            jobs = [j for j in jobs_snapshot(spark) if j[0] not in before]
            print(f"\n=== {name}: wall {r.seconds:.3f}s (build {r.build_s:.3f}s), "
                  f"{len(jobs)} jobs ===")
            lines, busy = timeline(jobs)
            for line in lines:
                print(line)
            print(f"  --- sum(job dur) {busy:.3f}s; wall-jobs gap "
                  f"{r.seconds - busy:.3f}s (driver-side / planning / IO)")
        else:
            r = run(spark, target, fn, "explain", name=name)
            if r.error is None:
                os.makedirs(args.explain, exist_ok=True)
                with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                    fh.write(r.result)
                print(f"ok {name}")
        if r.error is not None:
            print(f"error in {name}: {r.error}", file=sys.stderr)
    if args.reps:
        print(json.dumps({
            "metric": "median_query_seconds",
            "value": round(sum(v for v in medians.values() if v >= 0), 3),
            "unit": "sec",
            "reps": args.reps,
            "queries": medians,
            "spread": spread,
            "sf": sf_value(target),
        }))


if __name__ == "__main__":
    main()
