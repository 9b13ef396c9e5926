#!/usr/bin/env python
"""Per-query Spark JOB trace: run named queries exactly like bench.py
(construction + noop sink) and print every Spark job the query
submitted — id, submission/completion wall times, duration, and the
job's call-site description — so sequential driver-side job chains
and §2.6 overlap opportunities are visible without the UI.

Usage:
    python tools/job_trace.py <query> [query ...]

Output per query: a line per job, ordered by submission, with
``gap`` = idle driver time since the previous job finished (the
scheduling holes §2.6 job overlap would fill), plus the query's
total wall time and the sum of job durations.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from qurio_spark.operators.cachectl import release_caches
from qurio_spark.session import get_spark, sf_dir


def jobs_snapshot(spark):
    """[(jobId, submissionMs, completionMs, description)] for every
    job the app has run, via the AppStatusStore."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub = j.submissionTime()
        comp = j.completionTime()
        sub_ms = sub.get().getTime() if sub.isDefined() else None
        comp_ms = comp.get().getTime() if comp.isDefined() else None
        desc = j.description()
        d = desc.get() if desc.isDefined() else j.name()
        out.append((j.jobId(), sub_ms, comp_ms, d))
    return out


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
        # first 100 chars of the description/callsite
        d = (desc or "")[:100].replace("\n", " ")
        lines.append(
            f"  job {jid:4d}  t+{off:7.3f}s  dur {dur:6.3f}s  gap {gap:6.3f}s  {d}"
        )
        if comp:
            prev_end = max(prev_end, comp)
    return lines, busy


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    target = sf_dir()
    spark = get_spark(
        app_name="qurio-job-trace",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    entrymod.prepare_indexes(spark, target)
    qs = entrymod.queries()
    for name in names:
        before_ids = {j[0] for j in jobs_snapshot(spark)}
        t0 = time.time()
        df = qs[name](spark, target)
        t_build = time.time() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        release_caches(df)
        jobs = [
            j for j in jobs_snapshot(spark) if j[0] not in before_ids
        ]
        jobs.sort(key=lambda j: (j[1] or 0, j[0]))
        print(f"\n=== {name}: wall {wall:.3f}s (build {t_build:.3f}s), "
              f"{len(jobs)} jobs ===")
        lines, busy = timeline(jobs)
        for line in lines:
            print(line)
        print(f"  --- sum(job dur) {busy:.3f}s; wall-jobs gap "
              f"{wall - busy:.3f}s (driver-side / planning / IO)")


if __name__ == "__main__":
    main()
