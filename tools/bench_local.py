#!/usr/bin/env python
"""Variance-controlled local bench: warm-up pass + median-of-N per query.

bench.py times each query ONCE, so sub-second entries swing >30%
round-over-round from JIT/ordering/page-cache noise alone (five
no-code-change entries moved >30% in round 5).  This harness is the
adjudicator: one untimed warm-up execution per query, then N timed
executions (default 3), reporting the median — a regression that
survives the median is real by construction.

Execution contract matches bench.py exactly (noop datasource sink, the
whole plan runs, nothing shipped to the driver; prepared indexes built
outside the timed region).

Usage:
    python tools/bench_local.py                    # every query, N=3
    python tools/bench_local.py ann_ivf lang_id    # subset
    SPARK_GRAFT_BENCH_REPS=5 python tools/bench_local.py ...

The SLOW_SET (the committed top-of-the-bench queries, r14 medians)
runs at SPARK_GRAFT_BENCH_SLOW_REPS (default 7) regardless of the
global rep count, so round-over-round movement >0.3 s on the slow
tail is separable from spread without ad-hoc probes (VERDICT r14 #7);
the JSON carries a per-query rep map alongside the spreads.

Prints ONE JSON line:
    {"metric": "median_query_seconds", "value": <sum of medians>,
     "unit": "sec", "reps": N, "queries": {name: median},
     "spread": {name: max-min}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from qurio_spark.operators.cachectl import release_caches
from qurio_spark.session import get_spark, sf_dir

# the bench's slowest queries (r14 medians, > ~1.8 s at sf0.1):
# streaming micro-batch bootstrap family, BPE train+apply, the blocked
# similarity kernels, and the snapshot/catalog I/O entries
SLOW_SET = frozenset({
    "streaming_near_dedup", "bpe_tokenize", "streaming_sessions_final",
    "streaming_ingest", "semantic_dedup", "fuzzy_join2", "streaming_join",
    "rollup_daily", "snap_dv", "catalog_crud", "lm_buckets", "span_dedup",
})


def main() -> None:
    target = sf_dir()
    sf = target.rstrip("/").rsplit("sf", 1)[-1]
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark(
        app_name="qurio-spark-bench-local",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # a failed index build raises, as in bench.py
    entrymod.prepare_indexes(spark, target)

    all_queries = entrymod.queries()
    wanted = sys.argv[1:]
    unknown = [n for n in wanted if n not in all_queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    selected = {n: all_queries[n] for n in (wanted or all_queries)}

    slow_reps = int(os.environ.get("SPARK_GRAFT_BENCH_SLOW_REPS", "7"))
    medians: dict[str, float] = {}
    spread: dict[str, float] = {}
    reps_used: dict[str, int] = {}
    for name, fn in selected.items():
        n = max(reps, slow_reps) if name in SLOW_SET else reps
        reps_used[name] = n
        df = None
        try:
            samples: list[float] = []
            for rep in range(n + 1):  # rep 0 = untimed warm-up
                t0 = time.time()
                df = fn(spark, target)
                df.write.format("noop").mode("overwrite").save()
                if rep:
                    samples.append(time.time() - t0)
                # cachectl protocol: drop attached caches outside the
                # timed window so reps measure the full plan, not a
                # leftover cache from the previous rep
                release_caches(df)
            medians[name] = round(statistics.median(samples), 3)
            spread[name] = round(max(samples) - min(samples), 3)
        except Exception as e:
            medians[name] = -1.0
            spread[name] = 0.0
            print(f"bench error in {name}: {e}", file=sys.stderr)
            if df is not None:  # a failed rep must not leak its caches
                release_caches(df)

    total = round(sum(v for v in medians.values() if v >= 0), 3)
    print(
        json.dumps(
            {
                "metric": "median_query_seconds",
                "value": total,
                "unit": "sec",
                "reps": reps,
                "reps_per_query": reps_used,
                "queries": medians,
                "spread": spread,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
