#!/usr/bin/env python
"""Plan audit: print verifiable physical-plan evidence for the engine's
headline queries — pushed filters, partition pruning, shuffle counts,
whole-stage-codegen spans, join strategies.

Usage:
    python tools/plan_audit.py [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and a representative query set.  For
each query it prints one summary line:

    name  exchanges=N  bnlj/smj/bhj counts  codegen_spans=N  pushed=yes/no

and with -v the full formatted plan.  This is the check the SCALE.md
claims are made against.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from qurio_spark.session import get_spark

DEFAULT_QUERIES = [
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18", "bm25_topk", "bm25_prebuilt",
    "hybrid_topk", "batch_hybrid", "batch_hybrid_ivf",
    "ann_ivf", "lsh_prebuilt", "lsh_multiprobe",
    "exact_dedup", "ngram_jaccard", "ngram_jaccard_capped", "simhash_near",
    "curate", "events_sessions",
]


def _depth_of(line):
    return len(line) - len(line.lstrip(" :+-*("))


def strip_initial_plans(plan: str) -> str:
    """Drop every "== Initial Plan ==" section, at ANY depth.  AQE
    appends the pre-adaptive plan under that marker — and a CACHED
    subtree that already executed prints its own nested Final/Initial
    pair INSIDE the InMemoryRelation body, so splitting the string at
    the first marker (the r14 form) truncated everything after the
    first cached block, silently undercounting live shuffles.  A
    section runs from its marker line until the first line at depth
    <= the marker's (same end rule as the IMR-block walk)."""
    out, skip_depth = [], None
    for line in plan.splitlines():
        d = _depth_of(line)
        if skip_depth is not None:
            if d > skip_depth:
                continue
            skip_depth = None
        if "== Initial Plan ==" in line:
            skip_depth = d
            continue
        out.append(line)
    return "\n".join(out)


def split_cached_blocks(plan: str):
    """``(live_lines, imr_blocks)``: the plan's lines OUTSIDE
    InMemoryRelation subtrees, plus one ``(header, body_lines)`` pair
    per cached block (subtree = the indented block under the IMR
    line).  Input should already be ``strip_initial_plans()``-ed.
    THE shared walk — the plan asserts in
    tests/test_prefix + tests/test_textstats reuse it rather than
    re-implementing the depth/IMR logic (three copies of which drifted
    before r15's nested-AQE fix)."""
    live, blocks, imr_depth = [], [], None
    for line in plan.splitlines():
        d = _depth_of(line)
        if imr_depth is not None and d <= imr_depth:
            imr_depth = None
        if "InMemoryRelation" in line and imr_depth is None:
            imr_depth = d
            # header keeps its storage level, drops tree glyphs — see
            # the dedup-key rationale in audit()
            blocks.append((line.strip(" :+-"), []))
            continue
        if imr_depth is None:
            live.append(line)
        else:
            blocks[-1][1].append(line)
    return live, blocks


def live_lines(df_or_plan) -> list:
    """Executed-plan lines that actually RUN: Initial-Plan sections and
    cached subtrees removed.  Accepts a DataFrame or a plan string."""
    plan = (
        df_or_plan
        if isinstance(df_or_plan, str)
        else df_or_plan._jdf.queryExecution().executedPlan().toString()
    )
    return split_cached_blocks(strip_initial_plans(plan))[0]


def count_exchanges(lines) -> int:
    """Shuffle exchanges in the given plan lines (broadcast and reused
    exchanges excluded)."""
    return sum(
        1
        for l in lines
        if re.search(r"\bExchange\b", l) and not re.search(r"Broadcast|Reused", l)
    )


def audit(df):
    # execute first: under AQE the final plan (stage re-plans, codegen
    # markers) only exists after the action ran
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # audit only what actually ran
    plan = strip_initial_plans(plan)
    lines = plan.splitlines()

    def count(pat, exclude=None):
        return sum(
            1
            for l in lines
            if re.search(pat, l) and not (exclude and re.search(exclude, l))
        )

    # Exchanges nested under an InMemoryRelation execute ONCE when the
    # cache materializes, not once per InMemoryTableScan occurrence in
    # the plan text — count shuffles outside cached subtrees plus each
    # DISTINCT cached build plan's shuffles once.  (Subtree = the
    # indented block under the IMR line.)
    # the IMR header joins the dedup key with its attribute #ids
    # NORMALIZED but its storage level kept: CacheManager substitutes
    # the SAME physical cache into a re-derived lineage via withOutput
    # re-aliasing (fresh exprIds, e.g. lm_buckets' rank vs totals
    # branch prints #901L/#1196L for one cache), so raw-header keying
    # would double-count its build shuffles; two caches that differ
    # only in storage level (the genuinely-distinct case ADVICE r14
    # raised) still key apart because the level survives
    # normalization.
    live, imr_blocks = split_cached_blocks(plan)
    _exchanges = count_exchanges

    # normalize before deduping: two printings of the SAME cached
    # relation differ in re-aliased attribute #ids, plan_ids, codegen
    # stage numbers, and per-line tree-prefix indentation (the block's
    # position in the outer tree)
    def _norm(block):
        t = "\n".join(x.strip(" :+-") for x in block)
        t = re.sub(r"#\d+", "#", t)
        t = re.sub(r"plan_id=\d+", "plan_id=", t)
        return re.sub(r"\*\(\d+\)", "*", t)

    unique_blocks = {(_norm([hdr]), _norm(body)) for hdr, body in imr_blocks}
    shuffles = _exchanges(live) + sum(
        _exchanges(body.splitlines()) for _, body in unique_blocks
    )

    return {
        "shuffles": shuffles,
        "broadcasts": count(r"BroadcastExchange"),
        "smj": count(r"SortMergeJoin"),
        "bhj": count(r"BroadcastHashJoin"),
        "bnlj": count(r"BroadcastNestedLoopJoin"),
        # Spark's simple plan string marks codegen stages as "*(N) Op"
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": count(r"PushedFilters: \[[^\]]"),
        "partition_filters": count(r"PartitionFilters: \[[^\]]"),
        "python_stages": count(r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas"),
        "plan": plan,
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "-v"]
    verbose = "-v" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:] or DEFAULT_QUERIES

    spark = get_spark(app_name="qurio-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"{name:24s} UNKNOWN QUERY")
            continue
        try:
            a = audit(qs[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — audit must not die mid-list
            print(f"{name:24s} ERROR {e}")
            continue
        print(
            f"{name:24s} shuffles={a['shuffles']:2d} bcast={a['broadcasts']:2d} "
            f"smj={a['smj']} bhj={a['bhj']} bnlj={a['bnlj']} "
            f"codegen={a['codegen_spans']:2d} pushed={a['pushed_filters']:2d} "
            f"partfilters={a['partition_filters']:2d} py={a['python_stages']}"
        )
        if verbose:
            print(a["plan"])


if __name__ == "__main__":
    main()
