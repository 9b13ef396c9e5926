"""Workload ``batch_suite``: registered batch queries, one per module.

The ten input tables are generated from the seed (``gen.write_tables``).
An untimed first pass collects every query and checks its rows against
the query's ``oracle_sql()`` twin on DuckDB; it is also the warm-up.
Timed passes then repeat the suite until ``--seconds`` have passed, at
least twice, so that one slow moment of a shared host weighs less;
each query is timed exactly as in ``bench.py`` (the function call plus
the noop sink, ``release_caches`` outside the timer).

No query of the suite reads an index that ``prepare_indexes`` persists,
so no run calls it: it builds six indexes in 40-60 s on 4 cores, and
every run starts its own session, so a run has no room for it (a run
must end within 180 s).
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import (
    Context, Result, install_layers, self_time_metrics, set_job_group, spark_layer_metrics,
)
from perfbench.stats import geomean, median

#: One query per ``qurio_spark/queries`` module, each with an oracle and
#: none reading a prepared index.  ``vector_topk`` stands for the search
#: module: the serving path's hybrid search is ``mcp_search``'s, and
#: ``hybrid_filtered`` alone took a fifth of a pass.
SUITE = {
    "catalog": "stats_fanin",
    "search": "vector_topk",
    "textstats": "quality_scores",
    "dedup": "exact_dedup",
    "events_tpch": "tpch_q21",
    "breadth": "events_funnel",
    "ingest": "reingest_skip_unchanged",
    "relational": "snap_compact",
    "media": "resize_targets",
    "temporal": "events_asof_attribution",
    "pipelines": "lsh_topk",
}
SCALE = 0.001
MIN_TIMED_PASSES = 2


def _setup(ctx: Context) -> str:
    """Generate the tables."""
    data = os.path.join(ctx.work, "tables")
    os.makedirs(data)
    gen.write_tables(ctx.seed, data, SCALE)
    return data


def _check(ctx: Context, res: Result, entry, data: str) -> None:
    import duckdb

    from qurio_spark.operators.cachectl import release_caches
    from qurio_spark.oracle import compare, register_views

    qs, sql = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        register_views(con, data)
        for name in SUITE.values():
            res.attempted += 1
            df = qs[name](ctx.spark, data)
            try:
                rows, cols = df.collect(), df.columns
            finally:
                release_caches(df)
            cur = con.execute(sql[name])
            problems = compare(cols, rows, [d[0] for d in cur.description], cur.fetchall())
            if problems:
                res.fail(f"{name}: {problems[0]}")
    finally:
        con.close()


def _pass(ctx: Context, res: Result, entry, data: str, tag: str | None) -> dict:
    """One timed pass: {query: (wall_s, build_s, release_s)}."""
    from qurio_spark.operators.cachectl import release_caches

    qs = entry.queries()
    tracer = ctx.tracer if tag else None
    out = {}
    for mod, name in SUITE.items():
        op = f"batch_suite:{name}:{tag}"
        if tracer:
            set_job_group(ctx.spark, op)
            root = tracer.begin(f"queries.{mod}", op=op)
        res.attempted += 1
        df = None
        t0 = time.perf_counter()
        try:
            df = qs[name](ctx.spark, data)
            t1 = time.perf_counter()
            if tracer:
                with tracer.span("spark.sink"):
                    df.write.format("noop").mode("overwrite").save()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # one failed query must not hide the rest
            res.fail(f"{name}: {e}")
            continue
        finally:
            if tracer:
                tracer.end(root)
            t3 = time.perf_counter()
            if df is not None:
                release_caches(df)
            t4 = time.perf_counter()
        out[name] = (t2 - t0, t1 - t0, t4 - t3)
    if tracer:
        set_job_group(ctx.spark, None)
    return out


def _passes(ctx, res, entry, data, seconds: float, traced: bool, least: int = 1) -> list[dict]:
    """At least ``least`` timed passes, and more until ``seconds`` are
    used; another pass starts only if it should end in time."""
    passes = []
    t0 = time.perf_counter()
    while len(passes) < least or (time.perf_counter() - t0) * (len(passes) + 1) / len(passes) <= seconds:
        passes.append(_pass(ctx, res, entry, data, f"p{len(passes)}" if traced else None))
    return passes


def run(ctx: Context, res: Result) -> None:
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    data = _setup(ctx)
    _check(ctx, res, entry, data)
    # set-up is everything before the first timed query, the checked
    # first pass (the warm-up) included
    res.put("setup_s", ctx.session_s + time.perf_counter() - t0, "s")
    if ctx.trace:
        # untraced passes before and after the traced ones, so that query
        # times still falling after warm-up do not read as (negative)
        # tracing overhead
        plain = _passes(ctx, res, entry, data, ctx.seconds / 4, False)
        install_layers(ctx.tracer)
        try:
            traced = _passes(ctx, res, entry, data, ctx.seconds / 2, True)
        finally:
            ctx.tracer.uninstall()
        plain += _passes(ctx, res, entry, data, ctx.seconds / 4, False)
    else:
        plain = _passes(ctx, res, entry, data, ctx.seconds, False, MIN_TIMED_PASSES)
    per_query = {
        q: median([p[q][0] for p in plain if q in p]) for q in SUITE.values()
        if any(q in p for p in plain)
    }
    totals = [sum(v[0] for v in p.values()) for p in plain]
    res.put("op_p50_ms", median(list(per_query.values())) * 1000.0, "ms")
    res.put("ops_per_s", len(SUITE) / median(totals), "1/s")
    res.put("batch_total_s", median(totals), "s")
    res.put("batch_geomean_ms", geomean(list(per_query.values())) * 1000.0, "ms")
    res.report.update(
        passes=len(plain),
        query_wall_s={q: round(v, 4) for q, v in per_query.items()},
    )
    if ctx.trace:
        _layer_metrics(ctx, res, traced, median(totals))


def _layer_metrics(ctx: Context, res: Result, passes: list[dict], plain_total: float) -> None:
    wall_ms = {
        f"batch_suite:{q}:p{i}": v[0] * 1000.0
        for i, p in enumerate(passes) for q, v in p.items()
    }
    ops = spark_layer_metrics(res, ctx.spark, "batch_suite:", wall_ms)
    traced_total = median([sum(v[0] for v in p.values()) for p in passes])
    res.put("trace.overhead_pct", (traced_total / plain_total - 1.0) * 100.0, "%")
    for mod, q in SUITE.items():
        rows = [(p[q], ops.get(f"batch_suite:{q}:p{i}")) for i, p in enumerate(passes) if q in p]
        if not rows:
            continue
        key = f"queries.{mod}"
        res.put(f"{key}.wall_s", median([v[0] for v, _ in rows]), "s")
        res.put(f"{key}.build_s", median([v[1] for v, _ in rows]), "s")
        res.put(f"{key}.driver_gap_s",
                median([max(0.0, v[0] - (c.job_ms / 1000.0 if c else 0.0)) for v, c in rows]), "s")
        res.put(f"{key}.jobs", median([c.jobs if c else 0 for _, c in rows]), "count")
        res.put(f"{key}.executor_cpu_s",
                median([c.executor_cpu_ms / 1000.0 if c else 0.0 for _, c in rows]), "s")
        res.put(f"{key}.shuffle_mb",
                median([(c.shuffle_read_kb + c.shuffle_write_kb) / 1024.0 if c else 0.0
                        for _, c in rows]), "MB")
    res.put("engine.build_ms_per_op",
            median([v[1] * 1000.0 for p in passes for v in p.values()]), "ms")
    releases = [sum(v[2] for v in p.values()) for p in passes]
    res.put("cachectl.release_s", median(releases), "s")
    self_time_metrics(res, ctx.tracer, sum(len(p) for p in passes))
