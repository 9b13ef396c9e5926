#!/usr/bin/env python
"""Local emulation of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and order-insensitive values (compare rules live in
``qurio_spark.oracle`` and are shared with tests/test_queries_full.py).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entrymod
from qurio_spark.goldens import golden_for, rows_hash
from qurio_spark.operators.cachectl import release_caches
from qurio_spark.oracle import compare, register_views
from qurio_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check")
    names = [n for n in entrymod.queries() if not only or n in only]
    counts = {"PASS": 0, "FAIL": 0, "SKIP": 0}
    for name, verdict, note, n, secs in check_queries(spark, sf_dir, names):
        counts[verdict] += 1
        if verdict == "FAIL":
            print(f"FAIL {name}: {note}")
        elif verdict == "SKIP":
            print(f"SKIP {name}: no oracle (rows-only) — {n} rows [{secs:.1f}s]")
        else:
            detail = f"{note}, " if note else ""
            print(f"PASS {name} ({detail}{n} rows) [{secs:.1f}s]")
    print(f"\n{counts['PASS']} passed, {counts['FAIL']} failed, "
          f"{counts['SKIP']} rows-only")
    return 1 if counts["FAIL"] else 0


def _verdict(con, sql, name, sf_dir, scols, srows):
    """("PASS" | "FAIL" | "SKIP", note) for one query's collected rows."""
    if sql is None:
        # rows-only entries still get a REAL check when a golden
        # row-hash is pinned for this sf (qurio_spark/goldens.py)
        want = golden_for(name, sf_dir)
        if want is None:
            return "SKIP", None
        got = rows_hash(scols, srows)
        if got == want:
            return "PASS", "golden row-hash"
        return "FAIL", f"golden row-hash drifted: {got}"
    try:
        res = con.execute(sql)
        dcols, drows = [d[0] for d in res.description], res.fetchall()
    except Exception as e:
        return "FAIL", f"duckdb error: {e}"
    problems = compare(scols, srows, dcols, drows)
    return ("FAIL", "; ".join(problems)) if problems else ("PASS", None)


def check_queries(spark, sf_dir, names):
    """Run each named ``queries()`` entry on ``spark`` and check its
    rows: against its ``oracle_sql()`` twin on DuckDB over the same
    tables, else against the golden row-hash pinned for this sf, else
    not at all.  Yields ``(name, verdict, note, n_rows, seconds)``;
    ``note`` says why a query failed, or "golden row-hash" for a golden
    pass.  Releases every cache a query attaches to its result
    (cachectl protocol: a long sweep must not accumulate them)."""
    con = duckdb.connect()
    register_views(con, sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in names:
        t0 = time.time()
        sdf, srows = None, []
        try:
            sdf = qs[name](spark, sf_dir)
            scols, srows = sdf.columns, sdf.collect()
        except Exception as e:
            verdict, note = "FAIL", f"spark error: {e}"
        else:
            verdict, note = _verdict(
                con, oracles.get(name), name, sf_dir, scols, srows
            )
        finally:
            if sdf is not None:
                release_caches(sdf)
        yield name, verdict, note, len(srows), time.time() - t0


if __name__ == "__main__":
    sys.exit(main())
