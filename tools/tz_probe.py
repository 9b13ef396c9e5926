#!/usr/bin/env python
"""Timezone-robustness probe: run queries on a STOCK SparkSession
pinned to a non-UTC zone (Asia/Kolkata) and oracle-compare — catches
NTZ coercion drift that the UTC-pinned engine session would mask (the
driver uses its own stock session; see the verify skill's gotcha on
``_normalize_events_ts``).

Usage: python tools/tz_probe.py [sf_dir] [query ...]
Defaults to sf0.01 and every driver-window (first 50) query.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# a stock session's Python workers find qurio_spark only through the
# environment they inherit (get_spark sets their PYTHONPATH instead)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from tools.oracle_check import check_queries
from tools.runloop import select


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sorted(set(sys.argv[2:]))
    oracles = entrymod.oracle_sql()
    rows_only = [n for n in select(only) if n not in oracles] if only else []
    if rows_only:
        print(f"ERROR: not probe-able — no oracle (rows-only): {rows_only}")
        sys.exit(2)
    names = [n for n in (only or list(entrymod.queries())[:50]) if n in oracles]
    if not names:
        print("ERROR: nothing to probe")
        sys.exit(2)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "Asia/Kolkata")
        .getOrCreate()
    )
    passed = failed = 0
    for name, verdict, note, n, _ in check_queries(spark, sf_dir, names):
        if verdict == "PASS":
            passed += 1
            print(f"PASS {name} ({n} rows) [tz=Asia/Kolkata]")
        else:
            failed += 1
            print(f"FAIL {name}: {note}")
    print(f"\n{passed} passed, {failed} failed under Asia/Kolkata")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
