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

import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from tools.oracle_check import check_queries


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "Asia/Kolkata")
        .getOrCreate()
    )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = sorted(only - set(qs))
        rows_only = sorted((only & set(qs)) - set(oracles))
        if unknown or rows_only:
            print(
                f"ERROR: not probe-able — unknown: {unknown}, "
                f"no oracle (rows-only): {rows_only}"
            )
            sys.exit(2)
    names = [n for n in (list(qs)[:50] if not only else sorted(only))
             if n in oracles]
    if not names:
        print("ERROR: nothing to probe")
        sys.exit(2)
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
