#!/usr/bin/env python
"""Capture ``.explain("formatted")`` for declared queries to files.

Usage:
    python tools/explain_dump.py <outdir> [query ...]   # default: all

Writes ``<outdir>/<query>.txt`` with the formatted physical plan of
each named ``queries()`` entry (the round-15 deliverable format:
``plans/r15/<query>_before.txt`` / ``_after.txt`` are copies of these
captures).  Building the DataFrame runs any setup work a query does at
construction time (snapshot commits, index builds) but never executes
the final plan, so captures are cheap and side-effect-equivalent to a
bench run's build phase.  ``prepare_indexes`` runs first, matching
bench.py, so persisted-index queries show their bench-path plans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from qurio_spark.operators.cachectl import release_caches
from qurio_spark.session import get_spark, sf_dir


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(em)


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    outdir = sys.argv[1]
    os.makedirs(outdir, exist_ok=True)
    target = sf_dir()
    spark = get_spark(
        app_name="qurio-spark-explain",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # a failed index build raises: swallowing it would capture the
    # in-DAG plans instead of the bench-path ones
    entrymod.prepare_indexes(spark, target)
    all_queries = entrymod.queries()
    wanted = sys.argv[2:] or list(all_queries)
    unknown = [n for n in wanted if n not in all_queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    for name in wanted:
        df = None
        try:
            df = all_queries[name](spark, target)
            text = explain_str(df)
            with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
                fh.write(text)
            print(f"ok {name}")
        except Exception as e:
            print(f"ERR {name}: {e}", file=sys.stderr)
        finally:
            if df is not None:
                try:
                    release_caches(df)
                except Exception:
                    pass


if __name__ == "__main__":
    main()
