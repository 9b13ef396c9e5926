"""The shared batch run loop (tools/runloop.py): each sink's result, a
failed query recorded without stopping the loop, caches released after
every run, and every harness importable from any working directory."""

import glob
import os
import subprocess
import sys

from qurio_spark.operators.cachectl import attach_caches, cached_frames

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_harnesses_import_from_any_directory(tmp_path):
    """Each harness puts the repo root on ``sys.path`` from its own
    location.  ``run_name`` keeps ``main()`` from running, so no JVM
    starts."""
    paths = [os.path.join(ROOT, "bench.py")] + sorted(
        glob.glob(os.path.join(ROOT, "tools", "*.py"))
    )
    code = "import runpy, sys\nfor p in sys.argv[1:]:\n    runpy.run_path(p, run_name='x')"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, *paths],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr


def test_sinks_record_failures_and_release_caches(spark, sf_dir):
    import __spark_entry__ as entrymod
    from tools.runloop import run

    qs = entrymod.queries()
    owned = []

    def lm_buckets(spark, target):  # a registered query that owns caches
        df = qs["lm_buckets"](spark, target)
        owned.append(len(cached_frames(df)))
        return df

    def boom(spark, target):  # builds, owns a cache, fails when run
        df = spark.range(3).selectExpr("raise_error('boom') AS x")
        return attach_caches(df, [spark.range(2).persist()])

    sc = spark.sparkContext
    for sink in ("noop", "collect", "explain"):
        sc.setLocalProperty("spark.jobGroup.id", f"test-runloop-{sink}")
        try:
            queries = {"tpch_q6": qs["tpch_q6"], "boom": boom, "lm_buckets": lm_buckets}
            runs = {name: run(spark, sf_dir, fn, sink, name=name) for name, fn in queries.items()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for name, r in runs.items():
            assert cached_frames(r.df) == [], (sink, name)
            failed = name == "boom" and sink != "explain"
            assert (r.error is not None) == failed, (sink, name, r.error)
            if failed:
                assert "boom" in str(r.error) and r.seconds == -1.0
                continue
            assert 0 <= r.build_s <= r.seconds
            if sink == "noop":
                assert r.result is None
            elif sink == "collect":
                assert r.result and list(r.result[0].asDict()) == r.df.columns
            else:
                assert "== Physical Plan ==" in r.result
    assert owned and all(owned), owned

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = {
        store.job(j).description().get()
        for j in sc.statusTracker().getJobIdsForGroup("test-runloop-noop")
    }
    assert "tpch_q6:noop" in descs and "lm_buckets:noop" in descs
