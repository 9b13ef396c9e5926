"""Round-16 §2.6 job-overlap seams: run_concurrent semantics, the
aggview precomputed-states hook, and concurrent same-table snapshot
appends (the pattern the snap-family queries now use)."""

import time

import pytest
from pyspark.sql import functions as F

from qurio_spark.functions.jobs import run_concurrent


class TestRunConcurrent:
    def test_results_in_input_order(self):
        def slow():
            time.sleep(0.05)
            return "slow"

        assert run_concurrent([slow, lambda: "fast"]) == ["slow", "fast"]

    def test_single_thunk_runs_inline(self):
        assert run_concurrent([lambda: 7]) == [7]
        assert run_concurrent([]) == []

    def test_error_propagates_after_all_settle(self):
        done = []

        def ok():
            time.sleep(0.05)
            done.append(True)
            return 1

        def boom():
            raise ValueError("boom")

        with pytest.raises(ValueError, match="boom"):
            run_concurrent([boom, ok])
        # the pool drained: the healthy thunk was not abandoned
        assert done == [True]

    def test_spark_actions_overlap(self, spark):
        """Two concurrent actions both complete and return their own
        results (thread-locality of job submission)."""
        a, b = run_concurrent(
            [
                lambda: spark.range(1000).count(),
                lambda: spark.range(500).count(),
            ]
        )
        assert (a, b) == (1000, 500)


class TestJobTraceTimeline:
    def test_unsubmitted_job_has_no_offset(self):
        """A job the status store lists before its submission time is
        known gets nan offset/duration/gap, and does not move the base
        the other jobs are offset from."""
        from tools.runloop import timeline

        jobs = [(7, None, None, "pending"), (5, 1000, 1500, "a"), (6, 2000, 2250, "b")]
        lines, busy = timeline(jobs)
        assert len(lines) == 3
        assert "t+    nan" in lines[0] and "pending" in lines[0]
        assert "t+  0.000s  dur  0.500s" in lines[1]
        assert "t+  1.000s  dur  0.250s  gap  0.500s" in lines[2]
        assert busy == pytest.approx(0.75)


class TestAggviewStatesHook:
    def _events(self, spark):
        rows = [(i, "a" if i % 3 else "b", float(i % 7)) for i in range(60)]
        return spark.createDataFrame(rows, "event_id long, k string, v double")

    def test_states_path_equals_delta_path(self, spark, tmp_path):
        from qurio_spark.functions.checkpointing import checkpoint_df
        from qurio_spark.plans.aggview import (
            partial_states,
            read_agg_view,
            refresh_agg_view,
        )

        ev = self._events(spark)
        b0 = ev.filter(F.col("event_id") % 2 == 0)
        b1 = ev.filter(F.col("event_id") % 2 == 1)

        p_delta = str(tmp_path / "via_delta")
        refresh_agg_view(spark, p_delta, b0, ["k"], "v")
        refresh_agg_view(spark, p_delta, b1, ["k"], "v")

        p_states = str(tmp_path / "via_states")
        refresh_agg_view(
            spark, p_states, None, ["k"], "v",
            states=partial_states(b0, ["k"], "v"),
        )
        refresh_agg_view(
            spark, p_states, None, ["k"], "v",
            states=checkpoint_df(partial_states(b1, ["k"], "v"), eager=True),
        )

        rows = lambda p: sorted(  # noqa: E731
            map(tuple, read_agg_view(spark, p).collect())
        )
        assert rows(p_states) == rows(p_delta)

    def test_states_path_partitioned_equals_delta_path(self, spark, tmp_path):
        from qurio_spark.functions.checkpointing import checkpoint_df
        from qurio_spark.plans.aggview import (
            partial_states,
            read_agg_view,
            refresh_agg_view,
        )

        ev = self._events(spark).withColumn(
            "day", (F.col("event_id") % 4).cast("string")
        )
        keys = ["day", "k"]
        b0 = ev.filter(F.col("event_id") < 30)
        b1 = ev.filter(F.col("event_id") >= 30)

        p_delta = str(tmp_path / "via_delta")
        refresh_agg_view(spark, p_delta, b0, keys, "v", partition_col="day")
        refresh_agg_view(spark, p_delta, b1, keys, "v", partition_col="day")

        p_states = str(tmp_path / "via_states")
        refresh_agg_view(
            spark, p_states, None, keys, "v", partition_col="day",
            states=partial_states(b0, keys, "v"),
        )
        refresh_agg_view(
            spark, p_states, None, keys, "v", partition_col="day",
            states=checkpoint_df(
                partial_states(b1, keys, "v"), eager=True
            ),
        )

        rows = lambda p: sorted(  # noqa: E731
            map(tuple, read_agg_view(spark, p).collect())
        )
        assert rows(p_states) == rows(p_delta)

    def test_exactly_one_of_delta_states(self, spark, tmp_path):
        from qurio_spark.plans.aggview import partial_states, refresh_agg_view

        ev = self._events(spark)
        with pytest.raises(ValueError, match="exactly one"):
            refresh_agg_view(
                spark, str(tmp_path / "x"), ev, ["k"], "v",
                states=partial_states(ev, ["k"], "v"),
            )
        with pytest.raises(ValueError, match="exactly one"):
            refresh_agg_view(spark, str(tmp_path / "y"), None, ["k"], "v")


class TestConcurrentSnapAppends:
    def test_racing_appends_union_is_complete(self, spark, tmp_path):
        """N appends submitted concurrently (the snap-family query
        shape): every row lands exactly once, versions form a chain
        0..N-1, and the final read is the order-free union."""
        from qurio_spark.plans.snapshots import snap_read, snap_versions

        path = str(tmp_path / "t")
        df = spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

        def app(lo, hi):
            from qurio_spark.plans.snapshots import snap_append

            return lambda: snap_append(
                df.filter((F.col("k") >= lo) & (F.col("k") < hi)), path
            )

        versions = run_concurrent(
            [app(0, 100), app(100, 200), app(200, 300), app(300, 400)]
        )
        assert sorted(versions) == [0, 1, 2, 3]
        vs = snap_versions(path)
        assert [m["version"] for m in vs] == [0, 1, 2, 3]
        assert [m["parent"] for m in vs] == [None, 0, 1, 2]
        got = sorted(r["k"] for r in snap_read(spark, path).collect())
        assert got == list(range(400))


class TestPlantedGramCollision:
    """VERDICT r15 #9: pin the xxhash64 gram-fold's failure MODE with a
    planted collision instead of a comment.  Forcing the gram key into
    4 buckets makes distinct grams share keys; the documented
    degradation is MERGED counts — strictly more positions flagged, so
    the collision run's kept tokens are a SUBSET of the true run's per
    document — never a resurrection of a duplicate span or a crash."""

    def test_collision_only_over_removes(self, spark, monkeypatch):
        import qurio_spark.operators.dedup as dd

        texts = [
            "aa bb cc dd unique1 unique2 unique3",
            "zz aa bb cc dd yy xx ww vv",
            "totally different words here nothing shared one two",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )

        def run():
            return {
                r["doc_id"]: set(r["text_clean"].split())
                for r in dd.remove_duplicate_spans(df, k=4, min_count=2).collect()
            }

        true_kept = run()
        monkeypatch.setattr(
            dd, "_gram_key", lambda c: F.pmod(F.xxhash64(c), F.lit(4))
        )
        collided_kept = run()
        for doc in true_kept:
            # merged counts can only flag MORE grams -> fewer kept
            assert collided_kept[doc] <= true_kept[doc]
        # the true duplicated span is still removed under collisions
        assert "aa" not in collided_kept[0] and "aa" not in collided_kept[1]
