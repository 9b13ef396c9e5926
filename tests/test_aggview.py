"""plans/aggview.py: incremental refresh == one-shot recompute under
ANY batch split (the mergeable-state contract), untouched partitions
stay byte-identical on disk, and read-time finals derive correctly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans.aggview import (
    merge_states,
    partial_states,
    read_agg_view,
    refresh_agg_view,
    refresh_rollup,
)


@pytest.fixture()
def events(spark, sf_dir):
    from qurio_spark.queries.common import _events

    ev = _events(spark, sf_dir)
    return ev.withColumn(
        "hour_key", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH")
    )


def _final_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _oneshot(spark, events, path):
    refresh_agg_view(
        spark, path, events, ["hour_key", "event_type"], "value",
        partition_col="hour_key",
    )
    return _final_rows(read_agg_view(spark, path))


class TestSplitInvariance:
    @pytest.mark.parametrize("n_batches", [2, 3])
    def test_any_split_equals_oneshot(self, spark, events, tmp_path, n_batches):
        keys = ["hour_key", "event_type"]
        want = _oneshot(spark, events, str(tmp_path / "oneshot"))
        path = str(tmp_path / f"split{n_batches}")
        for i in range(n_batches):
            refresh_agg_view(
                spark, path,
                events.filter(F.col("event_id") % n_batches == i),
                keys, "value", partition_col="hour_key",
            )
        assert _final_rows(read_agg_view(spark, path)) == want

    def test_unpartitioned_view(self, spark, events, tmp_path):
        keys = ["event_type"]
        path = str(tmp_path / "flat")
        for i in range(2):
            refresh_agg_view(
                spark, path, events.filter(F.col("event_id") % 2 == i),
                keys, "value",
            )
        got = _final_rows(read_agg_view(spark, path))
        ref = str(tmp_path / "flat_ref")
        refresh_agg_view(spark, ref, events, keys, "value")
        assert got == _final_rows(read_agg_view(spark, ref))


def test_integer_value_col_keeps_one_schema(spark, tmp_path):
    """An integer value_col must not leave the view with mixed
    long/double parquet files: the first refresh writes `s` from
    partial_states, later refreshes write it through merge_states'
    lit(0.0) coalesce — both must be double."""
    path = str(tmp_path / "intview")
    mk = lambda rows: spark.createDataFrame(rows, "k string, p string, v long")
    refresh_agg_view(spark, path, mk([("a", "x", 1), ("b", "y", 2)]),
                     ["p", "k"], "v", partition_col="p")
    refresh_agg_view(spark, path, mk([("a", "x", 3), ("c", "z", 4)]),
                     ["p", "k"], "v", partition_col="p")
    out = read_agg_view(spark, path)
    rows = {(r["p"], r["k"]): (r["n"], r["total_value"]) for r in out.collect()}
    assert rows == {("x", "a"): (2, 4.0), ("y", "b"): (1, 2.0),
                    ("z", "c"): (1, 4.0)}
    # the persisted state column is double in EVERY file
    from qurio_spark.plans.snapshots import snap_read

    raw = snap_read(spark, path)
    assert dict(raw.dtypes)["s"] == "double"


def test_untouched_partitions_not_rewritten(spark, events, tmp_path):
    """A delta confined to LATER hours must leave earlier hours' files
    byte-untouched (dynamic overwrite of touched partitions only) —
    the O(|delta|) refresh claim made physical."""
    path = str(tmp_path / "mtime")
    hours = sorted(
        r["hour_key"] for r in events.select("hour_key").distinct().collect()
    )
    assert len(hours) >= 2, "fixture needs >= 2 distinct hours"
    early, late = hours[: len(hours) // 2], hours[len(hours) // 2 :]
    refresh_agg_view(
        spark, path, events.filter(F.col("hour_key").isin(early)),
        ["hour_key", "event_type"], "value", partition_col="hour_key",
    )
    before = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    refresh_agg_view(
        spark, path, events.filter(F.col("hour_key").isin(late)),
        ["hour_key", "event_type"], "value", partition_col="hour_key",
    )
    after = {p: os.path.getmtime(p) for p in before if os.path.exists(p)}
    assert after == before


def test_merge_states_identities(spark):
    """Key present on only one side keeps its state verbatim; shared
    keys add counts/sums and take null-skipping min/max."""
    a = spark.createDataFrame(
        [("x", 2, 10.0, 1.0, 9.0), ("only_a", 1, 5.0, 5.0, 5.0)],
        "k string, n long, s double, mn double, mx double",
    )
    b = spark.createDataFrame(
        [("x", 3, 30.0, 0.5, 20.0), ("only_b", 1, 7.0, 7.0, 7.0)],
        "k string, n long, s double, mn double, mx double",
    )
    got = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
           for r in merge_states(a, b, ["k"]).collect()}
    assert got == {
        "x": (5, 40.0, 0.5, 20.0),
        "only_a": (1, 5.0, 5.0, 5.0),
        "only_b": (1, 7.0, 7.0, 7.0),
    }


def test_partial_states_shape(spark):
    d = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", -2.0)], "k string, value double"
    )
    got = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
           for r in partial_states(d, ["k"], "value").collect()}
    assert got == {"a": (2, 4.0, 1.0, 3.0), "b": (1, -2.0, -2.0, -2.0)}


def test_null_partition_key_merges_not_duplicates(spark, tmp_path):
    """A NULL partition key (null ts -> day_key) must behave like any
    other key: its old state MERGES with the delta's — plain isin()
    would skip the old NULL row (never matched by SQL IN) while the
    NULL-safe replace deletes it, losing the prior counts; before the
    replace was NULL-safe it instead survived alongside the new row,
    duplicating state."""
    def mk(rows):
        return spark.createDataFrame(
            rows, "hour_key string, event_type string, value double"
        )

    path = str(tmp_path / "nullview")
    keys = ["hour_key", "event_type"]
    refresh_agg_view(
        spark, path, mk([(None, "x", 1.0), ("h1", "x", 2.0)]),
        keys, "value", partition_col="hour_key",
    )
    refresh_agg_view(
        spark, path, mk([(None, "x", 3.0)]),
        keys, "value", partition_col="hour_key",
    )
    rows = read_agg_view(spark, path).collect()
    null_rows = [r for r in rows if r["hour_key"] is None]
    assert len(null_rows) == 1  # exactly one state row, no duplicate
    assert null_rows[0]["n"] == 2 and null_rows[0]["total_value"] == 4.0
    (h1,) = [r for r in rows if r["hour_key"] == "h1"]
    assert h1["n"] == 1 and h1["total_value"] == 2.0


def test_distinct_state_is_split_invariant(spark, tmp_path):
    """Approximate-distinct as a MERGEABLE HLL state: incremental
    refresh over any batch split must equal the one-shot view, and at
    test cardinality the sparse-mode sketch is exact vs
    countDistinct."""
    def mk(rows):
        return spark.createDataFrame(
            rows, "day string, event_type string, value double, user_id long"
        )

    rows = [
        (f"d{i % 3}", "click" if i % 2 else "view", float(i), i % 37)
        for i in range(300)
    ]
    keys = ["day", "event_type"]

    one = str(tmp_path / "oneshot")
    refresh_agg_view(spark, one, mk(rows), keys, "value",
                     partition_col="day", distinct_col="user_id")
    inc = str(tmp_path / "incr")
    refresh_agg_view(spark, inc, mk(rows[:100]), keys, "value",
                     partition_col="day", distinct_col="user_id")
    refresh_agg_view(spark, inc, mk(rows[100:]), keys, "value",
                     partition_col="day", distinct_col="user_id")

    def finals(path):
        return sorted(
            tuple(r) for r in read_agg_view(spark, path).collect()
        )

    assert finals(inc) == finals(one)
    got = {
        (r["day"], r["event_type"]): r["n_distinct"]
        for r in read_agg_view(spark, one).collect()
    }
    exact = {
        (r["day"], r["event_type"]): r["x"]
        for r in mk(rows).groupBy(*keys).agg(
            F.countDistinct("user_id").alias("x")
        ).collect()
    }
    assert got == exact  # sparse-mode exactness at this cardinality


class TestRollupCascade:
    """refresh_rollup: a daily view maintained FROM the hourly view's
    CDC feed — never the raw events.  Contract: cascade result ==
    direct daily aggregation of the union, untouched day partitions
    stay byte-identical, an empty poll commits nothing."""

    def _hourly(self, spark, events, path, batch):
        refresh_agg_view(
            spark, path, batch,
            ["day_key", "hour_key", "event_type"], "value",
            partition_col="day_key",
        )

    @pytest.fixture()
    def devents(self, events):
        return events.withColumn(
            "day_key", F.substring("hour_key", 1, 10)
        )

    def test_cascade_equals_direct_daily(self, spark, devents, tmp_path):
        hour, day, direct = (
            str(tmp_path / n) for n in ("h", "d", "direct")
        )
        b1 = devents.filter(F.col("event_id") % 2 == 0)
        b2 = devents.filter(F.col("event_id") % 2 == 1)
        self._hourly(spark, devents, hour, b1)
        cur = refresh_rollup(
            spark, hour, day, ["day_key", "event_type"], "day_key"
        )
        self._hourly(spark, devents, hour, b2)
        cur = refresh_rollup(
            spark, hour, day, ["day_key", "event_type"], "day_key",
            cursor=cur,
        )
        refresh_agg_view(
            spark, direct, devents, ["day_key", "event_type"], "value",
            partition_col="day_key",
        )
        # compare RAW states: n/mn/mx are exact; the double sum may
        # differ by summation order (cascade adds hour sums), so `s`
        # gets a relative tolerance — rounding finals instead would
        # flip on exact x.5 boundaries
        from qurio_spark.plans.snapshots import snap_read

        got = {
            (r["day_key"], r["event_type"]): r
            for r in snap_read(spark, day).collect()
        }
        want = {
            (r["day_key"], r["event_type"]): r
            for r in snap_read(spark, direct).collect()
        }
        assert set(got) == set(want)
        for k, w in want.items():
            g = got[k]
            assert (g["n"], g["mn"], g["mx"]) == (w["n"], w["mn"], w["mx"])
            assert g["s"] == pytest.approx(w["s"], rel=1e-9)

    def test_untouched_days_not_rewritten(self, spark, devents, tmp_path):
        from qurio_spark.plans.snapshots import snap_versions

        hour, day = str(tmp_path / "h"), str(tmp_path / "d")
        days = sorted(
            r["day_key"] for r in devents.select("day_key").distinct().collect()
        )
        assert len(days) >= 2
        self._hourly(spark, devents, hour, devents)
        cur = refresh_rollup(
            spark, hour, day, ["day_key", "event_type"], "day_key"
        )
        mtimes = {
            f: os.path.getmtime(os.path.join(day, "data", f))
            for f in os.listdir(os.path.join(day, "data"))
        }
        # a delta touching ONLY the first day
        self._hourly(
            spark, devents, hour,
            devents.filter(F.col("day_key") == days[0]).limit(50),
        )
        cur = refresh_rollup(
            spark, hour, day, ["day_key", "event_type"], "day_key",
            cursor=cur,
        )
        kept = [
            f
            for f in os.listdir(os.path.join(day, "data"))
            if f in mtimes
            and os.path.getmtime(os.path.join(day, "data", f)) == mtimes[f]
        ]
        # other days' value-clustered files carried byte-untouched
        assert kept
        # and the empty poll after catching up commits NOTHING
        n_versions = len(snap_versions(day))
        cur2 = refresh_rollup(
            spark, hour, day, ["day_key", "event_type"], "day_key",
            cursor=cur,
        )
        assert cur2 == cur
        assert len(snap_versions(day)) == n_versions

    def test_distinct_state_cascades(self, spark, devents, tmp_path):
        hour, day = str(tmp_path / "h"), str(tmp_path / "d")
        b1 = devents.filter(F.col("event_id") % 2 == 0)
        b2 = devents.filter(F.col("event_id") % 2 == 1)
        for b in (b1, b2):
            refresh_agg_view(
                spark, hour, b, ["day_key", "event_type"], "value",
                partition_col="day_key", distinct_col="user_id",
            )
        refresh_rollup(spark, hour, day, ["day_key"], "day_key")
        got = {
            r["day_key"]: r["n_distinct"]
            for r in read_agg_view(spark, day).collect()
        }
        want = {
            r["day_key"]: r["nd"]
            for r in devents.groupBy("day_key")
            .agg(F.countDistinct("user_id").alias("nd"))
            .collect()
        }
        # sketch stays exact in sparse mode at test cardinality
        assert got == want

    def test_partition_col_must_be_grouped(self, spark, tmp_path):
        with pytest.raises(ValueError, match="must be in dst_group_cols"):
            refresh_rollup(
                spark, str(tmp_path / "h"), str(tmp_path / "d"),
                ["event_type"], "day_key",
            )


class TestHistogramState:
    """hist_bounds: the mergeable fixed-bound histogram state (hb) —
    bucket counts add exactly across any split, quantile estimates
    derive at read time with error <= one bucket width, and the bounds
    are part of the view definition (mismatched refresh refused)."""

    BOUNDS = (0.0, 100.0, 25)

    def _view(self, spark, events, path, batches):
        for b in batches:
            refresh_agg_view(
                spark, path, b, ["event_type"], "value",
                hist_bounds=self.BOUNDS,
            )

    def test_histogram_split_invariant(self, spark, events, tmp_path):
        from qurio_spark.plans.snapshots import snap_read

        one, two = str(tmp_path / "one"), str(tmp_path / "two")
        self._view(spark, events, one, [events])
        self._view(
            spark, events, two,
            [events.filter(F.col("event_id") % 2 == i) for i in range(2)],
        )
        a = {r["event_type"]: r["hb"] for r in snap_read(spark, one).collect()}
        b = {r["event_type"]: r["hb"] for r in snap_read(spark, two).collect()}
        assert a == b
        # counts conserved: every value lands in exactly one bucket
        n = {r["event_type"]: r["n"] for r in snap_read(spark, one).collect()}
        assert {k: sum(v) for k, v in a.items()} == n

    def test_quantile_error_bounded_by_bucket_width(
        self, spark, events, tmp_path
    ):
        """With bounds covering the data, every bucket is interior and
        the interpolation error is <= one bucket width."""
        import math

        from qurio_spark.plans.aggview import quantile_estimates

        vmin, vmax = events.agg(F.min("value"), F.max("value")).first()
        lo, hi = math.floor(vmin), math.ceil(vmax)
        nb = 25
        width = (hi - lo) / nb
        path = str(tmp_path / "v")
        refresh_agg_view(
            spark, path, events, ["event_type"], "value",
            hist_bounds=(float(lo), float(hi), nb),
        )
        got = {
            r["event_type"]: (r["p50"], r["p95"])
            for r in quantile_estimates(spark, path, [0.5, 0.95]).collect()
        }
        vals = {}
        for r in events.select("event_type", "value").collect():
            vals.setdefault(r["event_type"], []).append(r["value"])
        for et, vs in vals.items():
            vs.sort()
            for p, est in zip((0.5, 0.95), got[et]):
                exact = vs[min(len(vs) - 1, int(p * len(vs)))]
                assert abs(est - exact) <= width + 1e-9, (et, p, est, exact)

    def test_tail_beyond_bounds_interpolates_to_mx(self, spark, tmp_path):
        """Values past hi clamp into the last bucket; its estimate
        interpolates toward the EXACT max state, not the nominal hi —
        a p99 over a heavy tail must not flatline at the bound."""
        from qurio_spark.plans.aggview import quantile_estimates

        rows = [("k", float(v)) for v in range(1, 100)] + [("k", 1000.0)]
        df = spark.createDataFrame(rows, "k string, value double")
        path = str(tmp_path / "tail")
        refresh_agg_view(
            spark, path, df, ["k"], "value", hist_bounds=(0.0, 100.0, 10)
        )
        r = quantile_estimates(spark, path, [0.995]).first()
        # rank 100 of 100 -> the clamped outlier's bucket: the
        # estimate must reach past hi toward mx=1000
        est = r["p100"]
        assert 100.0 < est <= 1000.0

    def test_bounds_mismatch_refused(self, spark, events, tmp_path):
        path = str(tmp_path / "v")
        self._view(spark, events, path, [events.limit(10)])
        with pytest.raises(ValueError, match="recorded bounds"):
            refresh_agg_view(
                spark, path, events.limit(10), ["event_type"], "value",
                hist_bounds=(0.0, 50.0, 25),
            )

    def test_histogram_cascades_to_rollup(self, spark, events, tmp_path):
        from qurio_spark.plans.snapshots import snap_read

        devents = events.withColumn(
            "day_key", F.substring("hour_key", 1, 10)
        )
        hour, day, direct = (str(tmp_path / n) for n in ("h", "d", "x"))
        refresh_agg_view(
            spark, hour, devents, ["day_key", "event_type"], "value",
            partition_col="day_key", hist_bounds=self.BOUNDS,
        )
        refresh_rollup(spark, hour, day, ["day_key"], "day_key")
        refresh_agg_view(
            spark, direct, devents, ["day_key"], "value",
            partition_col="day_key", hist_bounds=self.BOUNDS,
        )
        a = {r["day_key"]: r["hb"] for r in snap_read(spark, day).collect()}
        b = {r["day_key"]: r["hb"] for r in snap_read(spark, direct).collect()}
        assert a == b

    def test_all_null_value_group_is_zero_histogram(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_read

        path = str(tmp_path / "v")
        df = spark.createDataFrame(
            [("a", None), ("a", None), ("b", 5.0)], "k string, value double"
        )
        refresh_agg_view(
            spark, path, df, ["k"], "value", hist_bounds=(0.0, 10.0, 4)
        )
        hb = {r["k"]: r["hb"] for r in snap_read(spark, path).collect()}
        assert hb["a"] == [0, 0, 0, 0]
        assert hb["b"] == [0, 0, 1, 0]


@pytest.mark.parametrize(
    "state_keys,build,refresh",
    [
        # states built without the histogram, refreshed as if with one
        (["k"], {}, {"hist_bounds": (0.0, 10.0, 4)}),
        # states carrying a sketch the refresh does not define
        (["k"], {"distinct_col": "u"}, {}),
        # states grouped by other keys than the refresh names
        (["u"], {}, {}),
    ],
)
def test_prebuilt_states_columns_validated(
    spark, tmp_path, state_keys, build, refresh
):
    """refresh_agg_view(states=) checks the frame's columns against
    group_cols + STATE_COLS (+ hs / hb per the flags) and refuses a
    mismatch before anything reaches the view's directory."""
    path = str(tmp_path / "v")
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("b", "y", 5.0)], "k string, u string, value double"
    )
    states = partial_states(df, state_keys, "value", **build)
    with pytest.raises(ValueError, match="states columns"):
        refresh_agg_view(spark, path, None, ["k"], "value", states=states, **refresh)
    assert not os.path.exists(path)


class TestExactlyOnceRefresh:
    """refresh_agg_view(txn=): a replayed micro-batch (foreachBatch is
    at-least-once) must NOT merge into the states a second time."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "hour_key string, event_type string, value double"
        )

    def test_replay_is_noop(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_versions

        path = str(tmp_path / "v")
        keys = ["hour_key", "event_type"]
        b0 = self._mk(spark, [("h1", "x", 1.0), ("h2", "x", 2.0)])
        b1 = self._mk(spark, [("h1", "x", 3.0)])
        refresh_agg_view(spark, path, b0, keys, "value",
                         partition_col="hour_key", txn=("app", 0))
        refresh_agg_view(spark, path, b1, keys, "value",
                         partition_col="hour_key", txn=("app", 1))
        n_versions = len(snap_versions(path))
        # the replay: same app, same batch id — no merge, no version
        refresh_agg_view(spark, path, b1, keys, "value",
                         partition_col="hour_key", txn=("app", 1))
        assert len(snap_versions(path)) == n_versions
        got = {
            (r["hour_key"]): (r["n"], r["total_value"])
            for r in read_agg_view(spark, path).collect()
        }
        assert got == {"h1": (2, 4.0), "h2": (1, 2.0)}

    def test_unpartitioned_replay_is_noop(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_versions

        path = str(tmp_path / "flat")
        b = self._mk(spark, [("h1", "x", 1.0)])
        refresh_agg_view(spark, path, b, ["event_type"], "value",
                         txn=("app", 0))
        refresh_agg_view(spark, path, b, ["event_type"], "value",
                         txn=("app", 0))
        assert len(snap_versions(path)) == 1
        (r,) = read_agg_view(spark, path).collect()
        assert (r["n"], r["total_value"]) == (1, 1.0)

    def test_distinct_apps_do_not_collide(self, spark, tmp_path):
        path = str(tmp_path / "v")
        keys = ["event_type"]
        b = self._mk(spark, [("h1", "x", 1.0)])
        refresh_agg_view(spark, path, b, keys, "value",
                         partition_col="event_type", txn=("app-a", 5))
        # a DIFFERENT app at a lower batch id must still apply
        refresh_agg_view(spark, path, b, keys, "value",
                         partition_col="event_type", txn=("app-b", 0))
        (r,) = read_agg_view(spark, path).collect()
        assert r["n"] == 2


class TestStreamingCascade:
    """The full streaming hierarchy e2e: foreachBatch maintains the
    HOURLY view exactly-once (txn markers) and polls the DAILY rollup
    off its CDC feed per micro-batch; a replayed batch changes
    nothing; the final daily view equals the direct aggregation."""

    def test_foreachbatch_cascade_with_replay(self, spark, events, tmp_path):
        from qurio_spark.plans.snapshots import snap_versions

        devents = events.withColumn(
            "day_key", F.substring("hour_key", 1, 10)
        ).select("event_id", "hour_key", "day_key", "event_type", "value")
        src = str(tmp_path / "src")
        # two source files -> two availableNow micro-batches
        devents.filter(F.col("event_id") % 2 == 0).coalesce(1) \
            .write.parquet(src)
        devents.filter(F.col("event_id") % 2 == 1).coalesce(1) \
            .write.mode("append").parquet(src)
        hour, day = str(tmp_path / "hour"), str(tmp_path / "day")
        keys = ["day_key", "hour_key", "event_type"]
        cursor = [None]
        seen = []

        def process(batch_df, batch_id):
            refresh_agg_view(
                spark, hour, batch_df, keys, "value",
                partition_col="day_key", txn=("cascade", batch_id),
            )
            cursor[0] = refresh_rollup(
                spark, hour, day, ["day_key", "event_type"], "day_key",
                cursor=cursor[0],
            )
            seen.append(batch_id)

        q = (
            spark.readStream.schema(devents.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(seen) >= 2
        hv, dv = len(snap_versions(hour)), len(snap_versions(day))
        want = _final_rows(read_agg_view(spark, day))

        # at-least-once REPLAY of the last batch: the hourly txn
        # marker skips the merge, the caught-up cursor polls empty —
        # no new version anywhere, values unchanged
        process(devents.filter(F.col("event_id") % 2 == 1), seen[-1])
        assert len(snap_versions(hour)) == hv
        assert len(snap_versions(day)) == dv
        assert _final_rows(read_agg_view(spark, day)) == want

        # the cascade equals the direct daily aggregation
        direct = str(tmp_path / "direct")
        refresh_agg_view(
            spark, direct, devents, ["day_key", "event_type"], "value",
            partition_col="day_key",
        )
        got = {
            (r["day_key"], r["event_type"]): (r["n"], r["min_value"],
                                              r["max_value"])
            for r in read_agg_view(spark, day).collect()
        }
        ref = {
            (r["day_key"], r["event_type"]): (r["n"], r["min_value"],
                                              r["max_value"])
            for r in read_agg_view(spark, direct).collect()
        }
        assert got == ref


class TestReviewRegressions:
    def test_rebootstrap_replaces_not_appends(self, spark, events, tmp_path):
        """The CDF contract tells a lapsed consumer to re-bootstrap
        with cursor=None: onto an EXISTING rollup that must REPLACE
        the old states — appending a second copy doubles every
        count."""
        devents = events.withColumn(
            "day_key", F.substring("hour_key", 1, 10)
        )
        hour, day = str(tmp_path / "h"), str(tmp_path / "d")
        refresh_agg_view(
            spark, hour, devents, ["day_key", "event_type"], "value",
            partition_col="day_key",
        )
        refresh_rollup(spark, hour, day, ["day_key"], "day_key")
        want = _final_rows(read_agg_view(spark, day))
        # the lapsed-cursor path: bootstrap again onto the existing dst
        refresh_rollup(spark, hour, day, ["day_key"], "day_key")
        assert _final_rows(read_agg_view(spark, day)) == want

    def test_adding_optional_state_to_existing_view_refused(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "v")
        df = spark.createDataFrame(
            [("a", 1.0, 5)], "k string, value double, user_id long"
        )
        refresh_agg_view(spark, path, df, ["k"], "value")
        with pytest.raises(ValueError, match="full rebuild"):
            refresh_agg_view(
                spark, path, df, ["k"], "value",
                hist_bounds=(0.0, 10.0, 4),
            )
        with pytest.raises(ValueError, match="full rebuild"):
            refresh_agg_view(
                spark, path, df, ["k"], "value", distinct_col="user_id"
            )


class TestSecondReviewRegressions:
    def test_read_agg_view_hides_histogram_state(self, spark, tmp_path):
        path = str(tmp_path / "v")
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0)], "k string, value double"
        )
        refresh_agg_view(
            spark, path, df, ["k"], "value", hist_bounds=(0.0, 10.0, 4)
        )
        cols = read_agg_view(spark, path).columns
        assert "hb" not in cols and "hs" not in cols

    def test_rollup_carries_quantile_bounds(self, spark, events, tmp_path):
        from qurio_spark.plans.aggview import quantile_estimates

        devents = events.withColumn(
            "day_key", F.substring("hour_key", 1, 10)
        )
        hour, day = str(tmp_path / "h"), str(tmp_path / "d")
        refresh_agg_view(
            spark, hour, devents, ["day_key", "event_type"], "value",
            partition_col="day_key", hist_bounds=(0.0, 150.0, 30),
        )
        refresh_rollup(spark, hour, day, ["day_key"], "day_key")
        # the coarse view's histogram is readable: bounds were copied
        rows = quantile_estimates(spark, day, [0.5]).collect()
        assert rows and all(r["p50"] is not None for r in rows)

    def test_concurrent_refreshers_lose_no_updates(self, spark, tmp_path):
        """Two refreshers racing the same view (no txn, different
        deltas): the OCC transform-rerun must converge to the union —
        a blind commit retry would silently drop one side's delta."""
        import threading

        path = str(tmp_path / "v")

        def mk(rows):
            return spark.createDataFrame(
                rows, "p string, k string, value double"
            )

        # sequential reference
        ref = str(tmp_path / "ref")
        a = [("x", "a", 1.0), ("y", "b", 2.0)]
        b = [("x", "a", 3.0), ("z", "c", 4.0)]
        for batch in (a, b):
            refresh_agg_view(spark, ref, mk(batch), ["p", "k"], "value",
                             partition_col="p")
        want = _final_rows(read_agg_view(spark, ref))

        errs = []

        def run(batch):
            try:
                refresh_agg_view(spark, path, mk(batch), ["p", "k"],
                                 "value", partition_col="p")
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [threading.Thread(target=run, args=(x,)) for x in (a, b)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs
        assert _final_rows(read_agg_view(spark, path)) == want


def test_view_time_travel(spark, tmp_path):
    """The view is a snapshot table: read_agg_view(version=) shows the
    dashboard as of any retained refresh."""
    path = str(tmp_path / "v")

    def mk(rows):
        return spark.createDataFrame(
            rows, "p string, k string, value double"
        )

    refresh_agg_view(spark, path, mk([("x", "a", 1.0)]), ["p", "k"],
                     "value", partition_col="p")
    refresh_agg_view(spark, path, mk([("x", "a", 2.0)]), ["p", "k"],
                     "value", partition_col="p")
    now = {r["k"]: r["n"] for r in read_agg_view(spark, path).collect()}
    then = {
        r["k"]: r["n"]
        for r in read_agg_view(spark, path, version=0).collect()
    }
    assert now == {"a": 2} and then == {"a": 1}
