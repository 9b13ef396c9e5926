"""plans/snapshots.py: manifest-pinned reads (time travel + isolation
from later commits), append/overwrite lineage, vacuum reachability,
and data-file immutability."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans import snapshots as S
from qurio_spark.plans.snapshots import (
    snap_append,
    snap_overwrite,
    snap_read,
    snap_vacuum,
    snap_versions,
)


def _rows(df):
    return sorted(r["v"] for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "snap")
    v0 = snap_append(spark.range(0, 5).select(F.col("id").alias("v")), path)
    v1 = snap_append(spark.range(5, 8).select(F.col("id").alias("v")), path)
    v2 = snap_overwrite(spark.range(100, 103).select(F.col("id").alias("v")), path)
    assert (v0, v1, v2) == (0, 1, 2)
    return path


def test_time_travel_reads_every_version(spark, table):
    assert _rows(snap_read(spark, table, 0)) == list(range(5))
    assert _rows(snap_read(spark, table, 1)) == list(range(8))
    assert _rows(snap_read(spark, table, 2)) == [100, 101, 102]
    assert _rows(snap_read(spark, table)) == [100, 101, 102]  # latest
    assert [m["op"] for m in snap_versions(table)] == [
        "append", "append", "overwrite",
    ]


def test_open_reader_isolated_from_later_commits(spark, table):
    """A frame pinned to a version must not see a commit that lands
    after it was opened — the manifest IS the table."""
    pinned = snap_read(spark, table, 1)
    snap_append(spark.range(1000, 1002).select(F.col("id").alias("v")), table)
    assert _rows(pinned) == list(range(8))
    assert _rows(snap_read(spark, table)) == [100, 101, 102, 1000, 1001]


def test_data_files_immutable_across_commits(spark, table):
    data = os.path.join(table, "data")
    before = {f: os.path.getmtime(os.path.join(data, f)) for f in os.listdir(data)}
    snap_append(spark.range(7).select(F.col("id").alias("v")), table)
    after = {f: os.path.getmtime(os.path.join(data, f)) for f in before}
    assert after == before


def test_vacuum_deletes_only_unreachable(spark, table):
    deleted = snap_vacuum(table, keep_last=2)
    # retained v1 still references v0's c0-* files (append lineage),
    # so NOTHING is deletable even though v0's manifest is dropped —
    # reachability, not age, decides
    assert deleted == []
    assert _rows(snap_read(spark, table, 1)) == list(range(8))
    assert _rows(snap_read(spark, table, 2)) == [100, 101, 102]
    with pytest.raises(FileNotFoundError):
        snap_read(spark, table, 0)  # manifest gone, data kept for v1


def test_vacuum_keep_last_1_leaves_only_latest(spark, table):
    # grace_seconds=0: the test holds exclusive access, so the
    # in-flight-commit grace window does not apply
    snap_vacuum(table, keep_last=1, grace_seconds=0)
    assert [m["version"] for m in snap_versions(table)] == [2]
    assert _rows(snap_read(spark, table)) == [100, 101, 102]
    data = os.path.join(table, "data")
    # every surviving file is referenced by v2
    assert all(f.startswith("c2-") for f in os.listdir(data))


def test_missing_table_and_bad_args(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snap_read(spark, str(tmp_path / "nope"))
    path = str(tmp_path / "t")
    snap_append(spark.range(1).select(F.col("id").alias("v")), path)
    with pytest.raises(ValueError, match="keep_last"):
        snap_vacuum(path, keep_last=0)


class TestDataSkipping:
    """snap_scan: manifest-level min/max pruning — files outside the
    predicate range are never handed to Spark, results stay exact."""

    @pytest.fixture()
    def ranged(self, spark, tmp_path):
        path = str(tmp_path / "ranged")
        # three commits with disjoint value ranges -> 3+ files with
        # non-overlapping stats
        for lo in (0, 1000, 2000):
            snap_append(
                spark.range(lo, lo + 100).select(F.col("id").alias("v"))
                .coalesce(1),
                path,
            )
        return path

    def test_prunes_files_and_stays_exact(self, spark, ranged):
        from qurio_spark.plans.snapshots import snap_scan

        out = snap_scan(spark, ranged, "v", lo=1000, hi=1099)
        assert sorted(r["v"] for r in out.collect()) == list(range(1000, 1100))
        assert len(out.inputFiles()) == 1  # two of three files skipped

        partial = snap_scan(spark, ranged, "v", lo=1050, hi=2050)
        assert sorted(r["v"] for r in partial.collect()) == list(
            range(1050, 1100)
        ) + list(range(2000, 2051))
        assert len(partial.inputFiles()) == 2

    def test_provably_empty_range_reads_nothing(self, spark, ranged):
        from qurio_spark.plans.snapshots import snap_scan

        out = snap_scan(spark, ranged, "v", lo=5000, hi=6000)
        assert out.count() == 0

    def test_missing_stats_keep_files(self, spark, ranged):
        import json

        from qurio_spark.plans.snapshots import snap_scan

        out = snap_scan(spark, ranged, "v", lo=0, hi=3000)
        assert len(out.inputFiles()) == 3
        # strip the stats from every per-commit manifest: absent stats
        # must mean "not skippable", never "skip" — results identical,
        # no pruning
        mdir = os.path.join(ranged, "_manifests")
        for f in os.listdir(mdir):
            if f.startswith("m-") and f.endswith(".json"):
                mpath = os.path.join(mdir, f)
                m = json.load(open(mpath))
                for e in m["files"]:
                    e["stats"] = {}
                json.dump(m, open(mpath, "w"))
        out2 = snap_scan(spark, ranged, "v", lo=1000, hi=1099)
        assert len(out2.inputFiles()) == 3  # nothing pruned...
        assert sorted(r["v"] for r in out2.collect()) == list(
            range(1000, 1100)
        )  # ...results exact anyway (residual filter)

    def test_time_travel_scan(self, spark, ranged):
        from qurio_spark.plans.snapshots import snap_scan

        v0 = snap_scan(spark, ranged, "v", lo=0, hi=5000, version=0)
        assert v0.count() == 100


class TestTwoLevelManifests:
    def test_commit_cost_proportional_to_delta(self, spark, tmp_path):
        """Append cost must be O(delta), not O(total table files):
        prior per-commit manifests are carried BY NAME — their bytes
        never rewritten (mtime+size pinned) — and the version file
        holds only manifest names (its size grows with commit count,
        never with per-file stats entries)."""
        import json as _json

        path = str(tmp_path / "twolevel")
        for lo in (0, 100, 200):
            snap_append(
                spark.range(lo, lo + 100).select(F.col("id").alias("v"))
                .coalesce(1),
                path,
            )
        mdir = os.path.join(path, "_manifests")
        old = {
            f: (os.path.getmtime(os.path.join(mdir, f)),
                os.path.getsize(os.path.join(mdir, f)))
            for f in os.listdir(mdir)
            if f.startswith("m-")
        }
        assert len(old) == 3  # one immutable manifest per commit
        snap_append(
            spark.range(300, 400).select(F.col("id").alias("v")).coalesce(1),
            path,
        )
        now = {
            f: (os.path.getmtime(os.path.join(mdir, f)),
                os.path.getsize(os.path.join(mdir, f)))
            for f in old
        }
        assert now == old  # carried manifests byte-untouched
        m3 = _json.load(open(os.path.join(mdir, "v3.json")))
        assert "files" not in m3 and len(m3["manifests"]) == 4
        # the version file carries names only — no stats blobs
        assert os.path.getsize(os.path.join(mdir, "v3.json")) < 1024
        assert sorted(
            r["v"] for r in snap_read(spark, path).collect()
        ) == list(range(400))

    def test_interleaved_writers_never_clobber(self, spark, tmp_path):
        """Two writers appending concurrently must serialize into a
        linear version chain with NO lost batches — the optimistic
        exclusive-claim commit turns a race into a retry, where the
        old rename-clobber protocol silently dropped one writer's
        rows."""
        import threading

        path = str(tmp_path / "occ")
        # pre-create local frames so threads only contend on commit
        frames = {
            w: [
                spark.createDataFrame(
                    [(w * 1000 + b * 10 + i,) for i in range(10)], "v long"
                ).coalesce(1)
                for b in range(5)
            ]
            for w in range(2)
        }
        errors = []

        def writer(w):
            try:
                for df in frames[w]:
                    snap_append(df, path)
            except Exception as e:  # pragma: no cover
                errors.append(e)

        ts = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors
        vs = snap_versions(path)
        assert [m["version"] for m in vs] == list(range(10))
        assert [m["parent"] for m in vs] == [None] + list(range(9))
        got = sorted(r["v"] for r in snap_read(spark, path).collect())
        want = sorted(
            w * 1000 + b * 10 + i
            for w in range(2) for b in range(5) for i in range(10)
        )
        assert got == want  # every batch from both writers present

    def test_concurrent_txn_same_batch_commits_once(self, spark, tmp_path):
        """Two sinks replaying the SAME (app, batch) concurrently must
        land exactly one commit — the replay check re-runs inside the
        claim-retry loop."""
        import threading

        from qurio_spark.plans.snapshots import snap_append_txn

        path = str(tmp_path / "occtxn")
        df = spark.range(7).select(F.col("id").alias("v")).coalesce(1)
        results = [None, None]

        def sink(slot):
            results[slot] = snap_append_txn(df, path, "app", 0)

        ts = [threading.Thread(target=sink, args=(i,)) for i in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert results.count(None) == 1 and results.count(0) == 1
        assert snap_read(spark, path).count() == 7  # not 14


class TestSchemaEvolution:
    def test_appended_column_backfills_null(self, spark, tmp_path):
        """The manifest owns the schema (the Delta shape): an append
        with a NEW column widens the table schema, files written
        before the column read it back as NULL under the pinned
        schema, and time travel still shows each version's own
        schema."""
        path = str(tmp_path / "evolve")
        snap_append(
            spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string"),
            path,
        )
        snap_append(
            spark.createDataFrame(
                [(3, "c", 0.5)], "id int, name string, score double"
            ),
            path,
        )
        cur = snap_read(spark, path)
        assert cur.columns == ["id", "name", "score"]
        rows = {r["id"]: r["score"] for r in cur.collect()}
        assert rows == {1: None, 2: None, 3: 0.5}
        # version 0 keeps its original two-column schema
        assert snap_read(spark, path, 0).columns == ["id", "name"]

    def test_type_change_rejected(self, spark, tmp_path):
        path = str(tmp_path / "evolvebad")
        snap_append(spark.createDataFrame([(1,)], "v long"), path)
        with pytest.raises(ValueError, match="cannot change column"):
            snap_append(spark.createDataFrame([("x",)], "v string"), path)
        assert len(snap_versions(path)) == 1  # nothing committed

    def test_type_widening_int_to_long(self, spark, tmp_path):
        """Delta-style type widening: appending long rows to an int
        column widens the pinned schema to long; files written before
        the change up-convert at scan, time travel still shows each
        version's own type, and a later NARROW (int) append keeps the
        widened type without touching the schema."""
        path = str(tmp_path / "widen")
        snap_append(spark.createDataFrame([(1,)], "v int"), path)
        snap_append(
            spark.createDataFrame([(1 << 40,)], "v long"), path
        )
        cur = snap_read(spark, path)
        assert dict(cur.dtypes)["v"] == "bigint"
        assert sorted(r["v"] for r in cur.collect()) == [1, 1 << 40]
        # time travel: v0 keeps its original narrow type
        v0 = snap_read(spark, path, 0)
        assert dict(v0.dtypes)["v"] == "int"
        assert [r["v"] for r in v0.collect()] == [1]
        # narrow append after the widening: pinned wider type wins
        snap_append(spark.createDataFrame([(7,)], "v int"), path)
        cur = snap_read(spark, path)
        assert dict(cur.dtypes)["v"] == "bigint"
        assert sorted(r["v"] for r in cur.collect()) == [1, 7, 1 << 40]

    def test_type_widening_float_and_int_to_double(self, spark, tmp_path):
        path = str(tmp_path / "widenf")
        snap_append(
            spark.createDataFrame([(1, 1.5)], "a int, b float"), path
        )
        snap_append(
            spark.createDataFrame([(2.5, 9.0)], "a double, b double"), path
        )
        cur = snap_read(spark, path)
        assert dict(cur.dtypes) == {"a": "double", "b": "double"}
        got = sorted((r["a"], r["b"]) for r in cur.collect())
        assert got == [(1.0, 1.5), (2.5, 9.0)]

    def test_lossy_and_incompatible_changes_still_rejected(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "widenbad")
        snap_append(spark.createDataFrame([(1,)], "v long"), path)
        # long->double loses precision above 2^53: refused
        with pytest.raises(ValueError, match="cannot change column"):
            snap_append(spark.createDataFrame([(0.5,)], "v double"), path)
        with pytest.raises(ValueError, match="cannot change column"):
            snap_append(spark.createDataFrame([("x",)], "v string"), path)
        assert len(snap_versions(path)) == 1

    def test_widening_survives_cdf_and_compaction(self, spark, tmp_path):
        """The change feed pins the NEWER manifest's (wider) schema on
        both sides of the diff, and compaction rewrites mixed
        narrow/wide files into the widened type."""
        from qurio_spark.plans.snapshots import (
            snap_changes_since,
            snap_compact,
        )

        path = str(tmp_path / "widencdf")
        snap_append(
            spark.createDataFrame([(i,) for i in range(5)], "v int")
            .coalesce(1),
            path,
        )
        snap_append(
            spark.createDataFrame([(1 << 40,)], "v long").coalesce(1), path
        )
        changes, cursor = snap_changes_since(spark, path, 0)
        assert dict(changes.dtypes)["v"] == "bigint"
        assert [r["v"] for r in changes.collect()] == [1 << 40]
        assert snap_compact(spark, path, small_bytes=1 << 20) == 2
        cur = snap_read(spark, path)
        assert dict(cur.dtypes)["v"] == "bigint"
        assert cur.count() == 6

    def test_overwrite_resets_schema(self, spark, tmp_path):
        path = str(tmp_path / "evolveow")
        snap_append(
            spark.createDataFrame([(1, "a")], "id int, name string"), path
        )
        snap_overwrite(spark.createDataFrame([(9,)], "id int"), path)
        assert snap_read(spark, path).columns == ["id"]

    def test_evolution_survives_compaction_and_scan(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_compact, snap_scan

        path = str(tmp_path / "evolvecompact")
        snap_append(
            spark.createDataFrame([(i,) for i in range(5)], "id int")
            .coalesce(1),
            path,
        )
        snap_append(
            spark.createDataFrame(
                [(i, i * 1.0) for i in range(5, 10)], "id int, w double"
            ).coalesce(1),
            path,
        )
        assert snap_compact(spark, path, small_bytes=1 << 20) == 2
        out = snap_read(spark, path)
        assert out.columns == ["id", "w"] and out.count() == 10
        scanned = snap_scan(spark, path, "id", lo=0, hi=4)
        assert scanned.columns == ["id", "w"]
        assert all(r["w"] is None for r in scanned.collect())


class TestCompact:
    def test_bin_packs_small_files(self, spark, tmp_path):
        """Six micro-batch-sized commits -> one compact version: rows
        identical, data files fewer, the manifest LIST collapses to
        one, pre-compact versions stay readable, vacuum reclaims the
        packed-away files."""
        import json as _json

        from qurio_spark.plans.snapshots import _read_manifest, snap_compact

        path = str(tmp_path / "compact")
        for i in range(6):
            snap_append(
                spark.range(i * 10, i * 10 + 10)
                .select(F.col("id").alias("v")).coalesce(1),
                path,
            )
        data = os.path.join(path, "data")
        n_before = len(os.listdir(data))
        v = snap_compact(spark, path)
        assert v == 6
        assert sorted(r["v"] for r in snap_read(spark, path).collect()) == list(
            range(60)
        )
        m = _read_manifest(path, 6)
        assert len(m["manifests"]) == 1  # manifest list compacted too
        with open(os.path.join(path, "_manifests", m["manifests"][0])) as f:
            assert len(_json.load(f)["files"]) < n_before
        # history intact until vacuum
        assert snap_read(spark, path, 3).count() == 40
        deleted = snap_vacuum(path, keep_last=1, grace_seconds=0)
        assert len(deleted) == n_before
        assert snap_read(spark, path).count() == 60

    def test_noop_below_two_small_files(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_compact

        path = str(tmp_path / "nc")
        snap_append(
            spark.range(5).select(F.col("id").alias("v")).coalesce(1), path
        )
        assert snap_compact(spark, path) is None
        assert [m["version"] for m in snap_versions(path)] == [0]

    def test_large_files_carried_untouched(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_compact

        path = str(tmp_path / "mix")
        snap_append(
            spark.range(1000).select(F.col("id").alias("v")).coalesce(1), path
        )
        data = os.path.join(path, "data")
        big = os.listdir(data)[0]
        big_size = os.path.getsize(os.path.join(data, big))
        for i in range(3):
            snap_append(
                spark.range(i * 3, i * 3 + 3).select(F.col("id").alias("v"))
                .coalesce(1),
                path,
            )
        mtime = os.path.getmtime(os.path.join(data, big))
        # threshold between the small files and the big one
        v = snap_compact(spark, path, small_bytes=big_size)
        assert v == 4
        assert os.path.getmtime(os.path.join(data, big)) == mtime
        assert snap_read(spark, path).count() == 1009

    def test_exactly_once_txn_survives_compaction(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import (
            snap_append_txn,
            snap_compact,
        )

        path = str(tmp_path / "txncompact")
        df = spark.range(4).select(F.col("id").alias("v")).coalesce(1)
        snap_append_txn(df, path, "app", 0)
        snap_append_txn(df, path, "app", 1)
        snap_compact(spark, path)
        # replay after compaction still detected
        assert snap_append_txn(df, path, "app", 1) is None
        assert snap_read(spark, path).count() == 8


class TestSnapDiff:
    def test_append_diff_is_pure_insert(self, spark, table):
        from qurio_spark.plans.snapshots import snap_diff

        d = snap_diff(spark, table, 0, 1)
        rows = sorted((r["v"], r["_change"]) for r in d.collect())
        assert rows == [(v, "insert") for v in range(5, 8)]

    def test_overwrite_diff_has_both_sides(self, spark, table):
        from qurio_spark.plans.snapshots import snap_diff

        d = snap_diff(spark, table, 1, 2)
        ins = sorted(r["v"] for r in d.collect() if r["_change"] == "insert")
        dels = sorted(r["v"] for r in d.collect() if r["_change"] == "delete")
        assert ins == [100, 101, 102]
        assert dels == list(range(8))

    def test_unchanged_rows_cancel(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_diff, snap_overwrite

        path = str(tmp_path / "cdc")
        snap_overwrite(spark.range(0, 10).select(F.col("id").alias("v")), path)
        # rewrite the same rows + one new: only the new row is a change
        snap_overwrite(spark.range(0, 11).select(F.col("id").alias("v")), path)
        d = snap_diff(spark, path, 0, 1)
        assert sorted((r["v"], r["_change"]) for r in d.collect()) == [
            (10, "insert")
        ]

    def test_both_versions_empty_gives_empty_feed(self, spark, tmp_path):
        """Two versions with no file entries (an emptied table) diff to
        an empty change feed under their schema."""
        from qurio_spark.plans.snapshots import _try_commit, snap_changes_since, snap_diff

        path = str(tmp_path / "emptydiff")
        schema = {"type": "struct", "fields": [
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        ]}
        assert _try_commit(path, 0, {"version": 0, "op": "append",
                                     "parent": None, "manifests": [],
                                     "schema": schema})
        assert _try_commit(path, 1, {"version": 1, "op": "append",
                                     "parent": 0, "manifests": [],
                                     "schema": schema})
        for feed in (snap_diff(spark, path, 0, 1), snap_changes_since(spark, path, 0)[0]):
            assert feed.columns == ["v", "_change"]
            assert feed.collect() == []


class TestExactlyOnceSink:
    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_append_txn

        path = str(tmp_path / "txn")
        df = spark.range(5).select(F.col("id").alias("v"))
        assert snap_append_txn(df, path, "app", 0) == 0
        assert snap_append_txn(df, path, "app", 0) is None  # replay
        assert _rows(snap_read(spark, path)) == list(range(5))
        assert snap_append_txn(df, path, "app", 1) == 1  # next batch ok
        assert snap_read(spark, path).count() == 10
        # a DIFFERENT app's batch 0 is not a replay
        from qurio_spark.plans.snapshots import _read_manifest

        assert snap_append_txn(df, path, "other", 0) == 2
        assert _read_manifest(path, 2)["txn"] == {"app": 1, "other": 0}

    def test_auto_compaction_bounds_metadata(self, spark, tmp_path):
        """25 micro-batches, each a txn commit then maybe_compact: the
        manifest-list length and small-file count stay
        BOUNDED (never past max_manifests + the compaction commit),
        rows are exact, and txn replay markers survive compaction."""
        from qurio_spark.plans.snapshots import (
            _latest_version,
            _manifest_entries,
            _read_manifest,
            maybe_compact,
            snap_append_txn,
        )

        path = str(tmp_path / "autocompact")
        max_m = 6
        seen_manifest_lens = []
        for b in range(25):
            df = spark.range(10 * b, 10 * (b + 1)).select(
                F.col("id").alias("v")
            ).coalesce(1)
            # a streaming sink's per-micro-batch commit
            snap_append_txn(df, path, "app", b)
            maybe_compact(spark, path, max_manifests=max_m)
            m = _read_manifest(path, _latest_version(path))
            seen_manifest_lens.append(len(m["manifests"]))
        # bounded: compaction collapses the list whenever it reaches
        # max_m — it can never exceed max_m (the gate fires the same
        # batch it is crossed)
        assert max(seen_manifest_lens) <= max_m
        assert min(seen_manifest_lens) == 1  # compaction actually ran
        m = _read_manifest(path, _latest_version(path))
        assert len(_manifest_entries(path, m)) <= max_m + 1
        assert _rows(snap_read(spark, path)) == list(range(250))
        # replay markers preserved across compactions: every committed
        # batch is still detected as a replay
        df0 = spark.range(5).select(F.col("id").alias("v"))
        for b in (0, 12, 24):
            assert snap_append_txn(df0, path, "app", b) is None
        assert _rows(snap_read(spark, path)) == list(range(250))


class TestDeleteWhere:
    @pytest.fixture()
    def ranged(self, spark, tmp_path):
        path = str(tmp_path / "del")
        for lo in (0, 1000, 2000):
            snap_append(
                spark.range(lo, lo + 100).select(F.col("id").alias("v"))
                .coalesce(1),
                path,
            )
        return path

    def test_copy_on_write_delete(self, spark, ranged):
        import os as _os

        from qurio_spark.plans.snapshots import snap_delete_where

        data = _os.path.join(ranged, "data")
        before = {
            f: _os.path.getmtime(_os.path.join(data, f))
            for f in _os.listdir(data)
        }
        v = snap_delete_where(spark, ranged, "v", lo=1010, hi=1019)
        assert v == 3
        got = sorted(r["v"] for r in snap_read(spark, ranged).collect())
        assert got == [x for x in range(0, 100)] + [
            x for x in range(1000, 1100) if not 1010 <= x <= 1019
        ] + list(range(2000, 2100))
        # time travel: the pre-delete version still has the rows
        assert snap_read(spark, ranged, 2).count() == 300
        # untouched files byte-identical (only the middle file rewrote)
        after = {f: _os.path.getmtime(_os.path.join(data, f)) for f in before}
        assert after == before  # originals never modified (CoW)

    def test_null_rows_survive_delete(self, spark, tmp_path):
        """SQL `DELETE WHERE v BETWEEN lo AND hi` never matches NULL;
        the CoW rewrite must keep NULL rows in every rewritten file —
        including files with NO footer stats for the column (all-NULL
        files are always classified affected)."""
        from qurio_spark.plans.snapshots import snap_delete_where

        path = str(tmp_path / "nulldel")
        mixed = spark.createDataFrame(
            [(1, 10), (2, None), (3, 15), (4, None), (5, 99)], "id int, v int"
        ).coalesce(1)
        all_null = spark.createDataFrame(
            [(6, None), (7, None)], "id int, v int"
        ).coalesce(1)
        snap_append(mixed, path)
        snap_append(all_null, path)
        v = snap_delete_where(spark, path, "v", lo=10, hi=20)
        assert v == 2
        got = sorted(
            (r["id"], r["v"]) for r in snap_read(spark, path).collect()
        )
        assert got == [(2, None), (4, None), (5, 99), (6, None), (7, None)]

    def test_provable_noop_never_commits(self, spark, ranged):
        from qurio_spark.plans.snapshots import snap_delete_where

        assert snap_delete_where(spark, ranged, "v", lo=5000, hi=6000) is None
        assert [m["version"] for m in snap_versions(ranged)] == [0, 1, 2]

    def test_vacuum_reclaims_replaced_files(self, spark, ranged):
        import os as _os

        from qurio_spark.plans.snapshots import snap_delete_where

        snap_delete_where(spark, ranged, "v", lo=1010, hi=1019)
        deleted = snap_vacuum(ranged, keep_last=1, grace_seconds=0)
        assert len(deleted) == 1 and deleted[0].startswith("data/c1-")
        assert snap_read(spark, ranged).count() == 290


class TestExpectations:
    def test_clean_batch_commits(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_append_validated

        path = str(tmp_path / "gated")
        v = snap_append_validated(
            spark.range(1, 6).select(F.col("id").alias("v")), path,
            {"v_positive": F.col("v") > 0, "v_small": F.col("v") < 100},
        )
        assert v == 0 and snap_read(spark, path).count() == 5

    def test_quarantine_mode_splits_batch(self, spark, tmp_path):
        """Dead-letter posture: violating rows land in the DLQ table
        tagged with every gate they failed; the clean remainder
        commits; per-gate counts are exact."""
        from qurio_spark.plans.snapshots import snap_append_quarantined

        path, dlq = str(tmp_path / "q"), str(tmp_path / "q_dlq")
        df = spark.createDataFrame(
            [(1, 10.0), (2, -3.0), (3, 500.0), (4, -1.0), (5, None)],
            "id int, v double",
        )
        gates = {
            "v_positive": F.col("v") > 0,      # NULL passes (CHECK rule)
            "v_small": F.col("v") < 100,
        }
        out = snap_append_quarantined(df, path, gates, dlq)
        assert out["n_clean"] == 2 and out["n_quarantined"] == 3
        assert out["gate_counts"] == {"v_positive": 2, "v_small": 1}
        assert out["version"] == 0 and out["dlq_version"] == 0
        clean = {r["id"] for r in snap_read(spark, path).collect()}
        assert clean == {1, 5}  # NULL gate result = pass
        bad = {
            r["id"]: sorted(r["_violated"])
            for r in snap_read(spark, dlq).collect()
        }
        assert bad == {2: ["v_positive"], 3: ["v_small"], 4: ["v_positive"]}

    def test_quarantine_all_clean_writes_no_dlq(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_append_quarantined

        path, dlq = str(tmp_path / "qc"), str(tmp_path / "qc_dlq")
        out = snap_append_quarantined(
            spark.range(1, 4).select(F.col("id").alias("v")), path,
            {"pos": F.col("v") > 0}, dlq,
        )
        assert out == {
            "version": 0, "dlq_version": None, "n_clean": 3,
            "n_quarantined": 0, "gate_counts": {},
        }
        assert not os.path.isdir(dlq)

    def test_quarantine_all_bad_commits_nothing(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_append_quarantined

        path, dlq = str(tmp_path / "qb"), str(tmp_path / "qb_dlq")
        out = snap_append_quarantined(
            spark.range(1, 4).select(F.col("id").alias("v")), path,
            {"neg": F.col("v") < 0}, dlq,
        )
        assert out["version"] is None and out["n_quarantined"] == 3
        assert not os.path.isdir(os.path.join(path, "_manifests"))
        assert snap_read(spark, dlq).count() == 3

    def test_dirty_batch_aborts_with_counts(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_append_validated

        path = str(tmp_path / "gated2")
        snap_append_validated(
            spark.range(1, 4).select(F.col("id").alias("v")), path,
            {"v_positive": F.col("v") > 0},
        )
        with pytest.raises(ValueError, match="v_positive.*3"):
            snap_append_validated(
                spark.range(-2, 3).select(F.col("id").alias("v")), path,
                {"v_positive": F.col("v") > 0},
            )
        # the table is untouched by the aborted commit
        assert snap_read(spark, path).count() == 3
        assert len(snap_versions(path)) == 1


class TestTimestampAsOf:
    def test_as_of_picks_version_by_commit_time(self, spark, tmp_path):
        import time

        from qurio_spark.plans.snapshots import snap_version_at

        path = str(tmp_path / "asof")
        snap_append(spark.range(3).select(F.col("id").alias("v")), path)
        time.sleep(0.05)
        t_between = time.time()
        time.sleep(0.05)
        snap_append(spark.range(3, 6).select(F.col("id").alias("v")), path)
        assert snap_version_at(path, t_between) == 0
        assert snap_version_at(path, time.time()) == 1
        got = sorted(
            r["v"] for r in snap_read(spark, path, as_of=t_between).collect()
        )
        assert got == [0, 1, 2]
        assert snap_read(spark, path, as_of=time.time()).count() == 6

    def test_as_of_before_history_raises(self, spark, tmp_path):
        path = str(tmp_path / "asof2")
        snap_append(spark.range(2).select(F.col("id").alias("v")), path)
        with pytest.raises(ValueError, match="at or before"):
            snap_read(spark, path, as_of=1.0)
        with pytest.raises(ValueError, match="not both"):
            snap_read(spark, path, version=0, as_of=1.0)


class TestVacuumConcurrency:
    """snap_vacuum vs an in-flight commit (the OCC contract): staged
    data/manifest files survive the grace window, and version files
    above the sampled latest — concurrent commits that landed after
    the sample — are never deleted."""

    def test_staged_commit_survives_vacuum(self, spark, table):
        from qurio_spark.plans.snapshots import (
            _carried_manifests,
            _latest_version,
            _read_manifest,
            _try_commit,
            _write_data_files,
            _write_manifest_file,
        )

        # first half of a commit: stage data files + per-commit
        # manifest (exactly what _snap_commit does before _try_commit)
        prev = _latest_version(table)
        df = spark.range(500, 503).select(F.col("id").alias("v"))
        new_files = _write_data_files(df, table, prev + 1)
        new_name = _write_manifest_file(table, new_files)
        # vacuum runs NOW with the default grace: the staged files are
        # unreferenced by any retained manifest but young -> untouched
        snap_vacuum(table, keep_last=1)
        m_prev = _read_manifest(table, prev)
        assert _try_commit(
            table, prev + 1,
            {"version": prev + 1, "op": "append", "parent": prev,
             "manifests": _carried_manifests(table, m_prev) + [new_name],
             "schema": m_prev.get("schema")},
        )
        # the commit reads back whole — nothing vacuum-corrupted
        assert _rows(snap_read(spark, table)) == [100, 101, 102, 500, 501, 502]

    def test_version_above_sampled_latest_survives(self, spark, table):
        from qurio_spark.plans.snapshots import _vacuum_at

        # a concurrent writer commits v3 AFTER vacuum sampled latest=2
        snap_append(spark.range(600, 603).select(F.col("id").alias("v")), table)
        # grace 0: only the above-latest guard protects v3 here
        _vacuum_at(table, latest=2, keep_last=1, grace_seconds=0)
        assert _rows(snap_read(spark, table, 3)) == [
            100, 101, 102, 600, 601, 602,
        ]
        # the stale-sampled retention target still applied to history
        with pytest.raises(FileNotFoundError):
            snap_read(spark, table, 0)


class TestNullKeyReplace:
    """snap_replace_values with None in the value list: NULL-keyed
    rows are replaced (not duplicated, not crashed on), NULL rows
    SURVIVE a non-NULL replace, and null-count stats keep pruning
    exact."""

    def _kv(self, spark, rows):
        return spark.createDataFrame(rows, "k string, v int")

    def _sorted(self, df):
        return sorted(
            ((r["k"], r["v"]) for r in df.collect()),
            key=lambda t: (t[0] is None, t[0] or "", t[1]),
        )

    def test_null_key_replaced_once(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_read, snap_replace_values

        path = str(tmp_path / "nullkey")
        snap_replace_values(
            spark, path, "k", [],
            self._kv(spark, [("a", 1), (None, 2), ("b", 3)]), cluster=True,
        )
        # mixed None/str values: used to raise in sorted(values); the
        # NULL-keyed old row used to survive -> duplicate state
        snap_replace_values(
            spark, path, "k", ["a", None],
            self._kv(spark, [("a", 10), (None, 20)]), cluster=True,
        )
        assert self._sorted(snap_read(spark, path)) == [
            ("a", 10), ("b", 3), (None, 20),
        ]

    def test_null_rows_survive_non_null_replace(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_read, snap_replace_values

        path = str(tmp_path / "keepnull")
        snap_replace_values(
            spark, path, "k", [],
            self._kv(spark, [("a", 1), (None, 2)]),
        )
        snap_replace_values(
            spark, path, "k", ["a"], self._kv(spark, [("a", 10)]),
        )
        assert self._sorted(snap_read(spark, path)) == [("a", 10), (None, 2)]

    def test_null_replace_prunes_non_null_files(self, spark, tmp_path):
        """Replacing [None] on a value-clustered table must carry the
        non-NULL keys' files byte-untouched — the per-file null counts
        prove them NULL-free."""
        import os as _os

        from qurio_spark.plans.snapshots import snap_read, snap_replace_values

        path = str(tmp_path / "nullprune")
        snap_replace_values(
            spark, path, "k", [],
            self._kv(spark, [("a", 1), ("b", 2), (None, 3)]), cluster=True,
        )
        data = _os.path.join(path, "data")
        before = {
            f: _os.path.getmtime(_os.path.join(data, f))
            for f in _os.listdir(data)
        }
        snap_replace_values(
            spark, path, "k", [None], self._kv(spark, [(None, 30)]),
            cluster=True,
        )
        after = {f: _os.path.getmtime(_os.path.join(data, f)) for f in before}
        assert after == before  # old files never rewritten in place
        assert self._sorted(snap_read(spark, path)) == [
            ("a", 1), ("b", 2), (None, 30),
        ]


class TestSnapDiffSchemaPinning:
    def test_added_column_survives_diff(self, spark, tmp_path):
        """After schema evolution the change feed must carry the added
        column on BOTH sides (bare inferred reads could drop or narrow
        it depending on which file supplied the schema)."""
        from qurio_spark.plans.snapshots import snap_diff

        path = str(tmp_path / "evodiff")
        snap_append(spark.range(0, 3).select(F.col("id").alias("v")), path)
        snap_append(
            spark.range(3, 5).select(
                F.col("id").alias("v"), (F.col("id") * 10).alias("w")
            ),
            path,
        )
        d = snap_diff(spark, path, 0, 1)
        assert "w" in d.columns
        rows = sorted(
            (r["v"], r["w"], r["_change"]) for r in d.collect()
        )
        assert rows == [(3, 30, "insert"), (4, 40, "insert")]


class TestChangesSince:
    def test_cursor_consumption(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_changes_since

        path = str(tmp_path / "cdc")
        snap_append(spark.range(0, 3).select(F.col("id").alias("v")), path)
        snap_append(spark.range(3, 5).select(F.col("id").alias("v")), path)
        feed, cur = snap_changes_since(spark, path, 0)
        assert cur == 1
        assert sorted((r["v"], r["_change"]) for r in feed.collect()) == [
            (3, "insert"), (4, "insert"),
        ]
        # caught up: empty feed, same schema, cursor unchanged
        feed2, cur2 = snap_changes_since(spark, path, cur)
        assert cur2 == 1 and feed2.count() == 0
        assert feed2.columns == feed.columns
        # next commit advances the cursor again
        snap_overwrite(spark.range(9, 10).select(F.col("id").alias("v")), path)
        feed3, cur3 = snap_changes_since(spark, path, cur2)
        assert cur3 == 2
        changes = sorted((r["v"], r["_change"]) for r in feed3.collect())
        assert changes == [
            (0, "delete"), (1, "delete"), (2, "delete"),
            (3, "delete"), (4, "delete"), (9, "insert"),
        ]


class TestVacuumLaggingPointer:
    """ADVICE r10: vacuum with a _latest pointer lagging the true
    latest (writers crashed after claiming v{N}.json, before the
    pointer advance) must not delete the pointed-at version without
    first advancing the pointer — else _latest_version lands on a
    vacuumed version and the table is permanently wedged."""

    def test_vacuum_advances_stale_pointer_before_deleting(self, spark, tmp_path):
        from qurio_spark.plans.commitstore import store_for
        from qurio_spark.plans.snapshots import _latest_version

        path = str(tmp_path / "lag")
        for i in range(5):  # v0..v4
            snap_append(
                spark.range(i, i + 1).select(F.col("id").alias("v")), path
            )
        # regress the pointer by 4 (two+ consecutive crashed writers)
        store_for(path).put(path, "_latest", b"0")
        assert _latest_version(path) == 4  # roll-forward still finds v4
        snap_vacuum(path, keep_last=1, grace_seconds=0)
        # pointer must now be inside the retained window...
        assert store_for(path).read_pointer(path) == 4
        assert _latest_version(path) == 4
        # ...and the table fully usable: read AND commit still work
        assert _rows(snap_read(spark, path)) == [0, 1, 2, 3, 4]
        snap_append(spark.range(9, 10).select(F.col("id").alias("v")), path)
        assert _rows(snap_read(spark, path)) == [0, 1, 2, 3, 4, 9]

    def test_dry_run_with_stale_pointer_touches_nothing(self, spark, tmp_path):
        from qurio_spark.plans.commitstore import store_for

        path = str(tmp_path / "lagdry")
        for i in range(3):
            snap_append(
                spark.range(i, i + 1).select(F.col("id").alias("v")), path
            )
        store_for(path).put(path, "_latest", b"0")
        snap_vacuum(path, keep_last=1, grace_seconds=0, dry_run=True)
        # dry run must not move the pointer (it deletes nothing)
        assert store_for(path).read_pointer(path) == 0
        assert _rows(snap_read(spark, path, 0)) == [0]


class TestClusteredCompactionGuard:
    """ADVICE r10: compaction must not merge value-exact files of a
    value-clustered table — it would silently destroy the O(|delta|)
    refresh property agg views pin by mtime."""

    def _clustered(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_replace_values

        path = str(tmp_path / "clus")
        df = spark.createDataFrame(
            [(k, k * 10 + i) for k in range(4) for i in range(3)],
            "k int, v int",
        )
        snap_replace_values(spark, path, "k", [0, 1, 2, 3], df, cluster=True)
        return path

    def test_compact_noop_and_flag_survives_append(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import (
            _read_manifest,
            snap_compact,
            snap_maintain,
            snap_replace_values,
        )

        path = self._clustered(spark, tmp_path)
        assert _read_manifest(path, 0)["clustered"] == "k"
        # explicit compaction: no-op, no new version
        assert snap_compact(spark, path, small_bytes=64 << 20) is None
        # append (no cluster arg) must CARRY the marker
        snap_append(
            spark.createDataFrame([(9, 99)], "k int, v int"), path
        )
        assert _read_manifest(path, 1)["clustered"] == "k"
        # one-call maintenance on a clustered table never compacts
        rep = snap_maintain(spark, path, max_manifests=1)
        assert rep["compacted"] is None
        # untouched values' files keep their mtimes across a replace
        import os as _os

        data = _os.path.join(path, "data")
        before = {
            f: _os.path.getmtime(_os.path.join(data, f))
            for f in _os.listdir(data)
        }
        snap_replace_values(
            spark, path, "k", [2],
            spark.createDataFrame([(2, 777)], "k int, v int"),
            cluster=True,
        )
        after = {
            f: _os.path.getmtime(_os.path.join(data, f)) for f in before
        }
        assert sum(before[f] != after.get(f) for f in before) == 0

    def test_overwrite_resets_marker(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import _read_manifest, snap_compact

        path = self._clustered(spark, tmp_path)
        snap_overwrite(
            spark.createDataFrame(
                [(i % 3, i) for i in range(20)], "k int, v int"
            ).repartition(6),
            path,
        )
        assert "clustered" not in _read_manifest(path, 1)
        # unclustered again -> compaction applies once more
        assert snap_compact(spark, path, small_bytes=64 << 20) == 2


class TestDropColumn:
    """Metadata-only DROP COLUMN: no data movement, pinned-schema
    reads stop requesting the column, time travel keeps it at old
    versions, and the tombstone refuses resurrection by re-add."""

    def _table(self, spark, tmp_path, name="dropcol"):
        from qurio_spark.plans.snapshots import snap_append

        path = str(tmp_path / name)
        snap_append(
            spark.createDataFrame(
                [(1, "a", 1.5), (2, "b", 2.5)], "k int, s string, w double"
            ),
            path,
        )
        return path

    def test_drop_is_metadata_only_and_time_travels(self, spark, tmp_path):
        import glob
        import os as _os

        from qurio_spark.plans.snapshots import snap_drop_column, snap_read

        path = self._table(spark, tmp_path)
        files_before = {
            f: _os.path.getmtime(f)
            for f in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
        }
        assert snap_drop_column(path, "s") == 1
        files_after = {
            f: _os.path.getmtime(f)
            for f in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
        }
        assert files_after == files_before  # zero data bytes moved
        cur = snap_read(spark, path)
        assert cur.columns == ["k", "w"]
        assert sorted((r["k"], r["w"]) for r in cur.collect()) == [
            (1, 1.5), (2, 2.5),
        ]
        v0 = snap_read(spark, path, 0)
        assert v0.columns == ["k", "s", "w"]
        assert sorted(r["s"] for r in v0.collect()) == ["a", "b"]

    def test_append_after_drop_and_resurrection_refused(
        self, spark, tmp_path
    ):
        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_drop_column,
            snap_overwrite,
            snap_read,
        )

        path = self._table(spark, tmp_path)
        snap_drop_column(path, "s")
        snap_append(
            spark.createDataFrame([(3, 3.5)], "k int, w double"), path
        )
        assert snap_read(spark, path).count() == 3
        with pytest.raises(ValueError, match="cannot be re-added"):
            snap_append(
                spark.createDataFrame([(4, "zz", 4.5)], "k int, s string, w double"),
                path,
            )
        # overwrite resets the table wholesale — tombstones clear
        snap_overwrite(
            spark.createDataFrame([(9, "fresh")], "k int, s string"), path
        )
        assert snap_read(spark, path).columns == ["k", "s"]

    def test_drop_refusals(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import (
            snap_drop_column,
            snap_replace_values,
        )

        path = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="no such column"):
            snap_drop_column(path, "nope")
        # cluster-key guard
        cpath = str(tmp_path / "dropclustered")
        snap_replace_values(
            spark, cpath, "k", [],
            spark.createDataFrame([("a", 1)], "k string, v int"),
            cluster=True,
        )
        with pytest.raises(ValueError, match="value-cluster key"):
            snap_drop_column(cpath, "k")
        snap_drop_column(path, "s")
        snap_drop_column(path, "w")
        with pytest.raises(ValueError, match="last column"):
            snap_drop_column(path, "k")

    def test_dml_after_drop_sheds_the_column(self, spark, tmp_path):
        """A CoW rewrite after the drop writes survivor files from the
        pinned read — the dropped bytes do not come back."""
        from qurio_spark.plans.snapshots import (
            snap_drop_column,
            snap_merge,
            snap_read,
        )

        path = self._table(spark, tmp_path)
        snap_drop_column(path, "s")
        snap_merge(
            spark, path,
            spark.createDataFrame([(2, 20.0), (5, 5.5)], "k int, w double"),
            ["k"],
        )
        cur = snap_read(spark, path)
        assert cur.columns == ["k", "w"]
        assert sorted((r["k"], r["w"]) for r in cur.collect()) == [
            (1, 1.5), (2, 20.0), (5, 5.5),
        ]

    def test_bloom_property_sheds_dropped_column(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import (
            _latest_version,
            _read_manifest,
            snap_append,
            snap_drop_column,
        )

        path = str(tmp_path / "dropbloom")
        snap_append(
            spark.createDataFrame(
                [(1, "a", 1.5)], "k int, s string, w double"
            ),
            path,
            bloom_cols=["k", "s"],
        )
        snap_drop_column(path, "s")
        m = _read_manifest(path, _latest_version(path))
        assert m.get("bloom_cols") == ["k"]


class TestRenameColumn:
    """Metadata-only RENAME COLUMN via column mapping: files keep
    their write-time column name, the pinned union-schema read
    coalesces prior names back into the logical column, stats/bloom/
    DML pruning consult every name the column ever had, and the old
    name is tombstoned against resurrection."""

    def _table(self, spark, tmp_path, name="renamecol"):
        from qurio_spark.plans.snapshots import snap_append

        path = str(tmp_path / name)
        snap_append(
            spark.createDataFrame(
                [(1, "a", 1.5), (2, "b", 2.5)], "k int, s string, w double"
            ).repartition(1),
            path,
        )
        snap_append(
            spark.createDataFrame(
                [(3, "c", 3.5), (4, "d", 4.5)], "k int, s string, w double"
            ).repartition(1),
            path,
        )
        return path

    def test_rename_is_metadata_only_and_time_travels(
        self, spark, tmp_path
    ):
        import glob
        import os as _os

        from qurio_spark.plans.snapshots import (
            snap_read,
            snap_rename_column,
        )

        path = self._table(spark, tmp_path)
        files_before = {
            f: _os.path.getmtime(f)
            for f in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
        }
        assert snap_rename_column(path, "s", "label") == 2
        files_after = {
            f: _os.path.getmtime(f)
            for f in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
        }
        assert files_after == files_before  # zero data bytes moved
        cur = snap_read(spark, path)
        assert cur.columns == ["k", "label", "w"]
        assert sorted((r["k"], r["label"]) for r in cur.collect()) == [
            (1, "a"), (2, "b"), (3, "c"), (4, "d"),
        ]
        v1 = snap_read(spark, path, 1)
        assert v1.columns == ["k", "s", "w"]
        assert sorted(r["s"] for r in v1.collect()) == ["a", "b", "c", "d"]

    def test_append_and_cow_after_rename(self, spark, tmp_path):
        """Post-rename appends write the NEW name physically; a CoW
        rewrite touching pre-rename files re-writes them under the
        new name; values stay exact across eras; NULLs in the renamed
        column survive (coalesce must not leak across names)."""
        from pyspark.sql import Row

        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_delete_where,
            snap_read,
            snap_rename_column,
        )

        path = self._table(spark, tmp_path)
        snap_rename_column(path, "s", "label")
        snap_append(
            spark.createDataFrame(
                [Row(k=5, label=None, w=5.5), Row(k=6, label="f", w=6.5)]
            ),
            path,
        )
        got = {
            r["k"]: r["label"] for r in snap_read(spark, path).collect()
        }
        assert got == {1: "a", 2: "b", 3: "c", 4: "d", 5: None, 6: "f"}
        # CoW delete keyed on k rewrites a pre-rename file's survivors
        snap_delete_where(spark, path, "k", lo=1, hi=1)
        got = {
            r["k"]: r["label"] for r in snap_read(spark, path).collect()
        }
        assert got == {2: "b", 3: "c", 4: "d", 5: None, 6: "f"}

    def test_scan_pruning_consults_both_names(self, spark, tmp_path):
        """snap_scan on the renamed column prunes files written BEFORE
        the rename by their old-name stats and files written after by
        their new-name stats."""
        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_rename_column,
            snap_scan,
            snap_scan_files,
        )

        path = str(tmp_path / "renamescan")
        snap_append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(10)], "a int, w double"
            ).coalesce(1),
            path,
        )
        snap_rename_column(path, "a", "b")
        snap_append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(100, 110)], "b int, w double"
            ).coalesce(1),
            path,
        )
        # range hitting only the OLD file
        assert len(snap_scan_files(path, {"b": (2, 4)})) == 1
        # range hitting only the NEW file
        assert len(snap_scan_files(path, {"b": (105, 106)})) == 1
        # disjoint from both
        assert snap_scan_files(path, {"b": (50, 60)}) == []
        got = sorted(
            r["b"]
            for r in snap_scan(spark, path, "b", lo=2, hi=105).collect()
        )
        assert got == [2, 3, 4, 5, 6, 7, 8, 9, 100, 101, 102, 103, 104, 105]

    def test_bloom_probe_spans_the_rename(self, spark, tmp_path):
        """Equality file-skipping probes the bloom under whichever
        name each file was written with."""
        from qurio_spark.plans.snapshots import (
            _latest_version,
            _read_manifest,
            snap_append,
            snap_rename_column,
            snap_scan_files,
        )

        path = str(tmp_path / "renamebloom")
        snap_append(
            spark.createDataFrame(
                [(f"u{i}", i) for i in range(50)], "a string, v int"
            ).coalesce(1),
            path,
            bloom_cols=["a"],
        )
        snap_rename_column(path, "a", "b")
        m = _read_manifest(path, _latest_version(path))
        assert m.get("bloom_cols") == ["b"]  # property follows the rename
        snap_append(
            spark.createDataFrame(
                [(f"z{i}", i) for i in range(50)], "b string, v int"
            ).coalesce(1),
            path,
        )
        # value only in the pre-rename file: post-rename file excluded
        assert len(
            snap_scan_files(path, {}, spark=spark, eq={"b": "u7"})
        ) == 1
        # value in neither: both excluded
        assert snap_scan_files(path, {}, spark=spark, eq={"b": "nope"}) == []

    def test_merge_and_mor_delete_on_renamed_key(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import (
            snap_delete_where_mor,
            snap_merge,
            snap_read,
            snap_rename_column,
        )

        path = self._table(spark, tmp_path)
        snap_rename_column(path, "k", "id")
        # merge keyed on the renamed column, source uses the new names
        snap_merge(
            spark, path,
            spark.createDataFrame(
                [(2, "B2", 20.0), (9, "N9", 9.5)],
                "id int, s string, w double",
            ),
            ["id"],
        )
        got = {r["id"]: r["s"] for r in snap_read(spark, path).collect()}
        assert got == {1: "a", 2: "B2", 3: "c", 4: "d", 9: "N9"}
        # MOR delete on the renamed column: positions found in
        # pre-rename files via their old physical name
        snap_delete_where_mor(spark, path, "id", lo=3, hi=3)
        got = {r["id"]: r["s"] for r in snap_read(spark, path).collect()}
        assert got == {1: "a", 2: "B2", 4: "d", 9: "N9"}

    def test_rename_chain_and_diff(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import (
            snap_diff,
            snap_read,
            snap_rename_column,
        )

        path = self._table(spark, tmp_path)
        snap_rename_column(path, "s", "mid")
        snap_rename_column(path, "mid", "final")
        cur = snap_read(spark, path)
        assert cur.columns == ["k", "final", "w"]
        assert sorted(r["final"] for r in cur.collect()) == [
            "a", "b", "c", "d",
        ]
        # a rename changes no rows: the change feed across it is empty
        assert snap_diff(spark, path, 1, 3).count() == 0

    def test_rename_refusals_and_tombstones(self, spark, tmp_path):
        import pytest as _pytest

        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_drop_column,
            snap_rename_column,
            snap_replace_values,
        )

        path = self._table(spark, tmp_path)
        with _pytest.raises(ValueError, match="no such column"):
            snap_rename_column(path, "nope", "x")
        with _pytest.raises(ValueError, match="already exists"):
            snap_rename_column(path, "s", "w")
        snap_rename_column(path, "s", "label")
        # re-adding the old name would resurrect old files' values
        with _pytest.raises(ValueError, match="cannot be re-added"):
            snap_append(
                spark.createDataFrame(
                    [(7, "zz", 7.5, "evil")],
                    "k int, label string, w double, s string",
                ),
                path,
            )
        # renaming another column INTO a prior physical name refused
        with _pytest.raises(ValueError, match="tombstoned"):
            snap_rename_column(path, "w", "s")
        # dropped names cannot be taken either
        snap_drop_column(path, "w")
        with _pytest.raises(ValueError, match="tombstoned"):
            snap_rename_column(path, "label", "w")
        # cluster-key guard
        cpath = str(tmp_path / "renameclustered")
        snap_replace_values(
            spark, cpath, "k", [],
            spark.createDataFrame([("a", 1)], "k string, v int"),
            cluster=True,
        )
        with _pytest.raises(ValueError, match="value-cluster key"):
            snap_rename_column(cpath, "k", "kk")

    def test_widen_then_rename_reads_exact(self, spark, tmp_path):
        """Interplay with type widening: a narrow pre-rename file
        up-converts under the renamed field's current (wide) type."""
        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_read,
            snap_rename_column,
        )

        path = str(tmp_path / "renamewiden")
        snap_append(
            spark.createDataFrame([(1, 10)], "k int, v int").coalesce(1),
            path,
        )
        snap_append(  # widens v to bigint
            spark.createDataFrame(
                [(2, 2**40)], "k int, v bigint"
            ).coalesce(1),
            path,
        )
        snap_rename_column(path, "v", "big")
        got = dict(
            (r["k"], r["big"]) for r in snap_read(spark, path).collect()
        )
        assert got == {1: 10, 2: 2**40}
        assert dict(snap_read(spark, path).dtypes)["big"] == "bigint"

    def test_replace_values_after_rename_stays_o_delta(
        self, spark, tmp_path
    ):
        """replaceWhere on a RENAMED column: pre-rename files whose
        old-name stats prove them disjoint are carried by name (bytes
        untouched), and a point-range pre-rename file on a replaced
        value is wholly replaced without a read."""
        import glob
        import os as _os

        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_read,
            snap_rename_column,
            snap_replace_values,
        )

        path = str(tmp_path / "renamereplace")
        # two value-pure files under the ORIGINAL name
        for day in ("d1", "d2"):
            snap_append(
                spark.createDataFrame(
                    [(day, i) for i in range(5)], "day string, v int"
                ).coalesce(1),
                path,
            )
        snap_rename_column(path, "day", "dt")
        untouched = {
            f: _os.path.getmtime(f)
            for f in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
        }
        # replace d2 only: the d1 file (old-name stats) must carry
        snap_replace_values(
            spark, path, "dt", ["d2"],
            spark.createDataFrame([("d2", 99)], "dt string, v int"),
        )
        from qurio_spark.plans.snapshots import (
            _latest_version,
            _manifest_entries,
            _read_manifest,
        )

        m = _read_manifest(path, _latest_version(path))
        referenced = {
            _os.path.join(path, e["name"] if isinstance(e, dict) else e)
            for e in _manifest_entries(path, m)
        }
        # replaced files stay on disk until vacuum: judge by the
        # MANIFEST — exactly one pre-rename file (d1) is still
        # referenced, and its bytes are untouched
        surviving_old = referenced & set(untouched)
        assert len(surviving_old) == 1
        for f in surviving_old:
            assert _os.path.getmtime(f) == untouched[f]
        got = sorted(
            (r["dt"], r["v"]) for r in snap_read(spark, path).collect()
        )
        assert got == [("d1", i) for i in range(5)] + [("d2", 99)]


# -- lost claims: every committing op re-runs against the winner --------

_RACE_SCHEMA = "k long, x long, s string"
#: the concurrent writer's row: outside every op's predicate and keys
_RACE_ROW = (100, 1000, "c")
#: live rows of the raced base table (k = 8 is masked by a vector)
_RACE_BASE = [(k, 10 * k, "a" if k < 5 else "b") for k in range(10) if k != 8]


def _race_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple((c, r[c]) for c in cols) for r in df.collect())


def _as_rows(tuples, cols=("k", "x", "s")):
    return sorted(
        tuple(sorted(zip(cols, t))) for t in tuples
    )


def _race_frame(spark, rows):
    return spark.createDataFrame(rows, _RACE_SCHEMA).coalesce(1)


def _update_k_0_2(spark, path):
    from qurio_spark.plans.snapshots import snap_update_where

    return snap_update_where(spark, path, {"x": F.lit(-1)}, "k", 0, 2)


def _replace_k_0_1(spark, path):
    from qurio_spark.plans.snapshots import snap_replace_values

    return snap_replace_values(
        spark, path, "k", [0, 1],
        _race_frame(spark, [(0, -5, "r"), (1, -5, "r")]),
    )


_MERGE_SOURCE = [(1, -7, "m"), (50, 500, "m")]
_MERGED = [r for r in _RACE_BASE if r[0] != 1] + _MERGE_SOURCE


#: (op callable, manifest op name, expected rows over base + the
#: concurrent row, expected columns)
_RACED_OPS = {
    "delete_where": (
        lambda spark, p: S.snap_delete_where(spark, p, "k", 0, 2),
        "delete", [r for r in _RACE_BASE if r[0] > 2] + [_RACE_ROW], None,
    ),
    "delete_where_mor": (
        lambda spark, p: S.snap_delete_where_mor(spark, p, "k", 0, 2),
        "delete-mor", [r for r in _RACE_BASE if r[0] > 2] + [_RACE_ROW],
        None,
    ),
    "update_where": (
        _update_k_0_2, "update",
        [(k, -1 if k <= 2 else x, s) for k, x, s in _RACE_BASE]
        + [_RACE_ROW], None,
    ),
    "replace_values": (
        _replace_k_0_1, "replace",
        [r for r in _RACE_BASE if r[0] > 1]
        + [(0, -5, "r"), (1, -5, "r"), _RACE_ROW], None,
    ),
    "merge": (
        lambda spark, p: S.snap_merge(
            spark, p, _race_frame(spark, _MERGE_SOURCE), ["k"]
        ),
        "merge", _MERGED + [_RACE_ROW], None,
    ),
    "merge_mor": (
        lambda spark, p: S.snap_merge_mor(
            spark, p, _race_frame(spark, _MERGE_SOURCE), ["k"]
        ),
        "merge-mor", _MERGED + [_RACE_ROW], None,
    ),
    "materialize_dvs": (
        lambda spark, p: S.snap_materialize_dvs(spark, p),
        "materialize", _RACE_BASE + [_RACE_ROW], None,
    ),
    "compact": (
        lambda spark, p: S.snap_compact(spark, p),
        "compact", _RACE_BASE + [_RACE_ROW], None,
    ),
    "drop_column": (
        lambda spark, p: S.snap_drop_column(p, "s"),
        "drop_column", [(k, x) for k, x, _ in _RACE_BASE + [_RACE_ROW]],
        ("k", "x"),
    ),
    "rename_column": (
        lambda spark, p: S.snap_rename_column(p, "s", "t"),
        "rename_column", _RACE_BASE + [_RACE_ROW], ("k", "x", "t"),
    ),
    "restore": (
        lambda spark, p: S.snap_restore(p, 0),
        "restore", [r for r in _RACE_BASE if r[0] < 5], None,
    ),
    "append_txn": (
        lambda spark, p: S.snap_append_txn(
            _race_frame(spark, [(200, 2000, "t")]), p, "app", 0
        ),
        "append", _RACE_BASE + [_RACE_ROW, (200, 2000, "t")], None,
    ),
    "overwrite": (
        lambda spark, p: S.snap_overwrite(
            _race_frame(spark, [(300, 3000, "o")]), p
        ),
        "overwrite", [(300, 3000, "o")], None,
    ),
}


@pytest.fixture(scope="module")
def raced_base(spark, tmp_path_factory):
    """Built once per module: v0 = k 0..4, v1 = k 5..9 (two small
    files), v2 = a merge-on-read delete of k = 8 (a live vector)."""
    path = str(tmp_path_factory.mktemp("raced") / "base")
    S.snap_append(_race_frame(spark, [r for r in _RACE_BASE if r[0] < 5]), path)
    S.snap_append(
        _race_frame(
            spark, [(k, 10 * k, "b") for k in range(5, 10)]
        ),
        path,
    )
    S.snap_delete_where_mor(spark, path, "k", 8, 8)
    return path


@pytest.mark.parametrize("name", sorted(_RACED_OPS))
def test_lost_claim_reruns_against_the_winner(
    spark, raced_base, tmp_path, monkeypatch, name
):
    """The op's first claim loses to a concurrent append of a row the
    op does not touch: the op re-runs against the winner's version,
    commits right after it, keeps the winner's row (unless the op
    replaces the whole content) and leaves no staged vector behind."""
    import shutil

    fn, op, expected, cols = _RACED_OPS[name]
    path = str(tmp_path / "t")
    shutil.copytree(raced_base, path)
    v = S._latest_version(path)
    real = S._try_commit
    raced = []

    def racing(p, version, manifest):
        if not raced:
            raced.append(version)
            S.snap_append(_race_frame(spark, [_RACE_ROW]), p)
        return real(p, version, manifest)

    monkeypatch.setattr(S, "_try_commit", racing)
    assert fn(spark, path) == v + 2
    monkeypatch.undo()
    assert raced == [v + 1]
    assert [h["op"] for h in snap_versions(path)][-2:] == ["append", op]
    got = _race_rows(snap_read(spark, path))
    assert got == _as_rows(expected, cols or ("k", "x", "s"))
    assert S.snap_count(path) == len(got)
    if op.endswith("-mor"):
        m = S._read_manifest(path, v + 2)
        staged = {f"dv/{f}" for f in os.listdir(os.path.join(path, "dv"))}
        assert staged <= set(m["dvs"])
