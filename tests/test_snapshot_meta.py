"""Metadata-only COUNT (snap_count) and RESTORE (snap_restore).

snap_count must stay EXACT through the whole mutation surface —
appends, MOR deletes (ledger subtraction), rewrites that strand
vector entries (ledger prunes file-by-file), materialization — or it
is worse than useless: a metadata count that can drift silently poisons
every downstream consumer that trusted it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans.snapshots import (
    _read_manifest,
    snap_append,
    snap_append_txn,
    snap_compact,
    snap_count,
    snap_delete_where,
    snap_delete_where_mor,
    snap_materialize_dvs,
    snap_read,
    snap_restore,
    snap_vacuum,
    snap_versions,
)


def _vals(spark, path):
    return sorted(r["v"] for r in snap_read(spark, path).collect())


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    snap_append(
        spark.range(0, 10).select(F.col("id").alias("v")).coalesce(1), path
    )
    snap_append(
        spark.range(10, 20).select(F.col("id").alias("v")).coalesce(1), path
    )
    return path


class TestSnapCount:
    def test_counts_without_opening_files(self, spark, table):
        assert snap_count(table) == 20
        assert snap_count(table, version=0) == 10

    def test_exact_through_mor_deletes(self, spark, table):
        snap_delete_where_mor(spark, table, "v", lo=3, hi=7)
        assert snap_count(table) == 15
        snap_delete_where_mor(spark, table, "v", lo=15, hi=16)
        assert snap_count(table) == 13
        assert snap_count(table) == snap_read(spark, table).count()

    def test_ledger_prunes_on_cow_rewrite(self, spark, table):
        """A CoW delete rewrites a file that MOR vectors masked: the
        stranded vector entries must leave the ledger or the count
        undercounts forever."""
        snap_delete_where_mor(spark, table, "v", lo=0, hi=2)   # file 1
        snap_delete_where_mor(spark, table, "v", lo=12, hi=13)  # file 2
        snap_delete_where(spark, table, "v", lo=4, hi=4)  # rewrites file 1
        assert snap_count(table) == snap_read(spark, table).count() == 14
        m = _read_manifest(table, 4)
        # only file 2's vector rows remain in the ledger
        assert m["dv_rows"] == 2

    def test_ledger_clears_on_compact_and_materialize(self, spark, table):
        snap_delete_where_mor(spark, table, "v", lo=0, hi=4)
        snap_compact(spark, table, small_bytes=1 << 20)
        m = _read_manifest(table, 3)
        # every masked file was rewritten -> the dvs drop entirely
        assert "dvs" not in m and "dv_rows" not in m
        assert snap_count(table) == 15 == snap_read(spark, table).count()
        # materialize on a vector-free table is a no-op
        assert snap_materialize_dvs(spark, table) is None

    def test_exact_after_materialize(self, spark, table):
        snap_delete_where_mor(spark, table, "v", lo=0, hi=4)
        snap_materialize_dvs(spark, table)
        assert snap_count(table) == 15 == snap_read(spark, table).count()


class TestSnapRestore:
    def test_restore_rewinds_data_as_new_version(self, spark, table):
        v = snap_restore(table, 0)
        assert v == 2
        assert _vals(spark, table) == list(range(10))
        assert [m["op"] for m in snap_versions(table)] == [
            "append", "append", "restore",
        ]
        assert _read_manifest(table, v)["restored"] == 0
        # pre-restore history is still readable
        assert len(snap_read(spark, table, 1).collect()) == 20

    def test_restore_preserves_targets_vectors(self, spark, table):
        vd = snap_delete_where_mor(spark, table, "v", lo=0, hi=4)
        snap_append(
            spark.range(50, 55).select(F.col("id").alias("v")), table
        )
        snap_restore(table, vd)
        assert _vals(spark, table) == list(range(5, 20))
        assert snap_count(table) == 15

    def test_restore_carries_current_txn_ledger(self, spark, table):
        snap_append_txn(
            spark.range(30, 32).select(F.col("id").alias("v")), table,
            "app", 7,
        )
        snap_restore(table, 0)
        # the replayed batch is STILL detected after the rewind
        assert (
            snap_append_txn(
                spark.range(2).select(F.col("id").alias("v")), table,
                "app", 7,
            )
            is None
        )
        assert _vals(spark, table) == list(range(10))

    def test_restore_past_vacuum_raises(self, spark, table):
        from qurio_spark.plans.snapshots import snap_overwrite

        snap_overwrite(
            spark.range(3).select(F.col("id").alias("v")), table
        )
        snap_vacuum(table, keep_last=1, grace_seconds=0.0)
        with pytest.raises(FileNotFoundError):
            snap_restore(table, 0)


class TestHistoryAndDryRun:
    def test_versions_carry_row_metrics(self, spark, table):
        snap_delete_where_mor(spark, table, "v", lo=0, hi=4)
        hist = snap_versions(table)
        assert [h["n_rows"] for h in hist] == [10, 20, 15]
        assert [h["dv_rows"] for h in hist] == [0, 0, 5]
        assert all(h["ts"] is not None for h in hist)
        # history n_rows agrees with the metadata-only count per version
        for h in hist:
            assert snap_count(table, version=h["version"]) == h["n_rows"]

    def test_vacuum_dry_run_touches_nothing(self, spark, table):
        import os

        from qurio_spark.plans.snapshots import snap_overwrite

        snap_overwrite(
            spark.range(3).select(F.col("id").alias("v")), table
        )
        listing_before = {
            os.path.join(r, f)
            for r, _, fs in os.walk(table)
            for f in fs
        }
        would = snap_vacuum(table, keep_last=1, grace_seconds=0.0,
                            dry_run=True)
        assert would  # the overwrite stranded the old data files
        listing_after = {
            os.path.join(r, f)
            for r, _, fs in os.walk(table)
            for f in fs
        }
        assert listing_after == listing_before
        # the real run deletes exactly the dry run's report
        deleted = snap_vacuum(table, keep_last=1, grace_seconds=0.0)
        assert sorted(deleted) == sorted(would)
        for rel in deleted:
            assert not os.path.exists(os.path.join(table, rel))


class TestReviewRegressions:
    """Round-10 review findings, each pinned."""

    def test_unbounded_update_and_mor_delete_skip_nulls(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_update_where

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a"), (None, "n"), (2, "b")], "k int, val string"
        )
        snap_append(df, path)
        # unbounded UPDATE: NULL-keyed row passes through unchanged
        snap_update_where(spark, path, {"val": F.lit("x")}, "k")
        got = {
            (r["k"]): r["val"] for r in snap_read(spark, path).collect()
        }
        assert got == {1: "x", 2: "x", None: "n"}
        # unbounded MOR delete: NULL-keyed row survives
        snap_delete_where_mor(spark, path, "k")
        rows = snap_read(spark, path).collect()
        assert [(r["k"], r["val"]) for r in rows] == [(None, "n")]
        assert snap_count(path) == 1

    def test_restore_checks_bloom_sidecars(self, spark, tmp_path):
        import os

        from qurio_spark.plans.snapshots import snap_overwrite

        path = str(tmp_path / "t")
        snap_append(
            spark.range(10).select(
                F.col("id").alias("v"),
                F.sha2(F.col("id").cast("string"), 256).alias("h"),
            ),
            path, bloom_cols=["h"],
        )
        snap_overwrite(
            spark.range(3).select(
                F.col("id").alias("v"), F.lit("z").alias("h")
            ),
            path,
        )
        # the v0 bloom sidecar vanishes (a crashed/racing vacuum)
        bloom_dir = os.path.join(path, "bloom")
        for f in os.listdir(bloom_dir):
            os.remove(os.path.join(bloom_dir, f))
        with pytest.raises(FileNotFoundError, match="vacuum already"):
            snap_restore(path, 0)


class TestSecondReviewRegressions:
    def test_vacuum_retention_growth_does_not_crash(self, spark, table):
        from qurio_spark.plans.snapshots import snap_overwrite

        for i in range(3):
            snap_overwrite(
                spark.range(i, i + 3).select(F.col("id").alias("v")), table
            )
        snap_vacuum(table, keep_last=1, grace_seconds=0.0)
        # growing the retention after a tighter pass must not read
        # already-vacuumed manifests
        assert snap_vacuum(table, keep_last=3, grace_seconds=0.0) == []
        assert sorted(
            r["v"] for r in snap_read(spark, table).collect()
        ) == [2, 3, 4]

    def test_replace_expect_version_conflict(self, spark, table):
        from qurio_spark.plans.snapshots import (
            SnapConflict,
            snap_replace_values,
        )

        df = spark.range(100, 102).select(F.col("id").alias("v"))
        with pytest.raises(SnapConflict, match="stale read"):
            snap_replace_values(
                spark, table, "v", [0], df, expect_version=0
            )  # latest is 1
        # matching expectation commits
        v = snap_replace_values(
            spark, table, "v", [0], df, expect_version=1
        )
        assert v == 2

    def test_restore_touch_reenters_grace(self, spark, table):
        """snap_restore bumps its referenced files' mtimes, so a
        vacuum sampling the PRE-restore head within the grace window
        cannot delete the restored version's files."""
        import os

        from qurio_spark.plans.snapshots import _vacuum_at, snap_overwrite

        snap_overwrite(
            spark.range(3).select(F.col("id").alias("v")), table
        )
        # age every data file AND per-commit manifest far past any
        # grace window — vacuum deletes unreferenced m-*.json on the
        # same mtime rule, so restore must refresh those too
        for r, _, fs in os.walk(os.path.join(table, "data")):
            for f in fs:
                os.utime(os.path.join(r, f), (1, 1))
        for f in os.listdir(os.path.join(table, "_manifests")):
            if f.startswith("m-"):
                os.utime(os.path.join(table, "_manifests", f), (1, 1))
        snap_restore(table, 0)
        # the race: vacuum runs with the PRE-restore latest sample
        _vacuum_at(table, 2, 1, grace_seconds=3600.0)
        # restore's touch kept v0's files alive: the head reads whole
        assert sorted(
            r["v"] for r in snap_read(spark, table).collect()
        ) == list(range(10))


class TestMaintain:
    def test_maintain_is_bounded_noop_on_healthy_table(self, spark, table):
        from qurio_spark.plans.snapshots import snap_maintain

        r = snap_maintain(spark, table)
        assert r["compacted"] is None and r["materialized"] is None
        assert r["vacuumed"] is False and r["removable"] == []
        assert len(snap_versions(table)) == 2  # nothing committed

    def test_maintain_runs_every_gate(self, spark, tmp_path):
        import os

        from qurio_spark.plans.snapshots import snap_maintain

        path = str(tmp_path / "t")
        # many tiny commits -> compaction gate; a MOR delete past the
        # dv bound -> materialize gate; stranded files -> vacuum report
        for i in range(6):
            snap_append(
                spark.range(i * 10, i * 10 + 10)
                .select(F.col("id").alias("v")).coalesce(1),
                path,
            )
        snap_delete_where_mor(spark, path, "v", lo=0, hi=4)
        r = snap_maintain(
            spark, path, max_manifests=3, max_dv_rows=1,
            keep_last=1, grace_seconds=0.0, vacuum=True,
        )
        assert r["compacted"] is not None
        # compaction rewrote every masked file, so the vectors dropped
        # with the ledger and materialize had nothing left to do
        assert r["materialized"] is None
        assert "dvs" not in _read_manifest(
            path, snap_versions(path)[-1]["version"]
        )
        assert r["vacuumed"] is True and r["removable"]
        for rel in r["removable"]:
            assert not os.path.exists(os.path.join(path, rel))
        assert sorted(
            x["v"] for x in snap_read(spark, path).collect()
        ) == list(range(5, 60))


class TestTxnVersionIntroducer:
    """snap_txn_version must identify the commit that INTRODUCED a txn
    mark, never a later carrier (ADVICE r11 medium): every descendant
    commit carries the txn map forward, so after the true writer is
    vacuumed the earliest surviving hit is an unrelated commit whose
    diff would silently recover the wrong row set."""

    def _mk(self, spark, lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("v")).coalesce(1)

    def test_finds_introducer_while_parent_retained(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_txn_version

        path = str(tmp_path / "t")
        snap_append_txn(self._mk(spark, 0, 5), path, "app", 0)     # v0
        snap_append_txn(self._mk(spark, 5, 10), path, "app", 1)    # v1
        snap_append(self._mk(spark, 10, 15), path)                 # v2 carries
        assert snap_txn_version(path, "app", 0) == 0
        assert snap_txn_version(path, "app", 1) == 1
        assert snap_txn_version(path, "app", 2) is None

    def test_none_when_introducer_vacuumed(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_txn_version

        path = str(tmp_path / "t")
        snap_append_txn(self._mk(spark, 0, 5), path, "app", 0)     # v0
        snap_append_txn(self._mk(spark, 5, 10), path, "app", 1)    # v1: writer
        snap_compact(spark, path, small_bytes=64 << 20)            # v2 carries
        assert snap_txn_version(path, "app", 1) == 1
        snap_vacuum(path, keep_last=1, grace_seconds=0.0)          # drops v0,v1
        # v2 still carries mark 1 but did NOT write batch 1 — must be None
        assert snap_txn_version(path, "app", 1) is None
