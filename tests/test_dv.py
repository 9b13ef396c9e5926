"""Deletion vectors (plans/snapshots.snap_delete_where_mor): a
merge-on-read delete commits row POSITIONS, not rewritten files.

Pins the properties that make MOR deletes safe to lean on: zero data
bytes move at delete time (entry list and mtimes untouched), every
read path applies the vectors (read/scan/diff/compact/CoW-rewrite/
replace), NULL and time-travel semantics match the CoW delete,
materialization folds vectors away, and vacuum collects orphaned
sidecars without touching live ones.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans.snapshots import (
    _latest_version,
    _read_manifest,
    maybe_materialize,
    snap_append,
    snap_append_txn,
    snap_compact,
    snap_delete_where,
    snap_delete_where_mor,
    snap_diff,
    snap_materialize_dvs,
    snap_overwrite,
    snap_read,
    snap_scan,
    snap_vacuum,
)


def _vals(df, col="v"):
    return sorted(r[col] for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    """Two appended files: v in 0..9 and 10..19."""
    path = str(tmp_path / "t")
    snap_append(
        spark.range(0, 10).select(F.col("id").alias("v")).coalesce(1), path
    )
    snap_append(
        spark.range(10, 20).select(F.col("id").alias("v")).coalesce(1), path
    )
    return path


def test_mor_delete_hides_rows_and_keeps_history(spark, table):
    v = snap_delete_where_mor(spark, table, "v", lo=3, hi=5)
    assert v == 2
    assert _vals(snap_read(spark, table)) == [0, 1, 2] + list(range(6, 20))
    # older versions still see the rows (deletes are just a version)
    assert _vals(snap_read(spark, table, 1)) == list(range(20))
    m = _read_manifest(table, v)
    assert m["op"] == "delete-mor" and m["dv_rows"] == 3


def test_mor_delete_moves_no_data_bytes(spark, table):
    data = os.path.join(table, "data")
    before = {
        f: os.path.getmtime(os.path.join(data, f)) for f in os.listdir(data)
    }
    parent_manifests = _read_manifest(table, 1)["manifests"]
    snap_delete_where_mor(spark, table, "v", lo=0, hi=2)
    # same data files, byte-untouched, carried by the SAME manifests
    after = {
        f: os.path.getmtime(os.path.join(data, f)) for f in os.listdir(data)
    }
    assert after == before
    assert _read_manifest(table, 2)["manifests"] == parent_manifests


def test_noop_when_no_row_matches(spark, table):
    assert snap_delete_where_mor(spark, table, "v", lo=100, hi=200) is None
    assert _latest_version(table) == 1  # no version churn
    # stats-disjoint candidates never even scan; a matching range that
    # was already deleted is also a no-op (positions de-duplicated)
    snap_delete_where_mor(spark, table, "v", lo=3, hi=4)
    assert snap_delete_where_mor(spark, table, "v", lo=3, hi=4) is None
    assert _read_manifest(table, _latest_version(table))["dv_rows"] == 2


def test_repeated_mor_delete_reads_no_empty_staging(spark, table):
    """A repeated MoR delete (every matching row is already deleted)
    stages no position, so it does not read the empty staging directory
    back: 3 jobs, where re-reading it cost 2 more.  The first delete's
    manifest is the same either way, and the repeat commits nothing."""
    sc = spark.sparkContext
    v = snap_delete_where_mor(spark, table, "v", lo=3, hi=12)
    m = _read_manifest(table, v)
    assert m["dv_rows"] == 10 and sorted(m["dv_counts"].values()) == [3, 7]
    sc.setLocalProperty("spark.jobGroup.id", "test-dv-repeat")
    try:
        assert snap_delete_where_mor(spark, table, "v", lo=3, hi=12) is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("test-dv-repeat")) <= 3
    assert _latest_version(table) == v and _read_manifest(table, v) == m
    assert sorted(os.listdir(os.path.join(table, "dv"))) == sorted(
        os.path.basename(f) for f in m["dvs"]
    )
    assert not [f for f in os.listdir(table) if f.startswith("_dvstaging-")]


def test_null_rows_survive(spark, tmp_path):
    path = str(tmp_path / "n")
    df = spark.createDataFrame([(1,), (2,), (None,)], "v long")
    snap_append(df, path)
    snap_delete_where_mor(spark, path, "v", lo=0, hi=10)
    vals = [r["v"] for r in snap_read(spark, path).collect()]
    assert vals == [None]  # DELETE WHERE never matches NULL


def test_scan_and_second_column_compose(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=4)
    # scan skipping still applies the vectors on kept files
    assert _vals(snap_scan(spark, table, "v", lo=0, hi=12)) == list(
        range(5, 13)
    )
    # a second MOR delete stacks
    snap_delete_where_mor(spark, table, "v", lo=18, hi=19)
    assert _vals(snap_read(spark, table)) == list(range(5, 18))


def test_cow_delete_after_mor_keeps_both(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=2)
    snap_delete_where(spark, table, "v", lo=15, hi=19)  # rewrites file 2
    assert _vals(snap_read(spark, table)) == list(range(3, 15))


def test_compact_does_not_resurrect(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=7, hi=12)
    v = snap_compact(spark, table, small_bytes=1 << 20)
    assert v is not None
    assert _vals(snap_read(spark, table)) == list(range(7)) + list(
        range(13, 20)
    )
    # the packed files physically exclude the rows AND every masked
    # file was rewritten, so the compact commit drops the vectors
    # itself (the dv ledger emptied) — materialize is then a no-op
    assert "dvs" not in _read_manifest(table, v)
    assert snap_materialize_dvs(spark, table) is None


def test_diff_sees_mor_deletes(spark, table):
    v = snap_delete_where_mor(spark, table, "v", lo=4, hi=6)
    d = snap_diff(spark, table, 1, v)
    rows = {(r["_change"], r["v"]) for r in d.collect()}
    assert rows == {("delete", 4), ("delete", 5), ("delete", 6)}
    # and a diff across versions with IDENTICAL vectors keeps the
    # file-cancellation fast path (append after the delete)
    snap_append(spark.range(50, 52).select(F.col("id").alias("v")), table)
    d2 = snap_diff(spark, table, v, v + 1)
    assert {(r["_change"], r["v"]) for r in d2.collect()} == {
        ("insert", 50), ("insert", 51),
    }


def test_materialize_rewrites_only_touched_files(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=2)  # file 1 only
    data = os.path.join(table, "data")
    before = {
        f: os.path.getmtime(os.path.join(data, f)) for f in os.listdir(data)
    }
    vm = snap_materialize_dvs(spark, table)
    m = _read_manifest(table, vm)
    assert m["op"] == "materialize" and "dvs" not in m
    assert _vals(snap_read(spark, table)) == list(range(3, 20))
    # the untouched file is carried byte-identical
    survivors = {f: t for f, t in before.items() if f in set(os.listdir(data))}
    assert survivors and all(
        os.path.getmtime(os.path.join(data, f)) == t
        for f, t in survivors.items()
    )


def test_maybe_materialize_gate(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=3)
    assert maybe_materialize(spark, table, max_dv_rows=100) is None
    v = maybe_materialize(spark, table, max_dv_rows=4)
    assert v is not None and "dvs" not in _read_manifest(table, v)


def test_vacuum_collects_orphaned_vectors(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=4)
    dv_dir = os.path.join(table, "dv")
    live = set(os.listdir(dv_dir))
    assert live
    snap_materialize_dvs(spark, table)
    # vectors still referenced by the retained delete-mor version
    assert snap_vacuum(table, keep_last=10, grace_seconds=0.0) == []
    # retain only the materialized tip -> sidecars are unreachable
    deleted = snap_vacuum(table, keep_last=1, grace_seconds=0.0)
    assert {d for d in deleted if d.startswith("dv/")} == {
        f"dv/{f}" for f in live
    }
    assert not os.listdir(dv_dir)
    assert _vals(snap_read(spark, table)) == list(range(5, 20))


def test_vacuum_grace_protects_young_vectors(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=4)
    snap_materialize_dvs(spark, table)
    assert snap_vacuum(table, keep_last=1, grace_seconds=3600.0) == []


def test_txn_append_carries_vectors(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=9)
    snap_append_txn(
        spark.range(30, 33).select(F.col("id").alias("v")), table, "app", 0
    )
    assert _vals(snap_read(spark, table)) == list(range(10, 20)) + [30, 31, 32]
    # replay detection intact
    assert (
        snap_append_txn(
            spark.range(9).select(F.col("id").alias("v")), table, "app", 0
        )
        is None
    )


def test_overwrite_resets_vectors(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=9)
    v = snap_overwrite(spark.range(3).select(F.col("id").alias("v")), table)
    m = _read_manifest(table, v)
    assert "dvs" not in m
    assert _vals(snap_read(spark, table)) == [0, 1, 2]


def test_schema_evolution_after_mor_delete(spark, table):
    snap_delete_where_mor(spark, table, "v", lo=0, hi=14)
    snap_append(
        spark.range(40, 42).select(
            F.col("id").alias("v"), F.lit("x").alias("tag")
        ),
        table,
    )
    got = snap_read(spark, table).orderBy("v").collect()
    assert [r["v"] for r in got] == [15, 16, 17, 18, 19, 40, 41]
    assert [r["tag"] for r in got] == [None] * 5 + ["x", "x"]


def test_shuffle_join_path_matches_broadcast(spark, table, monkeypatch):
    """Past the broadcast bound the anti-join falls back to shuffle —
    same rows either way."""
    import qurio_spark.plans.snapshots as S

    snap_delete_where_mor(spark, table, "v", lo=2, hi=16)
    monkeypatch.setattr(S, "_BROADCAST_DV_ROWS", 0)
    assert _vals(snap_read(spark, table)) == [0, 1, 17, 18, 19]
