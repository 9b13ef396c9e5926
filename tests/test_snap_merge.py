"""MERGE INTO and UPDATE on snapshot tables (plans/snapshots.py).

snap_merge is Delta's WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED
INSERT *: the contract under test is file-granular copy-on-write —
files without a matched key are carried BY MANIFEST NAME (bytes and
mtimes untouched), matched files rewrite survivors via a key
anti-join, the whole source appends, and one commit swaps manifests.
The interplay rows: deletion vectors (a key matching only a
MOR-deleted row must INSERT, not update — and survivors must not
resurrect deleted rows), the exact dv ledger, NULL keys (SQL equality:
never match), duplicate-source ambiguity, schema evolution, and the
streaming txn ledger.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans.snapshots import (
    _manifest_entries,
    _read_manifest,
    snap_append,
    snap_append_txn,
    snap_count,
    snap_delete_where_mor,
    snap_merge,
    snap_read,
    snap_update_where,
    snap_versions,
)


def _rows(spark, path, version=None):
    return sorted(
        (
            (r["k"], r["val"])
            for r in snap_read(spark, path, version)
            .select("k", "val")
            .collect()
        ),
        key=lambda t: (t[0] is None, t[0], t[1]),
    )


def _kv(spark, pairs, extra=None):
    df = spark.createDataFrame(pairs, "k int, val string")
    return df if extra is None else df.withColumns(extra)


@pytest.fixture()
def table(spark, tmp_path):
    """Two files: k 0-9 and k 10-19 (one commit each)."""
    path = str(tmp_path / "t")
    snap_append(
        _kv(spark, [(i, f"a{i}") for i in range(10)]).repartition(1), path
    )
    snap_append(
        _kv(spark, [(i, f"b{i}") for i in range(10, 20)]).repartition(1), path
    )
    return path


class TestSnapMerge:
    def test_upsert_updates_and_inserts(self, spark, table):
        src = _kv(spark, [(3, "U3"), (15, "U15"), (30, "N30")])
        v = snap_merge(spark, table, src, ["k"])
        assert v == 2
        got = dict(_rows(spark, table))
        assert got[3] == "U3" and got[15] == "U15" and got[30] == "N30"
        assert got[4] == "a4" and got[14] == "b14"
        assert len(got) == 21
        assert snap_count(table) == 21

    def test_unmatched_files_carry_untouched(self, spark, table):
        """A merge touching only file 2's keys must not move file 1's
        bytes: entry names and mtimes pinned."""
        m1 = _read_manifest(table, 1)
        file1 = [
            e for e in _manifest_entries(table, m1)
            if isinstance(e, dict) and e["stats"]["k"][1] <= 9
        ]
        assert file1
        mtimes = {
            e["name"]: os.path.getmtime(os.path.join(table, e["name"]))
            for e in file1
        }
        snap_merge(spark, table, _kv(spark, [(12, "U12")]), ["k"])
        m2 = _read_manifest(table, 2)
        names = {e["name"] for e in _manifest_entries(table, m2)}
        for name, mt in mtimes.items():
            assert name in names
            assert os.path.getmtime(os.path.join(table, name)) == mt

    def test_pure_insert_is_append_shaped(self, spark, table):
        """No key matches: every parent manifest carries by name."""
        m1 = _read_manifest(table, 1)
        snap_merge(spark, table, _kv(spark, [(100, "N")]), ["k"])
        m2 = _read_manifest(table, 2)
        assert set(m1["manifests"]) < set(m2["manifests"])
        assert len(_rows(spark, table)) == 21

    def test_null_source_keys_insert_null_target_rows_survive(
        self, spark, table
    ):
        snap_append(_kv(spark, [(None, "tnull")]), table)
        src = _kv(spark, [(None, "snull"), (5, "U5")])
        snap_merge(spark, table, src, ["k"])
        vals = sorted(
            r["val"]
            for r in snap_read(spark, table)
            .filter(F.col("k").isNull())
            .collect()
        )
        # SQL equality: NULL never matches — target NULL row survives,
        # source NULL row inserts alongside it
        assert vals == ["snull", "tnull"]
        assert dict(_rows(spark, table))[5] == "U5"

    def test_duplicate_matched_source_raises(self, spark, table):
        src = _kv(spark, [(3, "x"), (3, "y")])
        with pytest.raises(ValueError, match="multiple source rows"):
            snap_merge(spark, table, src, ["k"])

    def test_duplicate_unmatched_source_inserts_both(self, spark, table):
        src = _kv(spark, [(50, "x"), (50, "y")])
        snap_merge(spark, table, src, ["k"])
        assert (
            snap_read(spark, table).filter(F.col("k") == 50).count() == 2
        )

    def test_txn_marker_makes_merge_idempotent(self, spark, table):
        """txn=(app, batch): the first merge commits and records the
        marker; a replay of the same batch returns None and changes
        NOTHING (the crash-window building block the resumable crawl's
        round protocol relies on); the next batch commits normally."""
        src = _kv(spark, [(3, "U3"), (30, "N30")])
        v = snap_merge(spark, table, src, ["k"], txn=("app", 0))
        assert v == 2
        before = _rows(spark, table)
        assert snap_merge(
            spark, table, _kv(spark, [(3, "EVIL"), (31, "X")]), ["k"],
            txn=("app", 0),
        ) is None
        assert _rows(spark, table) == before
        assert snap_versions(table)[-1]["version"] == 2
        # the next batch id is not a replay
        assert snap_merge(
            spark, table, _kv(spark, [(4, "U4")]), ["k"], txn=("app", 1)
        ) == 3
        assert dict(_rows(spark, table))[4] == "U4"

    def test_txn_marker_on_table_creation(self, spark, tmp_path):
        path = str(tmp_path / "fresh")
        assert snap_merge(
            spark, path, _kv(spark, [(1, "a")]), ["k"], txn=("app", 7)
        ) == 0
        assert snap_merge(
            spark, path, _kv(spark, [(1, "b")]), ["k"], txn=("app", 7)
        ) is None
        assert dict(_rows(spark, path))[1] == "a"

    def test_composite_keys(self, spark, tmp_path):
        path = str(tmp_path / "c")
        df = spark.createDataFrame(
            [(1, "a", "old"), (1, "b", "old"), (2, "a", "old")],
            "k1 int, k2 string, val string",
        )
        snap_merge(spark, path, df, ["k1", "k2"])
        src = spark.createDataFrame(
            [(1, "b", "new"), (3, "c", "ins")], "k1 int, k2 string, val string"
        )
        snap_merge(spark, path, src, ["k1", "k2"])
        got = {
            (r["k1"], r["k2"]): r["val"]
            for r in snap_read(spark, path).collect()
        }
        assert got == {
            (1, "a"): "old", (1, "b"): "new",
            (2, "a"): "old", (3, "c"): "ins",
        }

    def test_merge_respects_mor_deletes(self, spark, table):
        """k=3 is MOR-deleted: a source row for it is NOT matched (it
        inserts — exactly one copy lands), and the survivor rewrite of
        its file must not resurrect the deleted row."""
        snap_delete_where_mor(spark, table, "k", lo=3, hi=4)
        src = _kv(spark, [(3, "back"), (5, "U5")])
        snap_merge(spark, table, src, ["k"])
        got = _rows(spark, table)
        assert got.count((3, "back")) == 1
        assert (4, "a4") not in got and (3, "a3") not in got
        assert dict(got)[5] == "U5"
        # 20 - 2 deleted = 18 live; k=5 replaced, k=3 inserted -> 19
        assert snap_count(table) == 19
        assert snap_count(table) == snap_read(spark, table).count()

    def test_rewritten_files_leave_dv_ledger(self, spark, table):
        snap_delete_where_mor(spark, table, "k", lo=0, hi=1)   # file 1
        snap_delete_where_mor(spark, table, "k", lo=18, hi=18)  # file 2
        snap_merge(spark, table, _kv(spark, [(5, "U5")]), ["k"])
        m = _read_manifest(table, 4)
        # file 1 was rewritten -> only file 2's vector row remains
        assert m["dv_rows"] == 1
        assert snap_count(table) == 17 == snap_read(spark, table).count()

    def test_schema_evolution_on_merge(self, spark, table):
        src = _kv(spark, [(3, "U3")], {"extra": F.lit(7)})
        snap_merge(spark, table, src, ["k"])
        df = snap_read(spark, table)
        assert "extra" in df.columns
        got = {r["k"]: r["extra"] for r in df.collect()}
        assert got[3] == 7 and got[4] is None

    def test_empty_source_is_noop(self, spark, table):
        src = _kv(spark, [(3, "x")]).filter(F.lit(False))
        assert snap_merge(spark, table, src, ["k"]) is None
        assert len(snap_versions(table)) == 2

    def test_creates_table(self, spark, tmp_path):
        path = str(tmp_path / "new")
        v = snap_merge(spark, path, _kv(spark, [(1, "a")]), ["k"])
        assert v == 0
        assert _rows(spark, path) == [(1, "a")]

    def test_txn_ledger_carries(self, spark, table):
        snap_append_txn(_kv(spark, [(40, "t")]), table, "app", 9)
        snap_merge(spark, table, _kv(spark, [(3, "U3")]), ["k"])
        assert (
            snap_append_txn(_kv(spark, [(41, "t")]), table, "app", 9) is None
        )

    def test_history_preserved(self, spark, table):
        snap_merge(spark, table, _kv(spark, [(3, "U3")]), ["k"])
        assert dict(_rows(spark, table, version=1))[3] == "a3"
        assert [m["op"] for m in snap_versions(table)] == [
            "append", "append", "merge",
        ]


class TestSnapUpdateWhere:
    def test_updates_matching_rows_only(self, spark, table):
        v = snap_update_where(
            spark, table, {"val": F.concat(F.lit("u-"), F.col("val"))},
            "k", lo=3, hi=5,
        )
        assert v == 2
        got = dict(_rows(spark, table))
        assert got[3] == "u-a3" and got[5] == "u-a5"
        assert got[2] == "a2" and got[6] == "a6"

    def test_disjoint_files_carry_untouched(self, spark, table):
        m1 = _read_manifest(table, 1)
        file2 = [
            e for e in _manifest_entries(table, m1)
            if isinstance(e, dict) and e["stats"]["k"][0] >= 10
        ]
        mtimes = {
            e["name"]: os.path.getmtime(os.path.join(table, e["name"]))
            for e in file2
        }
        snap_update_where(spark, table, {"val": F.lit("x")}, "k", lo=0, hi=2)
        m2 = _read_manifest(table, 2)
        names = {e["name"] for e in _manifest_entries(table, m2)}
        for name, mt in mtimes.items():
            assert name in names
            assert os.path.getmtime(os.path.join(table, name)) == mt

    def test_provable_noop_never_commits(self, spark, table):
        assert (
            snap_update_where(
                spark, table, {"val": F.lit("x")}, "k", lo=500, hi=600
            )
            is None
        )
        assert len(snap_versions(table)) == 2

    def test_null_rows_pass_through(self, spark, table):
        snap_append(_kv(spark, [(None, "tnull")]), table)
        snap_update_where(spark, table, {"val": F.lit("x")}, "k", lo=0, hi=50)
        nulls = (
            snap_read(spark, table).filter(F.col("k").isNull()).collect()
        )
        assert [r["val"] for r in nulls] == ["tnull"]

    def test_set_references_pre_update_values(self, spark, tmp_path):
        """Standard UPDATE semantics: every SET expression sees the
        row's PRE-update values, even when one SET column reads
        another."""
        path = str(tmp_path / "p")
        df = spark.createDataFrame([(1, 10, 20)], "k int, a int, b int")
        snap_append(df, path)
        snap_update_where(
            spark, path, {"a": F.col("b"), "b": F.col("a")}, "k", lo=1, hi=1
        )
        r = snap_read(spark, path).first()
        assert (r["a"], r["b"]) == (20, 10)

    def test_unknown_set_column_raises(self, spark, table):
        with pytest.raises(ValueError, match="unknown columns"):
            snap_update_where(
                spark, table, {"nope": F.lit(1)}, "k", lo=0, hi=1
            )

    def test_respects_mor_deletes_and_prunes_ledger(self, spark, table):
        snap_delete_where_mor(spark, table, "k", lo=3, hi=3)
        snap_update_where(spark, table, {"val": F.lit("x")}, "k", lo=4, hi=4)
        got = _rows(spark, table)
        assert (3, "a3") not in got and (4, "x") in got
        m = _read_manifest(table, 3)
        # the masked file was rewritten -> the ledger emptied
        assert "dvs" not in m
        assert snap_count(table) == 19 == snap_read(spark, table).count()


class TestDiffNullRows:
    def test_delete_with_null_rows_no_phantom_changes(self, spark, table):
        """The NULL-keyed row lives in a stats-less file that every
        CoW delete rewrites: the value cancel must be NULL-SAFE or the
        untouched NULL row emits a phantom insert+delete pair."""
        from qurio_spark.plans.snapshots import snap_delete_where, snap_diff

        snap_append(_kv(spark, [(None, "tnull")]), table)
        v = snap_delete_where(spark, table, "k", lo=7, hi=8)
        feed = snap_diff(spark, table, v - 1, v)
        got = sorted((r["k"], r["_change"], r["val"]) for r in feed.collect())
        assert got == [(7, "delete", "a7"), (8, "delete", "a8")]


class TestSnapMergeMor:
    """snap_merge_mor: MERGE whose matched rows are masked by deletion
    vectors — ZERO parent files move (entries + mtimes pinned), only
    the source appends; matched-via-deleted-row inserts cleanly; the
    dv ledger stays exact through a later materialize."""

    def test_upsert_semantics_match_cow(self, spark, table, tmp_path):
        from qurio_spark.plans.snapshots import snap_merge_mor

        src = _kv(spark, [(3, "U3"), (15, "U15"), (30, "N30")])
        snap_merge_mor(spark, table, src, ["k"])
        got = dict(_rows(spark, table))
        assert got[3] == "U3" and got[15] == "U15" and got[30] == "N30"
        assert got[4] == "a4" and len(got) == 21
        assert snap_count(table) == 21 == snap_read(spark, table).count()

    def test_zero_data_files_move(self, spark, table):
        from qurio_spark.plans.snapshots import snap_merge_mor

        m1 = _read_manifest(table, 1)
        names = {
            e["name"]: os.path.getmtime(os.path.join(table, e["name"]))
            for e in _manifest_entries(table, m1)
        }
        v = snap_merge_mor(spark, table, _kv(spark, [(3, "U3")]), ["k"])
        m2 = _read_manifest(table, v)
        after = {e["name"] for e in _manifest_entries(table, m2)}
        # every parent file still referenced, byte-untouched
        for n, mt in names.items():
            assert n in after
            assert os.path.getmtime(os.path.join(table, n)) == mt
        assert m2["dv_rows"] == 1

    def test_key_matching_only_deleted_rows_inserts(self, spark, table):
        from qurio_spark.plans.snapshots import snap_merge_mor

        snap_delete_where_mor(spark, table, "k", lo=3, hi=3)
        v = snap_merge_mor(spark, table, _kv(spark, [(3, "back")]), ["k"])
        got = _rows(spark, table)
        assert got.count((3, "back")) == 1 and (3, "a3") not in got
        # no duplicate vector entry was written for the dead row
        assert _read_manifest(table, v)["dv_rows"] == 1
        assert snap_count(table) == 20 == snap_read(spark, table).count()

    def test_duplicate_matched_raises(self, spark, table):
        from qurio_spark.plans.snapshots import snap_merge_mor

        with pytest.raises(ValueError, match="multiple source rows"):
            snap_merge_mor(
                spark, table, _kv(spark, [(3, "x"), (3, "y")]), ["k"]
            )

    def test_materialize_folds_merge_vectors(self, spark, table):
        from qurio_spark.plans.snapshots import (
            snap_materialize_dvs,
            snap_merge_mor,
        )

        snap_merge_mor(spark, table, _kv(spark, [(3, "U3")]), ["k"])
        before = _rows(spark, table)
        vm = snap_materialize_dvs(spark, table)
        assert vm is not None
        assert "dvs" not in _read_manifest(table, vm)
        assert _rows(spark, table) == before
        assert snap_count(table) == 20 == snap_read(spark, table).count()

    def test_txn_and_schema_evolution(self, spark, table):
        from qurio_spark.plans.snapshots import snap_merge_mor

        snap_append_txn(_kv(spark, [(40, "t")]), table, "app", 9)
        src = _kv(spark, [(3, "U3")], {"extra": F.lit(1)})
        snap_merge_mor(spark, table, src, ["k"])
        df = snap_read(spark, table)
        assert "extra" in df.columns
        assert (
            snap_append_txn(_kv(spark, [(41, "t")]), table, "app", 9) is None
        )


def test_concurrent_merges_both_land(spark, tmp_path):
    """Two merges racing the same table with disjoint key sets: the
    loser's OCC retry must re-run discovery against the winner's
    version — both sources land, nothing is lost or duplicated."""
    import threading

    path = str(tmp_path / "t")
    snap_append(
        _kv(spark, [(i, f"a{i}") for i in range(20)]).repartition(2), path
    )
    srcs = [
        [(1, "L1"), (3, "L3"), (100, "LN")],
        [(2, "R2"), (4, "R4"), (200, "RN")],
    ]
    errs = []

    def run(rows):
        try:
            snap_merge(spark, path, _kv(spark, rows), ["k"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=run, args=(s,)) for s in srcs]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    got = dict(_rows(spark, path))
    assert got[1] == "L1" and got[3] == "L3" and got[100] == "LN"
    assert got[2] == "R2" and got[4] == "R4" and got[200] == "RN"
    assert got[0] == "a0" and len(got) == 22
    assert snap_count(path) == 22


class TestMergeTypeWidening:
    """MERGE composes with type-widening schema evolution: a wider
    source widens the table schema (narrow survivor rewrites and old
    files up-convert at scan), a narrower source keeps the pinned
    wider type, and lossy changes still refuse before any commit."""

    def test_wider_source_widens_then_narrow_source_keeps(
        self, spark, tmp_path
    ):
        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_merge,
            snap_read,
        )

        path = str(tmp_path / "mergewiden")
        snap_append(
            spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), path
        )
        snap_merge(
            spark, path,
            spark.createDataFrame([(2, 1 << 40), (3, 30)], "k long, v long"),
            ["k"],
        )
        cur = snap_read(spark, path)
        assert dict(cur.dtypes) == {"k": "bigint", "v": "bigint"}
        assert sorted((r["k"], r["v"]) for r in cur.collect()) == [
            (1, 10), (2, 1 << 40), (3, 30),
        ]
        # narrow source after the widening: pinned wider type wins
        snap_merge(
            spark, path,
            spark.createDataFrame([(4, 40)], "k int, v int"), ["k"],
        )
        cur = snap_read(spark, path)
        assert dict(cur.dtypes) == {"k": "bigint", "v": "bigint"}
        assert sorted((r["k"], r["v"]) for r in cur.collect()) == [
            (1, 10), (2, 1 << 40), (3, 30), (4, 40),
        ]
        # time travel: v0 keeps its narrow types
        assert dict(snap_read(spark, path, 0).dtypes) == {
            "k": "int", "v": "int",
        }

    def test_incompatible_source_type_refused(self, spark, tmp_path):
        import pytest as _pytest

        from qurio_spark.plans.snapshots import (
            snap_append,
            snap_merge,
            snap_versions,
        )

        path = str(tmp_path / "mergewidenbad")
        snap_append(spark.createDataFrame([(1, 10)], "k int, v int"), path)
        with _pytest.raises(ValueError, match="cannot change column"):
            snap_merge(
                spark, path,
                spark.createDataFrame([(2, "x")], "k int, v string"), ["k"],
            )
        assert len(snap_versions(path)) == 1  # nothing committed
