"""Manifest-level bloom skipping (plans/snapshots._attach_blooms +
snap_scan_files(eq=)): per-file bloom filters recorded at commit make
EQUALITY predicates on high-cardinality unsorted columns prunable —
the point-lookup case where min/max stats span everything.

Pins: exactness (a kept-file scan still returns exactly the matching
rows; a bloom can only produce false KEEPS, never false drops), the
false-positive bound at the written fpp, the not-skippable posture for
unbloomed files, sizing ∝ file rows, and sidecar vacuum lifecycle.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans.snapshots import (
    _read_manifest,
    snap_append,
    snap_read,
    snap_scan_files,
    snap_scan_multi,
    snap_vacuum,
)


def _docs(spark, lo, hi):
    """High-cardinality unsorted string ids (sha2 — every file's
    [min, max] range spans essentially the whole key space)."""
    return spark.range(lo, hi).select(
        F.concat(
            F.lit("doc-"), F.sha2(F.col("id").cast("string"), 256)
        ).alias("doc_id"),
        F.col("id").alias("payload"),
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bloom") / "t")
    snap_append(_docs(spark, 0, 4000).repartition(8), path,
                bloom_cols=["doc_id"])
    snap_append(_docs(spark, 4000, 6000).repartition(4), path,
                bloom_cols=["doc_id"])
    return path


def _id_of(spark, payload):
    return (
        _docs(spark, payload, payload + 1).select("doc_id").first()[0]
    )


def test_point_lookup_prunes_to_one_file(spark, table):
    total = len(snap_scan_files(table, {}))
    assert total == 12
    target = _id_of(spark, 1234)
    kept = snap_scan_files(table, {}, spark=spark, eq={"doc_id": target})
    # the true file plus at most a false positive or two at fpp=0.01
    assert 1 <= len(kept) <= 2
    rows = snap_scan_multi(spark, table, {}, eq={"doc_id": target}).collect()
    assert [r["payload"] for r in rows] == [1234]


def test_absent_key_reads_nothing(spark, table):
    kept = snap_scan_files(
        table, {}, spark=spark, eq={"doc_id": "doc-definitely-absent"}
    )
    assert kept == []
    assert (
        snap_scan_multi(
            spark, table, {}, eq={"doc_id": "doc-definitely-absent"}
        ).count()
        == 0
    )


def test_false_positive_rate_at_fpp(spark, table):
    """Probe 50 absent keys: expected false keeps per probe is
    ~fpp * 12 files = 0.12; assert a generous 6x envelope so the test
    never flakes while still catching a broken hash or sizing."""
    false_keeps = 0
    for i in range(50):
        kept = snap_scan_files(
            table, {}, spark=spark, eq={"doc_id": f"doc-absent-{i}"}
        )
        false_keeps += len(kept)
    assert false_keeps <= 36, false_keeps


def test_no_false_drops_exhaustive(spark, table):
    """Every present key's file is kept — blooms can only over-keep.
    Checked for a deterministic sample of 20 keys."""
    for p in range(0, 6000, 300):
        target = _id_of(spark, p)
        rows = snap_scan_multi(
            spark, table, {}, eq={"doc_id": target}
        ).collect()
        assert [r["payload"] for r in rows] == [p], p


def test_unbloomed_files_never_excluded(spark, table, tmp_path):
    """A file without a bloom is never skippable.  Since r11 a plain
    append to a bloomed table inherits the property, so the mixed
    state is built the other way round: the FIRST commit is plain
    (no table property yet), the second turns blooming on — the
    first commit's file stays bloomless and must always survive."""
    path = str(tmp_path / "mixed")
    snap_append(_docs(spark, 100, 200).coalesce(1), path)  # no bloom
    snap_append(_docs(spark, 0, 100).coalesce(1), path,
                bloom_cols=["doc_id"])
    kept = snap_scan_files(
        path, {}, spark=spark, eq={"doc_id": "doc-absent"}
    )
    # the bloomed file drops, the unbloomed one must survive
    assert len(kept) == 1
    target = _id_of(spark, 150)
    rows = snap_scan_multi(spark, path, {}, eq={"doc_id": target}).collect()
    assert [r["payload"] for r in rows] == [150]


def test_bloom_sized_from_file_rows(spark, tmp_path):
    path = str(tmp_path / "sized")
    snap_append(_docs(spark, 0, 10).coalesce(1), path, bloom_cols=["doc_id"])
    snap_append(
        _docs(spark, 10, 5010).coalesce(1), path, bloom_cols=["doc_id"]
    )
    m = _read_manifest(path, 1)
    from qurio_spark.plans.snapshots import _manifest_entries

    entries = _manifest_entries(path, m)
    # every geometry hashes at the canonical type (the probe assumes it)
    assert all(e["bloom"]["cols"]["doc_id"]["canon"] is True for e in entries)
    geoms = sorted(e["bloom"]["cols"]["doc_id"]["m"] for e in entries)
    assert geoms[0] >= 64 and geoms[1] >= 400 * geoms[0] // 10


def test_eq_composes_with_range_preds(spark, table):
    target = _id_of(spark, 2345)
    hit = snap_scan_multi(
        spark, table, {"payload": (2000, 3000)}, eq={"doc_id": target}
    )
    assert [r["payload"] for r in hit.collect()] == [2345]
    miss = snap_scan_multi(
        spark, table, {"payload": (0, 1000)}, eq={"doc_id": target}
    )
    assert miss.count() == 0


def test_eq_probe_guards(spark, table):
    with pytest.raises(ValueError, match="NULL"):
        snap_scan_files(table, {}, spark=spark, eq={"doc_id": None})
    # in-range probe value: range stats can't disprove it, so the
    # bloom probe (which needs spark) would actually run
    with pytest.raises(ValueError, match="SparkSession"):
        snap_scan_files(table, {}, eq={"doc_id": "doc-aaaa"})
    # out-of-range value: range pruning alone empties the scan — no
    # bloom probe runs, so no SparkSession is needed (ADVICE r10)
    assert snap_scan_files(table, {}, eq={"doc_id": "zzz"}) == []


def test_eq_without_bloom_needs_no_spark(spark, table):
    """ADVICE r10: eq pruning on a column NO surviving entry carries a
    bloom for must not demand the SparkSession — the range-stats point
    check [v, v] already ran and suffices."""
    # payload has min/max stats but no bloom: range pruning works
    # sparkless, and an out-of-range point prunes everything
    kept = snap_scan_files(table, {}, eq={"payload": 1234})
    assert len(kept) >= 1
    assert snap_scan_files(table, {}, eq={"payload": 10_000_000}) == []
    # a bloomed column still demands spark even mixed with a plain one
    with pytest.raises(ValueError, match="SparkSession"):
        snap_scan_files(
            table, {}, eq={"payload": 1234, "doc_id": "doc-aaaa"}
        )


def test_null_values_skipped_in_build(spark, tmp_path):
    path = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3)], "doc_id string, payload long"
    )
    snap_append(df.coalesce(1), path, bloom_cols=["doc_id"])
    rows = snap_scan_multi(spark, path, {}, eq={"doc_id": "b"}).collect()
    assert [r["payload"] for r in rows] == [3]
    # NULL-id rows are untouched in the table itself
    assert snap_read(spark, path).count() == 3


def test_vacuum_collects_retired_sidecars(spark, tmp_path):
    path = str(tmp_path / "vac")
    snap_append(_docs(spark, 0, 100).coalesce(1), path,
                bloom_cols=["doc_id"])
    from qurio_spark.plans.snapshots import snap_overwrite

    bloom_dir = os.path.join(path, "bloom")
    first = set(os.listdir(bloom_dir))
    assert len(first) == 1
    snap_overwrite(_docs(spark, 0, 50).coalesce(1), path,
                   bloom_cols=["doc_id"])
    # v0's sidecar still referenced while v0 is retained
    assert snap_vacuum(path, keep_last=2, grace_seconds=0.0) == []
    assert first <= set(os.listdir(bloom_dir))
    deleted = snap_vacuum(path, keep_last=1, grace_seconds=0.0)
    assert {d for d in deleted if d.startswith("bloom/")} == {
        f"bloom/{f}" for f in first
    }
    # the surviving version's sidecar still probes correctly
    kept = snap_scan_files(
        path, {}, spark=spark, eq={"doc_id": "doc-absent"}
    )
    assert kept == []


def test_in_list_prunes_union_of_files(spark, table):
    """eq={col: [v1, v2]}: a file survives when ANY listed value might
    be present — the pruned set is the union of the per-value keeps,
    and the residual isin keeps results exact."""
    a, b = _id_of(spark, 7), _id_of(spark, 4321)
    only_a = set(snap_scan_files(table, {}, spark=spark, eq={"doc_id": a}))
    only_b = set(snap_scan_files(table, {}, spark=spark, eq={"doc_id": b}))
    both = set(
        snap_scan_files(table, {}, spark=spark, eq={"doc_id": [a, b]})
    )
    assert only_a | only_b <= both
    # far fewer than the table's 12 files
    assert len(both) < 12
    rows = snap_scan_multi(
        spark, table, {}, eq={"doc_id": [a, b]}
    ).collect()
    assert sorted(r["payload"] for r in rows) == [7, 4321]


def test_in_list_all_absent_reads_nothing(spark, table):
    kept = snap_scan_files(
        table, {}, spark=spark, eq={"doc_id": ["nope-1", "nope-2"]}
    )
    assert kept == []


def test_in_list_guards(spark, table):
    with pytest.raises(ValueError, match="empty or None"):
        snap_scan_files(table, {}, spark=spark, eq={"doc_id": []})
    with pytest.raises(ValueError, match="empty or None"):
        snap_scan_files(table, {}, spark=spark, eq={"doc_id": ["x", None]})


class TestBloomSurvivesDml:
    """r11: bloom_cols is a TABLE-level property recorded in the
    manifest — DML rewrites re-derive blooms for the files they write,
    so point-lookup pruning does not silently degrade as a bloomed
    table is mutated (found at 6M rows, SCALE.md "Round 11: storage DML
    one decade up": before this, every merged/rewritten file was
    forever unprunable)."""

    def _mk(self, spark, lo, hi, v=0.0):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("doc_id"),
            F.lit(v).alias("payload"),
        )

    def _table(self, spark, tmp_path):
        path = str(tmp_path / "dml")
        snap_append(
            self._mk(spark, 0, 4000).repartitionByRange(6, "k"),
            path, bloom_cols=["doc_id"],
        )
        return path

    def _target(self, spark, payload):
        return (
            self._mk(spark, payload, payload + 1)
            .select("doc_id").first()[0]
        )

    def _all_bloomed(self, path):
        from qurio_spark.plans.snapshots import (
            _latest_version,
            _manifest_entries,
            _read_manifest,
        )

        m = _read_manifest(path, _latest_version(path))
        es = _manifest_entries(path, m)
        return m.get("bloom_cols"), sum(
            1 for e in es if (e.get("bloom") or {}).get("cols", {}).get("doc_id")
        ), len(es)

    def test_merge_append_delete_compact_keep_blooming(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import (
            snap_compact,
            snap_delete_where,
            snap_merge,
            snap_read,
        )

        path = self._table(spark, tmp_path)
        snap_merge(
            spark, path, self._mk(spark, 2000, 2040, -1.0).coalesce(1),
            keys=["k"],
        )
        cols, bloomed, total = self._all_bloomed(path)
        assert cols == ["doc_id"] and bloomed == total
        # plain append (no bloom_cols arg) inherits the table property
        snap_append(self._mk(spark, 50_000, 50_100).coalesce(1), path)
        cols, bloomed, total = self._all_bloomed(path)
        assert cols == ["doc_id"] and bloomed == total
        # CoW delete rewrites keep blooming
        snap_delete_where(spark, path, "k", lo=100, hi=120)
        cols, bloomed, total = self._all_bloomed(path)
        assert cols == ["doc_id"] and bloomed == total
        # compaction repack keeps blooming
        snap_compact(spark, path, small_bytes=64 << 20)
        cols, bloomed, total = self._all_bloomed(path)
        assert cols == ["doc_id"] and bloomed == total
        # and the point lookup still prunes on the mutated table
        target = self._target(spark, 3500)
        kept = snap_scan_files(path, {}, spark=spark, eq={"doc_id": target})
        assert len(kept) <= 2
        got = snap_scan_multi(spark, path, {}, eq={"doc_id": target})
        assert [r["k"] for r in got.collect()] == [3500]
        # correctness floor: merged key's row reflects the merge
        assert (
            snap_read(spark, path).filter(F.col("k") == 2000)
            .first()["payload"] == -1.0
        )

    def test_bloom_survives_type_widening(self, spark, tmp_path):
        """ADVICE r11 (high): blooms hash at ONE canonical type per
        family, so an int->long widening append leaves pre- and
        post-widening files probeable by the same literal — before
        the canon pin, xxhash64(5 INT) != xxhash64(5 BIGINT) meant
        eq-probes silently excluded pre-widening files that held
        matching rows."""
        path = str(tmp_path / "widen")
        ints = spark.range(0, 4000).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").alias("payload"),
        )
        snap_append(ints.repartition(4), path, bloom_cols=["k"])
        longs = spark.range(4000, 6000).select(
            F.col("id").alias("k"),  # bigint — widens the pinned type
            F.col("id").alias("payload"),
        )
        snap_append(longs.repartition(2), path)  # inherits bloom_cols
        # probe a value that lives in a PRE-widening file: range stats
        # can't skip (every file's [min,max] spans it is false here —
        # k is sorted-ish, so pick values and assert exact results)
        for probe in (1234, 5678):
            rows = snap_scan_multi(
                spark, path, {}, eq={"k": probe}
            ).collect()
            assert [r["payload"] for r in rows] == [probe], probe
        # float->double widening, same guarantee
        fpath = str(tmp_path / "widenf")
        floats = spark.range(0, 1000).select(
            (F.col("id") * 0.5).cast("float").alias("v"),
            F.col("id").alias("payload"),
        )
        snap_append(floats.coalesce(1), fpath, bloom_cols=["v"])
        doubles = spark.range(1000, 2000).select(
            (F.col("id") * 0.5).alias("v"),
            F.col("id").alias("payload"),
        )
        snap_append(doubles.coalesce(1), fpath)
        # 21.0 is exactly representable as float: lives pre-widening
        rows = snap_scan_multi(spark, fpath, {}, eq={"v": 21.0}).collect()
        assert [r["payload"] for r in rows] == [42]

    def test_long_column_bloom_probed_with_small_int(self, spark, tmp_path):
        """The canon pin also fixes the UNwidened case: a bigint
        column's bloom hashed at long, but a small Python int literal
        naturally infers INT — before the pin every such probe
        false-dropped all files."""
        path = str(tmp_path / "longcol")
        df = spark.range(0, 2000).select(
            F.col("id").alias("k"), F.col("id").alias("payload")
        )
        snap_append(df.repartition(3), path, bloom_cols=["k"])
        rows = snap_scan_multi(spark, path, {}, eq={"k": 777}).collect()
        assert [r["payload"] for r in rows] == [777]

    def test_overwrite_resets_bloom_property(self, spark, tmp_path):
        from qurio_spark.plans.snapshots import snap_overwrite

        path = self._table(spark, tmp_path)
        snap_overwrite(self._mk(spark, 0, 100).coalesce(1), path)
        cols, bloomed, total = self._all_bloomed(path)
        assert cols is None and bloomed == 0
        # ...and a later append to the overwritten table stays plain
        snap_append(self._mk(spark, 100, 200).coalesce(1), path)
        cols, bloomed, total = self._all_bloomed(path)
        assert cols is None and bloomed == 0

    @pytest.mark.parametrize("txn", [False, True])
    def test_append_lacking_a_bloom_column_keeps_the_property(
        self, spark, tmp_path, txn
    ):
        """A plain append whose batch lacks one of the table's bloom
        columns blooms what it has and leaves the table property
        whole: a later batch that carries the column blooms it again,
        so eq-probes keep pruning its files."""
        from qurio_spark.plans.snapshots import (
            _latest_version,
            _manifest_entries,
            snap_append_txn,
        )

        def append(df, batch):
            if txn:
                return snap_append_txn(df, path, "app", batch)
            return snap_append(df, path)

        path = str(tmp_path / "narrow")
        both = spark.range(0, 100).select(
            F.col("id").alias("a"), (F.col("id") * 7).alias("b")
        )
        snap_append(both.coalesce(1), path, bloom_cols=["a", "b"])
        append(spark.range(100, 200).select(F.col("id").alias("a")), 0)
        assert _read_manifest(path, 1)["bloom_cols"] == ["a", "b"]
        append(
            spark.range(200, 300).select(
                F.col("id").alias("a"), (F.col("id") * 7).alias("b")
            ).coalesce(1),
            1,
        )
        m = _read_manifest(path, _latest_version(path))
        assert m["bloom_cols"] == ["a", "b"]
        last = [
            e for e in _manifest_entries(path, m)
            if os.path.basename(e["name"]).startswith("c2-")
        ]
        assert last and all(
            set(e["bloom"]["cols"]) == {"a", "b"} for e in last
        )
        names = {e["name"] for e in last}
        hit = snap_scan_files(path, {}, spark=spark, eq={"b": 250 * 7})
        assert names <= set(hit)
        # in the last batch's b range but absent: its bloom prunes it
        miss = snap_scan_files(path, {}, spark=spark, eq={"b": 1401})
        assert not names & set(miss)
