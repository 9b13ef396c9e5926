"""Z-order clustering layout (plans/zorder).

Pins the interleave math and the observable effect: after a z-ordered
snapshot write, a tight predicate on EITHER (or both) participating
columns prunes to a small fraction of files, where a single-column
layout localizes only its own column.
"""

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans.zorder import with_zvalue, zvalue_expr

N_FILES = 16


@pytest.fixture(scope="module")
def grid(spark):
    # 100x100 integer grid — two independent uniform dimensions
    return (
        spark.range(10_000)
        .select(
            (F.col("id") % 100).alias("x"),
            (F.col("id") / 100).cast("long").alias("y"),
            F.col("id").alias("payload"),
        )
        .cache()
    )


class TestZValue:
    def test_interleave_positions(self, spark):
        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (0, 2)], "a long, b long"
        )
        norm = [F.col("a"), F.col("b")]  # already small ints
        got = {
            (r["a"], r["b"]): r["z"]
            for r in df.select(
                "a", "b", zvalue_expr(norm, bits=4).alias("z")
            ).collect()
        }
        # bit b of col i -> position b*2+i: a contributes 1,4,16..; b 2,8,32..
        assert got[(0, 0)] == 0
        assert got[(1, 0)] == 1
        assert got[(0, 1)] == 2
        assert got[(1, 1)] == 3
        assert got[(2, 0)] == 4
        assert got[(0, 2)] == 8

    def test_bit_budget_guard(self, spark, grid):
        """bits * columns > 63 would overflow LongType bit positions —
        rejected up front rather than corrupting z-values."""
        import pytest
        from qurio_spark.plans.zorder import with_zvalue

        with pytest.raises(ValueError, match="bit budget"):
            with_zvalue(grid, ["x", "y"], bits=32)
        with pytest.raises(ValueError, match="bit budget"):
            with_zvalue(grid, ["x", "y", "payload"], bits=22)
        # boundary: 3 * 21 = 63 is fine
        with_zvalue(grid, ["x", "y", "payload"], bits=21).limit(1).collect()

    def test_with_zvalue_normalizes_and_preserves_rows(self, spark, grid):
        z = with_zvalue(grid, ["x", "y"], bits=8)
        rows = z.count()
        assert rows == 10_000
        stats = z.agg(F.min("_z"), F.max("_z")).first()
        assert stats[0] >= 0 and stats[1] < (1 << 16)
        # corners: (0,0) -> minimal z, (99,99) -> maximal z
        corner = {(r["x"], r["y"]): r["_z"] for r in z.filter(
            ((F.col("x") == 0) & (F.col("y") == 0))
            | ((F.col("x") == 99) & (F.col("y") == 99))
        ).collect()}
        assert corner[(0, 0)] == stats[0] and corner[(99, 99)] == stats[1]

    def test_column_count_bounds(self, spark, grid):
        with pytest.raises(ValueError):
            with_zvalue(grid, [])
        with pytest.raises(ValueError):
            with_zvalue(grid, ["x", "y", "payload", "x"])


class TestSnapshotZOrder:
    """zorder_by on snapshot writes: manifest-level skipping becomes
    effective on EVERY participating column (snap_scan_files is the
    observable), and OPTIMIZE-style compaction re-clusters."""

    @pytest.fixture(scope="class")
    def tables(self, spark, grid, tmp_path_factory):
        from qurio_spark.plans.snapshots import snap_overwrite

        d = tmp_path_factory.mktemp("zsnap")
        zp, xp = str(d / "z"), str(d / "x")
        g = grid.repartition(N_FILES)
        snap_overwrite(g, zp, zorder_by=["x", "y"])
        # baseline: single-column range layout
        snap_overwrite(
            g.repartitionByRange(N_FILES, "x").sortWithinPartitions("x"), xp
        )
        return zp, xp

    def test_manifest_prunes_both_dimensions(self, spark, tables):
        from qurio_spark.plans.snapshots import snap_scan_files

        zp, xp = tables
        total = len(snap_scan_files(zp, {}))
        assert total >= N_FILES // 2
        # x-only layout: y predicate prunes (almost) nothing
        assert len(snap_scan_files(xp, {"x": (10, 19)})) <= 4
        assert len(snap_scan_files(xp, {"y": (40, 49)})) >= N_FILES - 2
        # z-ordered: BOTH dimensions prune, conjunction prunes hardest
        zx = len(snap_scan_files(zp, {"x": (10, 19)}))
        zy = len(snap_scan_files(zp, {"y": (40, 49)}))
        zb = len(snap_scan_files(zp, {"x": (10, 19), "y": (40, 49)}))
        assert zx <= total // 2, zx
        assert zy <= total // 2, zy
        assert zb <= 4, zb

    def test_multi_scan_exact_on_any_layout(self, spark, grid, tables):
        from qurio_spark.plans.snapshots import snap_scan_multi

        expect = grid.filter(
            F.col("x").between(10, 19) & F.col("y").between(40, 49)
        ).agg(F.count("*"), F.sum("payload")).first()
        for path in tables:
            got = snap_scan_multi(
                spark, path, {"x": (10, 19), "y": (40, 49)}
            ).agg(F.count("*"), F.sum("payload")).first()
            assert tuple(got) == tuple(expect)

    def test_compact_zorder_reclusters(self, spark, grid, tmp_path):
        """The OPTIMIZE ZORDER shape: many small unclustered appends,
        one compaction pass -> multi-dimensionally skippable files,
        rows unchanged."""
        from qurio_spark.plans.snapshots import (
            snap_compact,
            snap_read,
            snap_scan_files,
        )

        path = str(tmp_path / "t")
        for i in range(4):
            snap_append_chunk = grid.filter(F.col("payload") % 4 == i)
            from qurio_spark.plans.snapshots import snap_append

            snap_append(snap_append_chunk.repartition(4), path)
        before = len(snap_scan_files(path, {"y": (40, 49)}))
        v = snap_compact(
            spark, path, small_bytes=1 << 20, zorder_by=["x", "y"]
        )
        assert v is not None
        total = len(snap_scan_files(path, {}))
        after = len(snap_scan_files(path, {"y": (40, 49)}))
        assert after < before and after <= max(1, total // 2)
        assert snap_read(spark, path).agg(F.sum("payload")).first()[0] == (
            grid.agg(F.sum("payload")).first()[0]
        )
