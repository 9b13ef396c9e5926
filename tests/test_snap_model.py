"""Model-based randomized test of the snapshot DML surface.

Every mutation the table format offers, interleaved in seeded-random
order, checked after EVERY step against a plain Python dict model:
  - table contents == model (k -> val)
  - snap_count == len(model)  (the metadata-only count never drifts)
  - every retained version and per-commit manifest has the one shape
    the writers produce, the only shape the readers handle
  - maintenance ops (compact / materialize / restore / vacuum) are
    content-preserving exactly where the model says they are.

Single-operation tests pin each op's contract in isolation; this test
exists for the INTERACTIONS — a CoW rewrite racing a stale DV ledger,
a merge over a file a restore resurrected, a compact after stacked MOR
deletes — the combinations no hand-written case enumerates.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from qurio_spark.plans.commitstore import store_for
from qurio_spark.plans.snapshots import (
    _read_manifest,
    _read_manifest_file,
    snap_append,
    snap_compact,
    snap_count,
    snap_delete_where,
    snap_delete_where_mor,
    snap_materialize_dvs,
    snap_merge,
    snap_merge_mor,
    snap_read,
    snap_rename_column,
    snap_restore,
    snap_update_where,
    snap_versions,
)

KEYSPACE = 60


def _frame(spark, rows, key_col="k", val_col="val"):
    return spark.createDataFrame(rows, f"{key_col} int, {val_col} string")


def _table_state(spark, path, key_col="k", val_col="val"):
    return {
        r[key_col]: r[val_col]
        for r in snap_read(spark, path).select(key_col, val_col).collect()
    }


def _assert_manifest_shape(path):
    """Each retained ``v{N}.json`` lists its per-commit manifests and
    carries ``schema`` and ``ts``, with a ``dv_counts`` ledger exactly
    when it has ``dvs``; each listed ``m-*.json`` entry is a dict with
    ``name``/``stats``/``nulls``/``rows``."""
    for f in store_for(path).list(path):
        if not (f.startswith("v") and f.endswith(".json")):
            continue
        m = _read_manifest(path, int(f[1:-5]))
        assert "manifests" in m and "files" not in m, (f, m)
        assert m.get("schema") and "ts" in m, (f, m)
        assert ("dvs" in m) == ("dv_counts" in m), (f, m)
        for name in m["manifests"]:
            for e in _read_manifest_file(path, name):
                assert isinstance(e, dict), (f, name, e)
                assert {"name", "stats", "nulls", "rows"} <= e.keys(), (f, name, e)


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_random_dml_interleaving_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    path = str(tmp_path / "t")
    model: dict[int, str] = {}
    tick = 0
    # column-mapping renames rotate the LOGICAL names mid-history;
    # every later op must address the current names, and a full
    # restore rewinds them with the schema
    key_col, val_col = "k", "val"

    def fresh_rows(n):
        nonlocal tick
        out = []
        for _ in range(n):
            k = rng.randrange(KEYSPACE)
            tick += 1
            out.append((k, f"v{tick}"))
        # unique keys per batch (merge refuses matched duplicates;
        # the model is a dict) — keep the last write per key
        return list({k: (k, v) for k, v in out}.values())

    # bootstrap
    rows = fresh_rows(15)
    snap_append(_frame(spark, rows), path)
    model.update({k: v for k, v in rows})

    bootstrap_model = dict(model)
    ops = []

    def check(op):
        ops.append(op)
        got = _table_state(spark, path, key_col, val_col)
        assert got == model, f"after {ops[-6:]}: {got} != {model}"
        assert snap_count(path) == len(model), f"count drift after {ops[-6:]}"
        _assert_manifest_shape(path)

    for step in range(24):
        op = rng.choice(
            ["append", "delete_cow", "delete_mor", "merge", "merge_mor",
             "update", "compact", "materialize", "restore", "vacuum",
             "rename"]
        )
        if op == "append":
            rows = [
                (k, v)
                for k, v in fresh_rows(rng.randrange(1, 6))
                if k not in model  # appends must not duplicate keys
            ]
            if not rows:
                continue
            snap_append(_frame(spark, rows, key_col, val_col), path)
            model.update({k: v for k, v in rows})
        elif op in ("delete_cow", "delete_mor"):
            lo = rng.randrange(KEYSPACE)
            hi = min(KEYSPACE, lo + rng.randrange(1, 12))
            fn = snap_delete_where if op == "delete_cow" else snap_delete_where_mor
            fn(spark, path, key_col, lo=lo, hi=hi)
            for k in list(model):
                if lo <= k <= hi:
                    del model[k]
        elif op in ("merge", "merge_mor"):
            rows = fresh_rows(rng.randrange(1, 6))
            fn = snap_merge if op == "merge" else snap_merge_mor
            fn(spark, path, _frame(spark, rows, key_col, val_col), [key_col])
            model.update({k: v for k, v in rows})
        elif op == "update":
            lo = rng.randrange(KEYSPACE)
            hi = min(KEYSPACE, lo + rng.randrange(1, 12))
            suffix = f"-u{step}"
            snap_update_where(
                spark, path,
                {val_col: F.concat(F.col(val_col), F.lit(suffix))},
                key_col, lo=lo, hi=hi,
            )
            for k in model:
                if lo <= k <= hi:
                    model[k] = model[k] + suffix
        elif op == "compact":
            snap_compact(spark, path, small_bytes=1 << 20)
        elif op == "materialize":
            snap_materialize_dvs(spark, path)
        elif op == "restore":
            # rewind to a version whose model is known: the bootstrap
            # state (full rewind — only while v0 is still retained;
            # after a vacuum the oldest RETAINED version is not the
            # bootstrap) or the current latest (a content-identical
            # commit) — both then mutate onward
            versions = snap_versions(path)
            if rng.random() < 0.5 and versions[0]["version"] == 0:
                snap_restore(path, 0)
                model = dict(bootstrap_model)
                # restore rewinds the SCHEMA too: logical names and
                # tombstones are v0's again
                key_col, val_col = "k", "val"
            else:
                snap_restore(path, versions[-1]["version"])
        elif op == "rename":
            # rotate a logical name (never reused across steps, so
            # tombstones and full restores cannot collide)
            if rng.random() < 0.5:
                new = f"kk{step}"
                snap_rename_column(path, key_col, new)
                key_col = new
            else:
                new = f"vv{step}"
                snap_rename_column(path, val_col, new)
                val_col = new
        elif op == "vacuum":
            from qurio_spark.plans.snapshots import snap_vacuum

            snap_vacuum(
                path, keep_last=rng.randrange(1, 4), grace_seconds=0.0
            )
        check(op)
    assert len(ops) >= 15  # the loop actually exercised the surface
