"""Snapshot table format: versioned manifests over immutable parquet —
time travel, atomic visibility, and safe vacuum without a table-format
dependency.

Plain ``mode("append")`` parquet gives readers no isolation (a reader
listing mid-write sees half a commit), no history, and no safe way to
delete: the directory IS the table.  The lakehouse fix (Delta/Iceberg)
is to make the MANIFEST the table: data files are immutable, each
commit writes new files plus a new manifest (the authoritative file
list), and readers pin one manifest — concurrent writers never change
what an open reader sees.  This module is that idea at its smallest:

  - ``<path>/data/c{N}-*.parquet``  immutable data files, never edited
  - ``<path>/_manifests/v{N}.json`` file list + op + parent version
  - ``<path>/_manifests/_latest``   current version (atomic rename)

``snap_append`` adds files to the previous manifest's list;
``snap_overwrite`` starts a fresh list (old files stay on disk for
time travel until vacuumed).  ``snap_read(version=...)`` reads any
retained version; ``snap_vacuum`` deletes only files unreachable from
the retained manifests.  Commits are atomic for readers via
write-temp-then-rename of the manifest pointer.

TWO-LEVEL manifests (the Iceberg shape): each commit writes ONE
immutable per-commit manifest file (``m-<uuid>.json`` — that commit's
file entries + their skipping stats) and the version file
``v{N}.json`` is a MANIFEST LIST: the names of every manifest the
version comprises.  Commit cost is therefore O(delta files + number
of prior commits), not O(total table files): a parent's manifests are
carried forward BY NAME, byte-untouched (mtime-pinned in tests).

Concurrency: every commit runs ONE optimistic loop, ``_occ_commit``:
compute the commit against the head version, claim the next version
file with the commit store's PUT-IF-ABSENT, and on a lost claim back
off and recompute against the new head.  Appended data files are
written once (uuid-unique names) regardless of retries.  The
``_latest`` pointer only moves forward and readers roll it ahead
over any version files a crashed writer left unpointed.  All commit METADATA goes through a pluggable CommitStore
(plans/commitstore.py — the Delta LogStore / Iceberg catalog-swap
pattern): the default local store claims via exclusive hard link and
advances the pointer by atomic rename; object-store deployments
register a store built on the platform's conditional put
(If-None-Match / generation match), and the protocol is tested
against an in-memory fake with exactly those semantics (no links, no
rename, flat keys).
Readers are fully isolated and distributed: ``snap_read`` hands Spark
the pinned file list, so scans parallelize exactly like any parquet
read, and a version's file list never changes after commit.

Row-level mutations share one core: stats prune the files, then the
COPY-ON-WRITE step (``_cow_fields``: affected files rewrite through
``_read_files`` with the op's frame transform — delete, update,
replace, merge, materialize, compact) or the MERGE-ON-READ step
(``_mor_fields``: the matching rows' positions commit as a DELETION
VECTOR sidecar under ``dv/``, zero data movement — the ``_mor`` ops).
Readers apply vectors as an anti-join via ``_read_files``;
``snap_materialize_dvs`` folds them back into files when the
read-side tax outgrows ``maybe_materialize``'s gate.

Data skipping covers all three predicate shapes: RANGE (per-file
min/max stats in the manifest), MULTI-COLUMN boxes (``zorder_by``
writes + ``snap_scan_multi``), and EQUALITY on high-cardinality
unsorted columns (``bloom_cols`` writes per-file bloom filters to a
``bloom/`` sidecar; ``snap_scan_multi(eq=)`` probes them before any
data file opens).
"""

from __future__ import annotations

import functools
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from qurio_spark.plans.commitstore import store_for


def _mdir(path: str) -> str:
    return os.path.join(path, "_manifests")


def value_match(c, values: list):
    """Boolean Column: TRUE iff ``c``'s value is in ``values``, where
    a ``None`` element matches NULL (plain ``isin`` never matches NULL
    — SQL IN semantics — which silently exempts NULL-keyed rows from
    replace/merge predicates).  Never evaluates to SQL NULL, so the
    negation is a safe keep-filter: ``~value_match(...)`` keeps NULL
    rows exactly when ``None`` is not in ``values``."""
    from pyspark.sql import functions as F

    non_null = [v for v in values if v is not None]
    cond = c.isin(non_null) if non_null else F.lit(False)
    wants_null = any(v is None for v in values)
    return F.when(c.isNull(), F.lit(wants_null)).otherwise(cond)


def _latest_version(path: str) -> int | None:
    """Current version: the pointer, rolled FORWARD over any committed
    version files the pointer doesn't cover yet (a writer that crashed
    after claiming v{N}.json but before advancing the pointer, or that
    lost a pointer race, must not hide its committed version)."""
    st = store_for(path)
    v = st.read_pointer(path)
    if v is None:
        return None
    while st.exists(path, f"v{v + 1}.json"):
        v += 1
    return v


def _read_manifest(path: str, version: int) -> dict:
    return json.loads(store_for(path).read(path, f"v{version}.json"))


def _read_manifest_file(path: str, name: str) -> list[dict]:
    """Entries of ONE per-commit manifest file."""
    return json.loads(store_for(path).read(path, name))["files"]


def _write_manifest_file(path: str, entries: list[dict]) -> str:
    """Write ONE immutable per-commit manifest (this commit's file
    entries + stats) and return its name.  Never rewritten — child
    commits carry it by name (uuid-unique, so a plain unconditional
    PUT is race-safe on any store)."""
    name = f"m-{uuid.uuid4().hex}.json"
    store_for(path).put(
        path, name,
        json.dumps({"files": entries}, indent=1, sort_keys=True).encode(),
    )
    return name


def _manifest_entries(path: str, m: dict) -> list[dict]:
    """Resolve a version's full file-entry list: the concatenation of
    its per-commit manifest files."""
    out: list[dict] = []
    for name in m["manifests"]:
        out.extend(_read_manifest_file(path, name))
    return out


def _carried_manifests(path: str, m: dict | None) -> list[str]:
    """Manifest names a child commit carries forward, BY NAME (bytes
    untouched); none before the table exists."""
    return [] if m is None else list(m["manifests"])


def _try_commit(path: str, version: int, manifest: dict) -> bool:
    """Atomically CLAIM ``v{version}.json`` via the commit store's
    put-if-absent (exclusive hard link on local fs, conditional put on
    object stores) — False if another writer claimed the version
    first, and a reader can never observe a half-written version file.
    On success the pointer advances (the visibility point for
    pointer-readers).

    Every commit records its wall-clock time (``ts``) — the basis for
    TIMESTAMP-AS-OF time travel (:func:`snap_version_at`).  Commit
    times are runtime metadata, not query results, so the clock read
    is safe for deterministic replays."""
    import time as _time

    manifest = {**manifest, "ts": _time.time()}
    data = json.dumps(manifest, indent=1, sort_keys=True).encode()
    if not store_for(path).put_if_absent(path, f"v{version}.json", data):
        return False
    # forward only: a racing writer with a higher version keeps it
    store_for(path).advance_pointer(path, version)
    return True


#: commit retries under contention before giving up — each retry means
#: another writer committed first, so 50 losses in a row is pathology
_MAX_COMMIT_RETRIES = 50


def _conflict_backoff(
    attempt: int,
    base_s: float = 0.05,
    cap_s: float = 2.0,
    sleep=None,
) -> None:
    """Jittered exponential backoff between OCC retries (Delta's
    commit-conflict posture): attempt 0 is free (the first try is not
    a conflict), each loss then waits ``base * 2^(losses-1)`` capped
    at ``cap``, scaled by a uniform [0.5, 1.0) jitter so N writers
    that lost the SAME claim don't re-collide in lockstep (the
    thundering-herd livelock an immediate-retry loop invites once
    writer count exceeds ~2).  Pure wall-clock pacing — never affects
    results, so the randomness is replay-safe."""
    if attempt <= 0:
        return
    import random
    import time as _time

    delay = min(cap_s, base_s * (2 ** (attempt - 1)))
    (sleep or _time.sleep)(delay * (0.5 + 0.5 * random.random()))


def _occ_commit(path: str, attempt):
    """THE optimistic commit loop every commit of this module runs:
    ``attempt(v, m)`` gets the head version and manifest (None before
    the table exists) and returns the manifest fields to claim at
    ``v + 1``, or a non-dict result (None for a no-op) returned as is.
    The loop fills in ``version`` and ``parent`` and carries the head's
    ``txn``, ``schema`` and, for every op but ``overwrite``, its
    table-level properties unless the fields set them.  A lost claim
    re-runs the attempt against the new head after a backoff, first
    removing the deletion-vector sidecars it listed under
    ``staged_dvs`` (positions against a stale head; never recorded)."""
    for i in range(_MAX_COMMIT_RETRIES):
        _conflict_backoff(i)
        v = _latest_version(path)
        m = None if v is None else _read_manifest(path, v)
        fields = attempt(v, m)
        if not isinstance(fields, dict):
            return fields
        staged = fields.pop("staged_dvs", [])
        version = 0 if v is None else v + 1
        head = {}
        if m:
            head = {"txn": dict(m.get("txn", {})), "schema": m["schema"]}
            # table-level properties: the value-clustered marker
            # (compaction must not merge value-exact files, ADVICE r10)
            # and the bloom-column list (appends and DML rewrites bloom
            # the files they write); only an overwrite, a fresh write of
            # the whole content, resets them
            if fields.get("op") != "overwrite":
                head.update(
                    {k: m[k] for k in ("clustered", "bloom_cols") if m.get(k)}
                )
        fields.update(version=version, parent=v)
        if _try_commit(path, version, {**head, **fields}):
            return version
        for n in staged:
            try:
                os.remove(os.path.join(path, n))
            except FileNotFoundError:
                pass
    raise RuntimeError(
        f"commit contention on {path}: {_MAX_COMMIT_RETRIES} retries lost"
    )


def _file_stats(fpath: str) -> tuple[dict, dict, int]:
    """Per-file column (min/max, null-count) and the file's ROW COUNT
    from the parquet footer (json-safe columns only: ints, floats,
    strings) — the manifest-level data-skipping stats, gathered once
    at commit time from metadata the writer already produced.  Columns
    without footer statistics are simply absent (absent = not
    skippable, never wrong); a null count is recorded only when EVERY
    row group reports one (a partial count understates and would
    wrongly prove a file NULL-free)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    stats: dict = {}
    nulls: dict = {}
    no_nulls: set = set()  # columns where some row group lacks the count
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for c in range(g.num_columns):
            col = g.column(c)
            st = col.statistics
            name = col.path_in_schema
            if st is None or st.null_count is None or name in no_nulls:
                if st is None or st.null_count is None:
                    no_nulls.add(name)
                    nulls.pop(name, None)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                continue
            if not isinstance(mn, (int, float, str)):
                continue
            if name in stats:
                stats[name] = [min(stats[name][0], mn), max(stats[name][1], mx)]
            else:
                stats[name] = [mn, mx]
    return stats, nulls, md.num_rows


def _attach_blooms(
    spark: SparkSession,
    path: str,
    entries: list[dict],
    bloom_cols: list[str],
    fpp: float,
) -> list[dict]:
    """Build a per-file BLOOM FILTER over each of ``bloom_cols`` for
    the just-written entries and record it in the manifest: min/max
    stats cannot skip on a high-cardinality unsorted column (every
    file's range spans everything), which is exactly the doc_id / url
    / content_hash point-lookup case — the Parquet column-bloom /
    Iceberg puffin idea lifted to the manifest layer, where pruning
    happens before any data file is opened.

    Shape: ONE distributed pass over the new files (k xxhash64 probes
    per row, word-level ``bit_or`` partial aggregation — the shuffle
    carries ~m/64 words per file, a fraction of the data just
    written), one sidecar parquet per commit under ``bloom/`` holding
    (file, col, word_idx, word) rows.  Each entry records its bloom
    geometry {m, k} with m SIZED FROM THE FILE'S OWN ROW COUNT for
    the target ``fpp`` (never a fixed capacity constant); probes
    read just the k words per file via row-group pushdown on the
    sidecar.

    Values are hashed at ONE CANONICAL TYPE per type family (int
    ladder -> long, float -> double — ``_bloom_canon_cast``) on both
    this build pass and the probe, recorded per-column as
    ``canon: true`` in the geometry: xxhash64 hashes the same number
    differently at int vs long width, so without the pin a
    type-widening append (int->long) would leave pre- and
    post-widening files bloomed at incompatible hashes and a probe
    would silently exclude files that hold matching rows (ADVICE
    r11)."""
    import math

    from pyspark.sql import functions as F

    k = max(1, round(-math.log2(fpp)))
    geom: dict[str, int] = {}
    for e in entries:
        bits = max(1, e["rows"]) * -math.log(fpp) / (math.log(2) ** 2)
        geom[os.path.basename(e["name"])] = 64 * max(1, math.ceil(bits / 64))
    mmap = F.broadcast(
        spark.createDataFrame(
            list(geom.items()), "file string, m long"
        )
    )
    raw = spark.read.parquet(
        *[os.path.join(path, e["name"]) for e in entries]
    )
    dtypes = dict(raw.dtypes)
    base = raw.select(
        F.col("_metadata.file_name").alias("file"),
        *[F.col(c) for c in bloom_cols],
    ).join(mmap, "file")
    seeds = F.array(*[F.lit(i) for i in range(k)])
    parts = []
    for c in bloom_cols:
        parts.append(
            base.where(F.col(c).isNotNull())
            .select(
                "file", "m",
                F.explode(seeds).alias("seed"),
                _bloom_canon_cast(F.col(c), dtypes[c]).alias("val"),
            )
            .withColumn(
                "pos", F.pmod(F.xxhash64(F.col("val"), F.col("seed")), F.col("m"))
            )
            .select(
                "file",
                F.lit(c).alias("col"),
                (F.col("pos") / 64).cast("long").alias("word_idx"),
                # variable-distance shift needs the SQL form (the
                # PySpark wrapper only takes a literal distance)
                F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias(
                    "mask"
                ),
            )
        )
    words = parts[0]
    for p in parts[1:]:
        words = words.unionByName(p)
    words = words.groupBy("file", "col", "word_idx").agg(
        F.bit_or("mask").alias("word")
    )
    staging = os.path.join(path, f"_bloomstaging-{uuid.uuid4().hex}")
    # coalesce, not repartition: the sidecar wants one file, and the
    # groupBy's post-shuffle partitions merge into it without paying a
    # second full exchange (r15, guide §2.4); row order inside the
    # sidecar is irrelevant — probes read words by (file, col, word_idx)
    words.coalesce(1).write.mode("overwrite").parquet(staging)
    bloom_dir = os.path.join(path, "bloom")
    os.makedirs(bloom_dir, exist_ok=True)
    sidecar = None
    for f in sorted(os.listdir(staging)):
        src = os.path.join(staging, f)
        if f.endswith(".parquet") and sidecar is None:
            name = f"b-{uuid.uuid4().hex}.parquet"
            os.rename(src, os.path.join(bloom_dir, name))
            sidecar = f"bloom/{name}"
        else:
            os.remove(src)
    os.rmdir(staging)
    return [
        {
            **e,
            "bloom": {
                "sidecar": sidecar,
                "cols": {
                    c: {
                        "m": geom[os.path.basename(e["name"])],
                        "k": k,
                        "canon": True,
                    }
                    for c in bloom_cols
                },
            },
        }
        for e in entries
    ]


def _write_data_files(
    df: DataFrame,
    path: str,
    commit_id: int,
    cluster_by: str | None = None,
    zorder_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
) -> list[dict]:
    """Write the frame as immutable files under data/ and return their
    manifest entries ({name, stats}).  A staging dir keeps
    half-written files out of data/ listings (data/ is never listed by
    readers anyway — the manifest is authoritative — but clean dirs
    make vacuum auditable).

    ``cluster_by``: write VALUE-EXACT files for that column — each
    data file holds rows of exactly one value, so its footer stats
    are a point range and manifest-level pruning / replace_values
    classification become exact (the snapshot-table analogue of a
    partitionBy layout).  Implemented by duplicating the column and
    partitionBy-ing the duplicate (partitionBy drops its key from the
    files; the original column survives), after a repartition on the
    column so each value lands in ~one task -> ~one file.

    ``zorder_by``: MULTI-dimensional clustering — rows are laid out
    along the Morton curve of the named numeric columns
    (plans/zorder), so every file's footer [min, max] is tight on ALL
    participating columns and manifest-level skipping works for
    predicates on ANY of them (Delta's OPTIMIZE ZORDER BY).  The file
    budget follows the frame's own partition count — layout never
    changes the write's scale shape."""
    staging = os.path.join(path, f"_staging-{commit_id}-{uuid.uuid4().hex}")
    if cluster_by is not None and zorder_by is not None:
        raise ValueError("pass cluster_by OR zorder_by, not both")
    if zorder_by is not None:
        from qurio_spark.plans.zorder import with_zvalue

        n = max(1, df.rdd.getNumPartitions())
        df = (
            with_zvalue(df, zorder_by)
            .repartitionByRange(n, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    if cluster_by is None:
        df.write.mode("overwrite").parquet(staging)
        found = [(f, os.path.join(staging, f)) for f in sorted(os.listdir(staging))]
    else:
        from pyspark.sql import functions as F

        (
            df.repartition(F.col(cluster_by))
            .withColumn("__cluster", F.col(cluster_by))
            .write.mode("overwrite")
            .partitionBy("__cluster")
            .parquet(staging)
        )
        found = []
        for sub in sorted(os.listdir(staging)):
            subp = os.path.join(staging, sub)
            if not (sub.startswith("__cluster=") and os.path.isdir(subp)):
                continue
            for i, f in enumerate(sorted(os.listdir(subp))):
                if f.endswith(".parquet"):
                    found.append((f"{len(found)}-{f}", os.path.join(subp, f)))
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    entries = []
    for fname, src in found:
        if not fname.endswith(".parquet"):
            continue
        name = f"c{commit_id}-{fname}"
        dest = os.path.join(data_dir, name)
        os.rename(src, dest)
        stats, nulls, rows = _file_stats(dest)
        entries.append(
            {"name": f"data/{name}", "stats": stats, "nulls": nulls,
             "rows": rows}
        )
    if bloom_cols and entries:
        entries = _attach_blooms(
            df.sparkSession, path, entries, bloom_cols, bloom_fpp
        )
    # drop the staging leftovers (_SUCCESS etc.)
    for root, dirs, files in os.walk(staging, topdown=False):
        for f in files:
            os.remove(os.path.join(root, f))
        for d in dirs:
            os.rmdir(os.path.join(root, d))
    os.rmdir(staging)
    return entries


def _inherit_bloom_cols(m: dict | None, df: DataFrame) -> list[str] | None:
    """The parent manifest's table-level bloom columns that exist in
    the frame being written — appends and DML rewrites pass this to
    ``_write_data_files`` so the files they create keep the bloom
    pruning the table was built with (a merged/rewritten file without
    a bloom is forever unprunable for point lookups)."""
    cols = [c for c in (m or {}).get("bloom_cols", []) if c in df.columns]
    return cols or None


# Delta Lake's type-widening whitelist (the set whose parquet files
# stay readable under the wider pinned schema — Spark's parquet reader
# up-converts these at scan, verified on 4.1): the integer ladder,
# float->double, and integer->double.  Everything else (long->double
# loses precision, string<->anything, decimal re-scale) is refused.
_INT_LADDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widens(frm: object, to: object) -> bool:
    """True when a column of parquet type ``frm`` reads losslessly
    under pinned type ``to`` (types are schema-JSON values: strings
    for atomics, dicts for nested — nested types never widen)."""
    if not isinstance(frm, str) or not isinstance(to, str):
        return False
    if frm in _INT_LADDER and to in _INT_LADDER:
        return _INT_LADDER[frm] < _INT_LADDER[to]
    if frm == "float" and to == "double":
        return True
    return frm in ("byte", "short", "integer") and to == "double"


def _evolved_schema(parent_schema: dict | None, df: DataFrame, op: str) -> dict:
    """The version's table schema (stored in the manifest — the Delta
    shape: the LOG owns the schema, readers never sample footers).
    Overwrite resets to the frame's schema; append UNIONS by name —
    new columns are allowed (old files read them as NULL under the
    pinned schema), and same-name type changes are allowed ONLY for
    the safe widenings in ``_widens`` (int ladder, float->double,
    int->double — Delta's type-widening feature): the manifest schema
    takes the wider type and every file on either side of the change
    reads correctly under it.  A narrower incoming frame keeps the
    pinned wider type (its file up-converts at scan).  Any other type
    change is refused (silent type evolution corrupts readers)."""
    new = df.schema.jsonValue()
    if parent_schema is None or op != "append":
        return new
    tombstoned = set(parent_schema.get("dropped", []))
    by_name = {f["name"]: f for f in parent_schema["fields"]}
    fields = list(parent_schema["fields"])
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            if f["name"] in tombstoned:
                raise ValueError(
                    f"column {f['name']!r} was dropped from this table "
                    "and cannot be re-added: old data files still hold "
                    "its former values, which the pinned-schema read "
                    "would resurrect (overwrite the table to reset)"
                )
            fields.append(f)
            by_name[f["name"]] = f
        elif old["type"] != f["type"]:
            if _widens(old["type"], f["type"]):
                widened = {**old, "type": f["type"]}
                fields[fields.index(old)] = widened
                by_name[f["name"]] = widened
            elif not _widens(f["type"], old["type"]):
                raise ValueError(
                    f"schema evolution cannot change column {f['name']!r} "
                    f"from {old['type']} to {f['type']}"
                )
            # else: narrower incoming frame — pinned wider type wins
    return {**parent_schema, "fields": fields}


def snap_txn_seen(path: str, app_id: str, batch_id: int) -> bool:
    """True when the table's latest manifest already records
    ``batch_id`` (or later) for ``app_id`` — the cheap pre-flight a
    streaming caller uses to skip ALL batch work on a replay, before
    any Spark job runs."""
    return snap_txn_mark(path, app_id) >= batch_id


def snap_txn_mark(path: str, app_id: str) -> int:
    """The app's committed high-water ``batch_id`` at the latest
    version (-1 when the table or the marker doesn't exist) — the
    read side of the Delta txn pattern, for callers that derive their
    NEXT batch id from the table instead of an external counter
    (e.g. the resumable crawl's round protocol)."""
    v = _latest_version(path)
    if v is None:
        return -1
    return _read_manifest(path, v).get("txn", {}).get(app_id, -1)


def snap_txn_version(path: str, app_id: str, batch_id: int) -> int | None:
    """The version of the commit that INTRODUCED ``app_id``'s txn
    high-water mark ``>= batch_id`` — i.e. the commit that wrote that
    batch.  None when no retained version proves it: every later
    commit (compaction, maintenance, other appends) CARRIES the txn
    map forward, so the earliest retained hit is the introducing
    commit only if its PARENT is still readable with a smaller mark —
    otherwise vacuum may have removed the true writer and the earliest
    surviving carrier would be an unrelated commit whose diff recovers
    the wrong (likely empty) row set (ADVICE r11).  A None forces the
    caller down its documented re-bootstrap path instead."""
    st = store_for(path)
    hits = []
    for f in st.list(path):
        if f.startswith("v") and f.endswith(".json"):
            n = int(f[1:-5])
            if _read_manifest(path, n).get("txn", {}).get(
                app_id, -1
            ) >= batch_id:
                hits.append(n)
    if not hits:
        return None
    v = min(hits)
    if v == 0:
        # no parent exists by construction: v0 introduced its marks
        return 0
    if not st.exists(path, f"v{v - 1}.json"):
        # parent vacuumed — cannot prove v introduced the mark
        return None
    if _read_manifest(path, v - 1).get("txn", {}).get(app_id, -1) >= batch_id:
        # defensive: an unlisted-but-readable parent already carries
        # the mark, so v merely inherited it
        return None
    return v


def _txn_advance(m: dict | None, mark: tuple[str, int] | None) -> dict | None:
    """The head's replay markers advanced by ``mark = (app_id,
    batch_id)``; None when the head already records the batch.  Run
    per claim attempt: a concurrent writer of the same app may have
    landed the batch since the caller's pre-flight."""
    txn = dict((m or {}).get("txn", {}))
    if mark is not None:
        if txn.get(mark[0], -1) >= mark[1]:
            return None
        txn[mark[0]] = mark[1]
    return txn


def _check_expected(path: str, expect_version, v, what: str) -> None:
    """Lost-update guard of the versioned writes: raise
    :class:`SnapConflict` unless the head the claim will parent on —
    not a separate pre-read, which would leave a window for a
    concurrent commit — is ``expect_version`` (-1 = no table yet;
    None = no expectation)."""
    actual = -1 if v is None else v
    if expect_version is not None and actual != expect_version:
        raise SnapConflict(
            f"{path}: expected version {expect_version}, found "
            f"{actual} — {what} was computed from a stale read"
        )


def _snap_commit(
    df: DataFrame,
    path: str,
    op: str,
    zorder_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    txn_mark: tuple[str, int] | None = None,
    expect_version: int | None = None,
) -> int | None:
    """Two-level commit with optimistic concurrency: data files and
    this commit's manifest are written ONCE (uuid-unique names — safe
    under races); only the manifest-list bookkeeping retries when
    another writer claims the version first.  Append carries the
    parent's manifests by name, so commit cost is O(delta files +
    number of prior commits), never O(total table files).

    ``txn_mark = (app_id, batch_id)`` makes the commit IDEMPOTENT
    under streaming replays (the Delta txn pattern): a batch the
    latest manifest already records is skipped (returns None), and
    the committed manifest advances the app's high-water mark.

    Caller-given ``bloom_cols`` set the table property; a plain append
    blooms its files on the property's columns the frame has."""
    if txn_mark is not None and snap_txn_seen(path, *txn_mark):
        return None
    prev0 = _latest_version(path)
    write_blooms = bloom_cols
    if bloom_cols is None and op == "append" and prev0 is not None:
        write_blooms = _inherit_bloom_cols(_read_manifest(path, prev0), df)
    new_name = _write_manifest_file(path, _write_data_files(
        df, path, 0 if prev0 is None else prev0 + 1,
        zorder_by=zorder_by, bloom_cols=write_blooms,
    ))

    def attempt(v, m):
        _check_expected(path, expect_version, v, "content")
        # streaming replay markers survive ANY commit (the Delta txn
        # posture): an append or overwrite between micro-batches must
        # not reopen the exactly-once window
        txn = _txn_advance(m, txn_mark)
        if txn is None:
            return None
        # append keeps the parent's files and deletion vectors (its
        # files are all still live); overwrite drops both
        carry = m if op == "append" else None
        return {
            "op": op, "txn": txn,
            **({"bloom_cols": bloom_cols} if bloom_cols else {}),
            "manifests": _carried_manifests(path, carry) + [new_name],
            "schema": _evolved_schema((m or {}).get("schema"), df, op),
            **(_dv_carry(carry) if carry else {}),
        }

    return _occ_commit(path, attempt)


def snap_append(
    df: DataFrame,
    path: str,
    zorder_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Commit ``df``'s rows as a new version containing old + new
    files.  Returns the committed version number.  ``zorder_by`` lays
    the new files out along the Morton curve of those columns;
    ``bloom_cols`` records per-file bloom filters for equality
    skipping on high-cardinality columns (see ``_write_data_files``
    and ``_attach_blooms``)."""
    return _snap_commit(
        df, path, "append", zorder_by=zorder_by, bloom_cols=bloom_cols
    )


def snap_overwrite(
    df: DataFrame,
    path: str,
    zorder_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    expect_version: int | None = None,
) -> int | None:
    """Commit ``df`` as the table's full new content.  Replaced files
    stay on disk (older versions remain readable) until vacuum.
    ``zorder_by`` writes the content multi-dimensionally clustered so
    ``snap_scan``/``snap_scan_multi`` skip files for predicates on any
    participating column; ``bloom_cols`` adds per-file equality-probe
    blooms; ``txn = (app_id, batch_id)`` skips streaming replays
    (returns None) and advances the app's high-water mark;
    ``expect_version`` raises :class:`SnapConflict` when the latest
    version moved since the caller's read (lost-update protection for
    read-modify-write overwrites)."""
    return _snap_commit(
        df, path, "overwrite", zorder_by=zorder_by, bloom_cols=bloom_cols,
        txn_mark=txn, expect_version=expect_version,
    )


def snap_versions(path: str) -> list[dict]:
    """[{version, op, parent, n_files, n_rows, dv_rows, ts}]
    oldest-first for every retained manifest (the DESCRIBE HISTORY
    shape): ``n_rows`` is the metadata-only live-row count (file row
    counts minus the deleted-row ledger), ``dv_rows`` the live
    deletion-vector rows, ``ts`` the commit wall time."""
    out = []
    for f in store_for(path).list(path):
        if f.startswith("v") and f.endswith(".json"):
            m = _read_manifest(path, int(f[1:-5]))
            entries = _manifest_entries(path, m)
            out.append(
                {
                    "version": m["version"], "op": m["op"],
                    "parent": m["parent"],
                    "n_files": len(entries),
                    "n_rows": _live_rows(m, entries),
                    "dv_rows": m.get("dv_rows", 0),
                    "ts": m["ts"],
                }
            )
    return sorted(out, key=lambda m: m["version"])


def _pinned_reader(spark: SparkSession, m: dict):
    """spark.read with the version's pinned schema applied (see
    snap_read) — every internal multi-file read of a table's own data
    must go through this, or files predating a column addition would
    narrow the result.

    Renamed columns (``snap_rename_column``) pin a UNION schema: the
    logical name plus a nullable sibling per prior physical name, at
    the field's CURRENT (widest) type — each file fills exactly the
    name it was written with, parquet-missing names read as NULL, and
    the caller folds them back via :func:`_coalesce_renamed`."""
    from pyspark.sql import types as T

    schema = m["schema"]
    extra = [
        {"name": s, "type": f["type"], "nullable": True, "metadata": {}}
        for f in schema["fields"]
        for s in _field_sources(f)
    ]
    if extra:
        schema = {**schema, "fields": list(schema["fields"]) + extra}
    return spark.read.schema(T.StructType.fromJson(schema))


#: DV row count up to which the anti-join build side is broadcast —
#: a per-read metadata-size bound (~tens of MB of (file, pos) pairs),
#: not a data-size constant; past it the join falls back to shuffle.
_BROADCAST_DV_ROWS = 4_000_000


def _dv_frame(spark: SparkSession, path: str, m: dict) -> DataFrame:
    """The (file, pos) rows of a version's deletion vectors, broadcast
    while the ledger is within ``_BROADCAST_DV_ROWS``."""
    from pyspark.sql import functions as F

    dv = spark.read.parquet(
        *[os.path.join(path, n) for n in m["dvs"]]
    ).select("file", "pos")
    return F.broadcast(dv) if m.get("dv_rows", 0) <= _BROADCAST_DV_ROWS else dv


def _apply_dvs(spark: SparkSession, path: str, m: dict, base: DataFrame):
    """Filter out rows a version's DELETION VECTORS mark deleted: an
    anti-join of (file name, row position) against the union of the
    version's DV sidecar files (broadcast while small).  Data file
    names are uuid-unique and never reused, so DV entries referencing
    files a later commit rewrote or dropped simply never match —
    stale entries are harmless, which is what lets every commit carry
    the DV list forward untouched.  No DVs -> ``base`` unchanged (the
    common case costs nothing)."""
    if not m.get("dvs"):
        return base
    from pyspark.sql import functions as F

    dv = _dv_frame(spark, path, m)
    # tag position into real columns BEFORE the join: the _metadata
    # pseudo-column resolves on the scan relation, not join outputs
    tagged = base.withColumns(
        {
            "__dv_file": F.col("_metadata.file_name"),
            "__dv_pos": F.col("_metadata.row_index"),
        }
    )
    cond = (tagged["__dv_file"] == dv["file"]) & (tagged["__dv_pos"] == dv["pos"])
    return tagged.join(dv, cond, "left_anti").drop("__dv_file", "__dv_pos")


def _read_files(
    spark: SparkSession,
    path: str,
    m: dict,
    files: list[str],
    file_col: str | None = None,
) -> DataFrame:
    """THE data read path: pinned-schema scan of a version's files
    with its deletion vectors applied.  Every internal read of table
    data (snap_read/snap_scan/diff/compact and the CoW rewrites) must
    come through here — a path that bypasses it resurrects
    MOR-deleted rows.  ``file_col`` additionally tags each row with
    its source file's basename (resolved on the scan relation, before
    the DV anti-join) — the merge discovery pass uses it to map
    matched keys back to the files that must rewrite."""
    from pyspark.sql import functions as F

    base = _pinned_reader(spark, m).parquet(
        *[os.path.join(path, f) for f in files]
    )
    if file_col is not None:
        base = base.withColumn(file_col, F.col("_metadata.file_name"))
    return _coalesce_renamed(_apply_dvs(spark, path, m, base), m["schema"])


def _range_disjoint(e, col: str, lo, hi) -> bool:
    """TRUE iff the entry's manifest stats PROVE no row of the file
    has ``col`` in [lo, hi] (absent stats = not skippable)."""
    st = e.get("stats", {}).get(col)
    if st is None:
        return False
    mn, mx = st
    return (lo is not None and mx < lo) or (hi is not None and mn > hi)


def _field_sources(f: dict) -> list[str]:
    """A field's PRIOR physical names (newest first) — non-empty only
    after :func:`snap_rename_column`.  Files keep the column name they
    were written with; the read path coalesces, and stats/bloom
    lookups must try every name the column ever had."""
    return list((f.get("metadata") or {}).get("sources", []))


def _stat_names(m: dict, col: str) -> list[str]:
    """``col`` plus its rename sources: the names under which a file
    of this table may carry stats/blooms for the logical column (each
    file has exactly ONE of them — the name at its write time)."""
    for f in m["schema"]["fields"]:
        if f["name"] == col:
            srcs = _field_sources(f)
            return [col] + srcs if srcs else [col]
    return [col]


def _range_disjoint_any(e, names: list[str], lo, hi) -> bool:
    """Rename-aware :func:`_range_disjoint` over a column's
    pre-hoisted ``_stat_names``: disjoint iff the file's stats — under
    whichever of the names it was written with — prove it (at most one
    name has stats, so ``any`` is exact).  Callers hoist the names
    ONCE per (manifest, column), never per entry — the pruning loops
    must stay O(entries), not O(entries x schema fields)."""
    return any(_range_disjoint(e, n, lo, hi) for n in names)


def _coalesce_renamed(df: DataFrame, schema: dict) -> DataFrame:
    """Fold a pinned read's rename-source sibling columns into their
    logical column: per renamed field, exactly one of
    [name, *sources] is non-NULL per row (a file physically contains
    only its write-time name; the union schema fills the rest with
    NULL), so ``coalesce`` reconstructs the column exactly."""
    from pyspark.sql import functions as F

    renamed = [
        (f["name"], _field_sources(f))
        for f in schema["fields"]
        if _field_sources(f)
    ]
    if not renamed:
        return df
    for name, sources in renamed:
        df = df.withColumn(
            name, F.coalesce(*[F.col(c) for c in [name] + sources])
        )
    return df.drop(*[s for _, srcs in renamed for s in srcs])


def _dv_carry(m: dict, drop_files: set | None = None) -> dict:
    """The DV bookkeeping a child commit carries from its parent
    (append/delete/replace/compact keep the parent's vectors;
    overwrite resets them along with the file list).  ``drop_files``:
    BASENAMES of data files the commit rewrote or dropped — their
    per-file deleted-row counts leave the ledger, so ``dv_rows``
    stays the EXACT count of vector entries still masking live files
    (what the metadata-only ``snap_count`` subtracts and the
    broadcast bound consults).  A ledger that empties proves every
    vector stale, and the dvs list drops entirely — readers skip the
    anti-join."""
    if not m.get("dvs"):
        return {}
    counts = dict(m["dv_counts"])
    for f in drop_files or ():
        counts.pop(f, None)
    if not counts:
        return {}
    return {
        "dvs": list(m["dvs"]),
        "dv_counts": counts,
        "dv_rows": sum(counts.values()),
    }


def _split_manifests(path: str, m: dict, touched) -> tuple[list, list, list]:
    """Classify a version's files for a rewrite at MANIFEST
    granularity: ``(carried, loose, affected)``.  A per-commit manifest
    none of whose entries ``touched(entry)`` is carried forward BY NAME
    (bytes untouched); a manifest holding a touched entry is re-listed
    — its other entries are ``loose``, the touched ones ``affected``
    (the files the op rewrites or drops)."""
    carried, loose, affected = [], [], []
    for name in _carried_manifests(path, m):
        entries = _read_manifest_file(path, name)
        hit = [touched(e) for e in entries]
        if not any(hit):
            carried.append(name)
            continue
        for e, h in zip(entries, hit):
            (affected if h else loose).append(e)
    return carried, loose, affected


def _cow_fields(
    spark: SparkSession, path: str, v: int, m: dict, split: tuple, transform,
    added: list = (), dropped: list = (), zorder_by: list[str] | None = None,
) -> dict:
    """THE copy-on-write step: the ``affected`` files of ``split`` are
    read through ``_read_files`` (vectors applied — a rewrite never
    resurrects a MOR-deleted row), passed through ``transform`` and
    rewritten with the table's bloom columns; ONE new manifest lists
    ``loose`` + rewritten + ``added`` entries after the carried
    manifests.  ``dropped``: entries removed unread.  Rewritten and
    dropped files leave the DV ledger.  Returns the commit's
    ``manifests`` and DV fields."""
    carried, loose, affected = split
    files: list[dict] = []
    if affected:
        rows = transform(
            _read_files(spark, path, m, [e["name"] for e in affected])
        )
        files = _write_data_files(
            rows, path, v + 1, zorder_by=zorder_by,
            bloom_cols=_inherit_bloom_cols(m, rows),
        )
    gone = {os.path.basename(e["name"]) for e in [*affected, *dropped]}
    return {
        "manifests": carried + [
            _write_manifest_file(path, [*loose, *files, *added])
        ],
        **_dv_carry(m, gone),
    }


def _mor_fields(
    spark: SparkSession, path: str, m: dict, cand: list[str],
    cols: dict[str, str], hits_of,
) -> dict:
    """THE merge-on-read step: scan the candidate files' positions
    (``file``, ``pos``) and ONLY the columns ``cols`` ({alias: column},
    rename-aware), drop positions the vectors already delete (a row is
    never deleted twice, so the ledger stays exact), stage the
    positions ``hits_of(scan)`` keeps as sidecars under ``dv/``, and
    return the parent's DV ledger extended with them plus
    ``staged_dvs`` for the commit loop."""
    from pyspark.sql import functions as F

    moved, new_counts = [], {}
    if cand:
        scan = _pinned_reader(spark, m).parquet(
            *[os.path.join(path, f) for f in cand]
        ).select(
            F.col("_metadata.file_name").alias("file"),
            F.col("_metadata.row_index").alias("pos"),
            *[
                F.coalesce(*[F.col(n) for n in _stat_names(m, c)]).alias(a)
                for a, c in cols.items()
            ],
        )
        if m.get("dvs"):
            scan = scan.join(
                _dv_frame(spark, path, m), ["file", "pos"], "left_anti"
            )
        moved, new_counts = _stage_dvs(path, hits_of(scan), len(cand))
    dv = _dv_carry(m)
    if moved:
        counts = dict(dv.get("dv_counts", {}))
        for f, n in new_counts.items():
            counts[f] = counts.get(f, 0) + n
        dv = {
            "dvs": dv.get("dvs", []) + moved,
            "dv_counts": counts,
            "dv_rows": sum(counts.values()),
        }
    return {**dv, "staged_dvs": moved}


def _range_match(c, lo, hi):
    """NULL-safe ``c BETWEEN lo AND hi`` (None = open bound): FALSE —
    never NULL — for a NULL value, even with both bounds open (SQL
    DELETE/UPDATE WHERE never matches NULL), so ``~match`` is a safe
    keep-filter: NULL rows survive, identically in rewritten and
    carried files."""
    from pyspark.sql import functions as F

    match = c.isNotNull()
    if lo is not None:
        match = match & (c >= F.lit(lo))
    if hi is not None:
        match = match & (c <= F.lit(hi))
    return match


def _range_rewrite(
    spark: SparkSession, path: str, op: str, col: str, lo, hi, transform,
    set_cols: list[str] = (),
) -> int | None:
    """Copy-on-write commit of a range-predicated row-level op
    (DELETE / UPDATE ... WHERE col BETWEEN lo AND hi): files whose
    stats prove the range disjoint stay untouched, the affected ones
    rewrite through ``transform(rows, match)``.  ``set_cols`` must be
    columns of the table.  None when stats prove no file can match."""
    from pyspark.sql import functions as F

    def attempt(v, m):
        if m is None:
            raise FileNotFoundError(f"no snapshot table at {path}")
        table_cols = [f["name"] for f in m["schema"]["fields"]]
        unknown = [c for c in set_cols if c not in table_cols]
        if unknown:
            raise ValueError(f"UPDATE SET on unknown columns {unknown}")
        names = _stat_names(m, col)  # hoisted once per attempt
        split = _split_manifests(
            path, m, lambda e: not _range_disjoint_any(e, names, lo, hi)
        )
        if not split[2]:
            return None
        match = _range_match(F.col(col), lo, hi)
        return {
            "op": op,
            **_cow_fields(
                spark, path, v, m, split, lambda rows: transform(rows, match)
            ),
        }

    return _occ_commit(path, attempt)


def snap_version_at(path: str, as_of: float) -> int:
    """TIMESTAMP AS OF: the newest RETAINED version whose commit time
    is <= ``as_of`` (unix seconds) — the Delta/Iceberg timestamp
    time-travel contract.  Raises if every retained version is newer
    (the as-of point predates retained history; vacuumed versions
    cannot be resurrected)."""
    names = store_for(path).list(path)
    if not names:
        raise FileNotFoundError(f"no snapshot table at {path}")
    best = None
    for f in names:
        if f.startswith("v") and f.endswith(".json"):
            v = int(f[1:-5])
            ts = _read_manifest(path, v)["ts"]
            if ts <= as_of and (best is None or v > best):
                best = v
    if best is None:
        raise ValueError(
            f"no retained version of {path} at or before timestamp {as_of}"
        )
    return best


def snap_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read the table at ``version`` (default: latest), or at the
    newest version committed at or before ``as_of`` (unix seconds —
    TIMESTAMP AS OF).  The pinned file list comes from the manifest —
    never a directory listing — so later commits are invisible to
    this frame even if executed while it is still being consumed."""
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    if as_of is not None:
        version = snap_version_at(path, as_of)
    v = _latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshot table at {path}")
    m = _read_manifest(path, v)
    entries = _manifest_entries(path, m)
    if not entries:
        # a zero-file version is a legitimate table state (a mutation
        # can empty a control table); with the manifest-owned schema
        # the empty frame is fully determined
        from pyspark.sql import types as T

        return spark.createDataFrame([], T.StructType.fromJson(m["schema"]))
    # pinned schema from the manifest (the log owns the schema): no
    # footer sampling at read time, and files written before a column
    # was added read it back as NULL — schema evolution; deletion
    # vectors (if any) filter inside _read_files
    return _read_files(spark, path, m, [e["name"] for e in entries])


def _bloom_canon_cast(col, dtype: str):
    """``col`` cast to its type family's single canonical hash type
    (int ladder -> long, float -> double); other types hash as-is.
    xxhash64 is width-sensitive (xxhash64(5 INT) != xxhash64(5
    BIGINT)), so both bloom build and probe must agree on ONE width
    per family or a type-widening append silently breaks eq-pruning
    (ADVICE r11)."""
    t = dtype.lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return col.cast("long")
    if t in ("float", "double"):
        return col.cast("double")
    return col


def _bloom_lit(v):
    """The probe-side literal for value ``v``: ints hash at long and
    floats at double, mirroring ``_bloom_canon_cast`` on the build
    side."""
    from pyspark.sql import functions as F

    lit = F.lit(v)
    if isinstance(v, bool):
        return lit
    if isinstance(v, int):
        return lit.cast("long")
    if isinstance(v, float):
        return lit.cast("double")
    return lit


def _bloom_hashes(spark: SparkSession, values: list, k: int) -> list[list[int]]:
    """The k xxhash64 probe values for EVERY value in ``values`` —
    computed through Spark itself (ONE local 1-row job, |values|·k
    columns) so the build pass and the probe share one hash definition
    by construction, and an IN-list probe costs one driver round-trip,
    not one per value."""
    from pyspark.sql import functions as F

    row = spark.range(1).select(
        *[
            F.xxhash64(_bloom_lit(v), F.lit(s)).alias(f"h{i}_{s}")
            for i, v in enumerate(values)
            for s in range(k)
        ]
    ).first()
    return [[row[f"h{i}_{s}"] for s in range(k)] for i in range(len(values))]


def _bloom_excluded(
    spark: SparkSession,
    path: str,
    entries: list,
    col: str | list[str],
    values: list,
) -> set:
    """Entry names whose bloom filter PROVES ``col`` equals NONE of
    ``values`` (an IN-list is excluded only when every listed value
    is).  ``col`` may be a list of names (a renamed column's
    ``_stat_names``): each file carries its bloom under the single
    name it was written with, so the first matching geometry per
    entry is THE probe.  Reads only the probed word positions from
    each commit's sidecar, ONCE per sidecar for the union of all
    values' positions (row-group pushdown keeps the metadata read
    tiny even for wide tables); entries without a bloom for any of
    the names are never excluded (absent = not skippable)."""
    import pyarrow.parquet as papq

    names = [col] if isinstance(col, str) else list(col)
    probes: dict[str, list[tuple[str, str, int, int]]] = {}
    kmax = 0
    for e in entries:
        info = e.get("bloom")
        for n in names:
            geom = (info or {}).get("cols", {}).get(n)
            if geom:
                probes.setdefault(info["sidecar"], []).append(
                    (e["name"], n, geom["m"], geom["k"])
                )
                kmax = max(kmax, geom["k"])
                break
    if not probes:
        return set()
    all_hashes = _bloom_hashes(spark, values, kmax)
    excluded = set()
    for sidecar, files in probes.items():
        needed = sorted(
            {
                (h % m) // 64
                for _, _, m, k in files
                for hashes in all_hashes
                for h in hashes[:k]
            }
        )
        tbl = papq.read_table(
            os.path.join(path, sidecar),
            filters=[("col", "in", names), ("word_idx", "in", needed)],
            columns=["col", "file", "word_idx", "word"],
        )
        words = {
            (c, f, w): int(v)
            for c, f, w, v in zip(
                tbl.column("col").to_pylist(),
                tbl.column("file").to_pylist(),
                tbl.column("word_idx").to_pylist(),
                tbl.column("word").to_pylist(),
            )
        }
        for name, n, m, k in files:
            base = os.path.basename(name)
            any_hit = any(
                all(
                    words.get((n, base, (h % m) // 64), 0)
                    >> ((h % m) % 64) & 1
                    for h in hashes[:k]
                )
                for hashes in all_hashes
            )
            if not any_hit:
                excluded.add(name)
    return excluded


def snap_scan_files(
    path: str,
    preds: dict[str, tuple],
    version: int | None = None,
    spark: SparkSession | None = None,
    eq: dict | None = None,
) -> list[str]:
    """The file names a predicated scan would read: manifest entries
    whose stats cannot disprove EVERY (col, [lo, hi]) conjunct are
    kept (absent stats = not skippable).  ``eq`` adds equality
    conjuncts ``{col: value}`` — or IN-list conjuncts
    ``{col: [v1, v2, ...]}`` — pruned first by range stats (an
    equality is the point range [v, v]; an IN list keeps a file when
    ANY value might be present) and then by per-file BLOOM probes
    where the manifest carries them (a file drops only when the bloom
    excludes EVERY listed value; requires ``spark`` for the probe
    hashes).  Split out so tests can pin pruning effectiveness
    without executing the scan."""
    v = _latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshot table at {path}")
    m = _read_manifest(path, v)
    eqs = {
        col: (list(vals) if isinstance(vals, (list, tuple, set)) else [vals])
        for col, vals in (eq or {}).items()
    }
    for col, vals in eqs.items():
        if not vals or any(v_ is None for v_ in vals):
            raise ValueError(
                "eq probe values cannot be empty or None (= NULL never "
                "matches)"
            )
    names_of = {
        c: _stat_names(m, c) for c in set(preds) | set(eqs)
    }  # hoisted once per column, not per entry
    entries = [
        e
        for e in _manifest_entries(path, m)
        if not any(
            _range_disjoint_any(e, names_of[col], lo, hi)
            for col, (lo, hi) in preds.items()
        )
        and not any(
            all(_range_disjoint_any(e, names_of[col], v_, v_) for v_ in vals)
            for col, vals in eqs.items()
        )
    ]
    for col, vals in eqs.items():
        # range-stats eq pruning (the point range [v, v]) already ran
        # above and needs no Spark — only an actual BLOOM probe does,
        # so raise only when a surviving entry carries a bloom for
        # this column and spark wasn't supplied
        names = names_of[col]
        has_bloom = any(
            (e.get("bloom") or {}).get("cols", {}).get(n)
            for e in entries
            for n in names
        )
        if not has_bloom:
            continue
        if spark is None:
            raise ValueError("eq pruning needs the SparkSession for probe hashes")
        dropped = _bloom_excluded(spark, path, entries, names, vals)
        if dropped:
            entries = [e for e in entries if e["name"] not in dropped]
    return [e["name"] for e in entries]


def snap_scan_multi(
    spark: SparkSession,
    path: str,
    preds: dict[str, tuple],
    version: int | None = None,
    eq: dict | None = None,
) -> DataFrame:
    """Predicate scan with MANIFEST-LEVEL data skipping over a
    CONJUNCTION of range predicates ``{col: (lo, hi)}`` (None = open
    bound): files whose footer [min, max] (gathered at commit into the
    manifest) cannot intersect ANY conjunct's range are never handed
    to Spark at all — pruning happens before a single file is opened,
    the same layer Delta/Iceberg prune at (parquet row-group pruning
    only helps after the footer read; at 100 TB the file LISTING is
    the cost).  Multi-column pruning is what a ``zorder_by`` write
    layout pays for: the Morton layout keeps every file's range tight
    on all participating columns, so either column's predicate skips.
    ``eq`` adds equality conjuncts pruned by range stats AND per-file
    bloom probes where the manifest carries them (``bloom_cols`` at
    write) — the high-cardinality point-lookup path where min/max is
    useless.  The residual filter still applies, so results are
    exact."""
    v = _latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshot table at {path}")
    m = _read_manifest(path, v)
    keep = snap_scan_files(path, preds, v, spark=spark, eq=eq)
    if not keep:  # provably empty under the predicate
        base = snap_read(spark, path, v).limit(0)
    else:
        base = _read_files(spark, path, m, keep)
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for col, (lo, hi) in preds.items():
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    for col, vals in (eq or {}).items():
        if isinstance(vals, (list, tuple, set)):
            cond = cond & F.col(col).isin(list(vals))
        else:
            cond = cond & (F.col(col) == F.lit(vals))
    return base.filter(cond)


def snap_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Single-column sugar over :func:`snap_scan_multi`."""
    return snap_scan_multi(spark, path, {col: (lo, hi)}, version)


def snap_vacuum(
    path: str,
    keep_last: int = 1,
    grace_seconds: float = 600.0,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files unreachable from the newest ``keep_last``
    manifests (and drop the older manifests).  Returns deleted file
    names.  Never touches a file any retained version references —
    the correctness property pinned in tests.

    SAFE UNDER CONCURRENT COMMITS (the Delta/Iceberg retention
    posture): a writer stages data files and its per-commit manifest
    BEFORE claiming a version, so a naive vacuum would see those files
    as unreferenced and delete them out from under a commit that then
    reports success.  Two guards close the race:

      - version files ABOVE the sampled latest are never touched — a
        concurrent writer that claimed ``v{latest+1}.json`` after our
        sample keeps its committed version (and, transitively, every
        manifest/data file that version references is either carried
        from a retained parent or newly staged — covered below);
      - unreferenced ``m-*.json`` and data files younger than
        ``grace_seconds`` survive — the staged-but-not-yet-committed
        window.  The default (10 min) is far above the commit-retry
        horizon; pass 0 only when the caller holds exclusive access.

    ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) reports exactly
    the files a real run would delete, touching nothing — the
    operator's pre-flight before an irreversible retention pass.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    latest = _latest_version(path)
    if latest is None:
        return []
    return _vacuum_at(path, latest, keep_last, grace_seconds, dry_run)


def _vacuum_at(
    path: str,
    latest: int,
    keep_last: int,
    grace_seconds: float,
    dry_run: bool = False,
) -> list[str]:
    """Vacuum's delete phase against a SAMPLED latest — split out so
    tests can replay the exact race (commit lands after the sample,
    before the deletes) deterministically."""
    import time as _time

    st = store_for(path)
    now = _time.time()

    def _file_in_grace(fpath: str) -> bool:
        try:
            return now - os.path.getmtime(fpath) < grace_seconds
        except FileNotFoundError:
            return True  # vanished mid-scan: someone owns it, skip

    def _obj_in_grace(name: str) -> bool:
        ts = st.mtime(path, name)
        return ts is None or now - ts < grace_seconds

    # a version already vacuumed by an earlier, tighter retention pass
    # has no manifest to read — a dense range would crash on it
    keep_versions = [
        v
        for v in range(latest - keep_last + 1, latest + 1)
        if v >= 0 and st.exists(path, f"v{v}.json")
    ]
    # versions above the sampled latest are concurrent commits (or
    # in-flight claims) — retain them AND everything they reference
    above = []
    v = latest + 1
    while st.exists(path, f"v{v}.json"):
        above.append(v)
        v += 1
    reachable = set()
    live_manifests = set()
    live_dvs = set()
    live_blooms = set()
    for v in keep_versions + above:
        m = _read_manifest(path, v)
        for e in _manifest_entries(path, m):
            reachable.add(e["name"])
            if e.get("bloom"):
                live_blooms.add(e["bloom"]["sidecar"])
        live_manifests.update(m["manifests"])
        live_dvs.update(m.get("dvs", []))
    deleted = []
    data_dir = os.path.join(path, "data")
    for f in sorted(os.listdir(data_dir)) if os.path.isdir(data_dir) else []:
        rel = f"data/{f}"
        fpath = os.path.join(data_dir, f)
        if rel not in reachable and not _file_in_grace(fpath):
            if not dry_run:
                os.remove(fpath)
            deleted.append(rel)
    # deletion-vector sidecars: same lifecycle as data files — live
    # while any retained version lists them, grace-protected while a
    # concurrent delete-mor may be about to commit them
    dv_dir = os.path.join(path, "dv")
    for f in sorted(os.listdir(dv_dir)) if os.path.isdir(dv_dir) else []:
        rel = f"dv/{f}"
        fpath = os.path.join(dv_dir, f)
        if rel not in live_dvs and not _file_in_grace(fpath):
            if not dry_run:
                os.remove(fpath)
            deleted.append(rel)
    # bloom sidecars: live while any retained version's entry points
    # at them; same grace window for a commit mid-flight
    bloom_dir = os.path.join(path, "bloom")
    for f in sorted(os.listdir(bloom_dir)) if os.path.isdir(bloom_dir) else []:
        rel = f"bloom/{f}"
        fpath = os.path.join(bloom_dir, f)
        if rel not in live_blooms and not _file_in_grace(fpath):
            if not dry_run:
                os.remove(fpath)
            deleted.append(rel)
    if not dry_run:
        # Advance the pointer INTO the retained window before deleting
        # any version file.  With a lagging pointer (writer crashed
        # after claiming v{N}.json, or lost a pointer race) the deletes
        # below would remove the pointed-at version plus the roll-
        # forward gap, after which _latest_version lands on a vacuumed
        # version and every read/commit raises — table wedged.
        # Pointer advances are forward-only, so this is a no-op when
        # the pointer is already current.
        st.advance_pointer(path, latest)
        for f in st.list(path):
            if f.startswith("v") and f.endswith(".json"):
                n = int(f[1:-5])
                if n not in keep_versions and n <= latest:
                    st.delete(path, f)
            elif f.startswith("m-") and f.endswith(".json"):
                if f not in live_manifests and not _obj_in_grace(f):
                    st.delete(path, f)  # unreferenced per-commit manifest
    return deleted


def snap_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change-data feed between two versions: full rows tagged
    ``_change`` in {insert, delete} (an update appears as delete +
    insert — this format has no row identity, so value-level diff is
    the honest contract).  Computed as two anti-joins over the version
    reads; FILE-level reuse makes it cheap for append-only history:
    files present in both manifests cancel out and are never read."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    v_to = _latest_version(path) if v_to is None else v_to
    mf_from = _read_manifest(path, v_from)
    mf_to = _read_manifest(path, v_to)
    m_from = {e["name"] for e in _manifest_entries(path, mf_from)}
    m_to = {e["name"] for e in _manifest_entries(path, mf_to)}
    if mf_from.get("dvs", []) != mf_to.get("dvs", []):
        # a MOR delete between the versions changed row visibility
        # INSIDE files both manifests share — file-level cancellation
        # is unsound, so diff the full file lists (the value-level
        # anti-joins still cancel unchanged rows; only the file-reuse
        # shortcut is lost, and only when DVs actually changed)
        only_from, only_to = sorted(m_from), sorted(m_to)
    else:
        only_from = sorted(m_from - m_to)
        only_to = sorted(m_to - m_from)

    # pin BOTH sides to the NEWER version's manifest schema: after
    # schema evolution, a bare multi-file read would drop or narrow an
    # added column depending on which file supplied the inferred schema
    pin = {"schema": (mf_to if v_to >= v_from else mf_from)["schema"]}

    def read(files, side_m):
        if not files:
            # nothing on this side: no rows under the pinned schema,
            # built on the JVM (createDataFrame([]) scans its empty RDD
            # in a Python worker); limit(0) makes the optimizer see it
            # empty and drop the anti-join against it
            return spark.range(1).select(*[
                F.lit(None).cast(f.dataType).alias(f.name, metadata=f.metadata)
                for f in T.StructType.fromJson(pin["schema"]).fields
            ]).limit(0)
        base = _pinned_reader(spark, pin).parquet(
            *[os.path.join(path, f) for f in files]
        )
        return _coalesce_renamed(
            _apply_dvs(spark, path, side_m, base), pin["schema"]
        )

    added = read(only_to, mf_to)
    removed = read(only_from, mf_from)
    import functools
    import operator

    cols = added.columns

    # value-level cancel: a row moved between files is not a change.
    # NULL-SAFE equality on every column — a plain column anti-join
    # never matches a NULL-bearing row, so an untouched row with any
    # NULL field in a rewritten file would emit a phantom
    # insert+delete pair
    def _cancel(keep, other):
        cond = functools.reduce(
            operator.and_,
            [keep[c].eqNullSafe(other[c]) for c in cols],
        )
        return keep.join(other, cond, "left_anti")

    ins = _cancel(added, removed).withColumn("_change", F.lit("insert"))
    del_ = _cancel(removed, added).withColumn("_change", F.lit("delete"))
    return ins.unionByName(del_)


def snap_changes_since(
    spark: SparkSession, path: str, last_version: int
) -> tuple[DataFrame, int]:
    """Incremental CDC consumption cursor: ``(change feed from
    last_version to the current latest, new cursor)`` — the
    subscription shape downstream incremental jobs poll with (store
    the returned cursor, pass it back next call).  No new versions ->
    an empty frame with the change-feed schema and the same cursor.
    File-level cancellation makes each poll O(delta files) for
    append-mostly history (see :func:`snap_diff`); vacuum bounds how
    far back a lapsed cursor may reach — a cursor older than the
    retained history raises (the consumer must re-bootstrap from a
    full read, the Delta CDF contract)."""
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no snapshot table at {path}")
    v_from = min(last_version, latest)
    return snap_diff(spark, path, v_from, latest), latest


def snap_append_txn(
    df: DataFrame, path: str, app_id: str, batch_id: int
) -> int | None:
    """Idempotent append — the exactly-once building block for
    streaming sinks (the Delta ``txn`` pattern): each manifest carries
    the highest committed ``batch_id`` per ``app_id``; a replayed
    batch (micro-batch retry after a sink failure, checkpoint
    recovery) is detected and SKIPPED, so foreachBatch's at-least-once
    delivery becomes exactly-once at the table.  Returns the committed
    version, or None for a detected replay."""
    return _snap_commit(df, path, "append", txn_mark=(app_id, batch_id))


def maybe_compact(
    spark: SparkSession,
    path: str,
    small_bytes: int = 8 << 20,
    target_bytes: int = 128 << 20,
    max_manifests: int = 16,
) -> int | None:
    """Compact IF the manifest list has grown past ``max_manifests`` —
    the auto-compaction gate for per-micro-batch committers (each
    commit appends one manifest, so an unattended streaming sink grows
    the list without bound; Delta's checkpoint-every-10-commits is the
    same bound).  ``max_manifests`` caps per-commit/per-scan metadata
    work (a per-commit-overhead constant, not a data-size constant);
    the BYTE thresholds shape the output: only files under
    ``small_bytes`` rewrite, packed to ~``target_bytes`` — once a
    packed file crosses ``small_bytes`` it is never rewritten again,
    so total compaction I/O per byte is bounded regardless of how many
    micro-batches the stream runs.  Returns the compaction commit's
    version or None (gate not met / nothing to pack)."""
    v = _latest_version(path)
    if v is None:
        return None
    m = _read_manifest(path, v)
    # value-clustered tables (agg views, snap_replace_values
    # cluster=True) are exempt: compaction would merge value-exact
    # files and silently destroy the O(|delta|) refresh property the
    # aggview layer pins by mtime — results stay correct, but every
    # later refresh would rewrite mixed files (ADVICE r10)
    if m.get("clustered"):
        return None
    if len(m["manifests"]) < max_manifests:
        return None
    return snap_compact(spark, path, small_bytes, target_bytes)


def snap_maintain(
    spark: SparkSession,
    path: str,
    max_manifests: int = 16,
    small_bytes: int = 8 << 20,
    target_bytes: int = 128 << 20,
    max_dv_rows: int = 1 << 20,
    keep_last: int = 2,
    grace_seconds: float = 600.0,
    vacuum: bool = False,
) -> dict:
    """ONE maintenance entry point (the OPTIMIZE + VACUUM operational
    routine): run the gated small-file compaction
    (:func:`maybe_compact`), fold deletion vectors away when the
    read-side tax outgrew its bound (:func:`maybe_materialize`), then
    report — or with ``vacuum=True`` perform — the retention pass.
    Every step keeps its own no-op gate, so an unconditional periodic
    call does bounded work: a healthy table pays three metadata reads.

    Returns ``{"compacted": version|None, "materialized":
    version|None, "vacuumed": bool, "removable": [names]}`` —
    ``removable`` is the vacuum report (what was deleted, or with the
    default dry run, what a real pass would delete)."""
    report = {
        "compacted": maybe_compact(
            spark, path, small_bytes, target_bytes, max_manifests
        ),
        "materialized": maybe_materialize(spark, path, max_dv_rows),
        "vacuumed": vacuum,
    }
    report["removable"] = snap_vacuum(
        path, keep_last=keep_last, grace_seconds=grace_seconds,
        dry_run=not vacuum,
    )
    return report


def snap_delete_where(
    spark: SparkSession, path: str, col: str, lo=None, hi=None
) -> int | None:
    """Row-level DELETE on the snapshot table — copy-on-write, the
    Delta/Iceberg CoW shape: manifest stats first split the current
    version's files into UNTOUCHED (range provably disjoint — carried
    into the new manifest verbatim, bytes never read or moved) and
    AFFECTED (rewritten without the matching rows).  One commit swaps
    the affected files; deleted rows stay readable at older versions
    until vacuum (deletes are just another version).  Returns the new
    version, or None when the stats prove no file holds a matching
    row (a provable no-op never commits).  NULL rows survive (SQL
    ``DELETE WHERE`` never matches NULL)."""
    return _range_rewrite(
        spark, path, "delete", col, lo, hi,
        lambda rows, match: rows.filter(~match),
    )


def snap_count(path: str, version: int | None = None) -> int:
    """Metadata-only COUNT(*) — the Iceberg/Delta manifest-count
    shape: per-file row counts recorded at commit time sum straight
    from the manifest, minus the exact deleted-row ledger the MOR
    deletes maintain (``dv_counts`` prunes file-by-file on every
    rewrite, so the subtraction never drifts).  No data file is
    opened; at 100 TB this is the difference between a catalog call
    and a cluster job."""
    v = _latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshot table at {path}")
    m = _read_manifest(path, v)
    return _live_rows(m, _manifest_entries(path, m))


def _live_rows(m: dict, entries: list) -> int:
    """A version's file row counts minus its deleted-row ledger."""
    return sum(e["rows"] for e in entries) - m.get("dv_rows", 0)


def snap_restore(path: str, version: int) -> int:
    """``RESTORE TABLE ... TO VERSION AS OF`` (Delta parity): commit
    a NEW version whose content is the target version's — manifests,
    schema, and deletion vectors copied by reference, zero data
    movement — so the rewind is itself history (re-restorable,
    diffable, vacuum-safe).  Raises if the target version or any data
    file it references was already vacuumed (vacuumed history cannot
    be resurrected).  Streaming replay markers (``txn``) carry from
    the CURRENT version, not the target: restore rewinds data, never
    the exactly-once ledger."""
    target = _read_manifest(path, version)  # raises if retired
    entries = _manifest_entries(path, target)
    refs = (
        [e["name"] for e in entries]
        + list(target.get("dvs", []))
        + [e["bloom"]["sidecar"] for e in entries if e.get("bloom")]
    )
    missing = []
    for n in refs:
        fp = os.path.join(path, n)
        try:
            # touching the referenced files re-enters them into
            # vacuum's mtime GRACE window: a concurrent vacuum that
            # sampled the head before this restore committed would
            # otherwise see them as unreachable-and-old and delete
            # them out from under the new head (the restore-vs-vacuum
            # race; full elimination needs retention >= restore
            # duration, the Delta caveat)
            os.utime(fp)
        except FileNotFoundError:
            missing.append(n)
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to v{version}: vacuum already "
            f"removed {missing[:3]}{'...' if len(missing) > 3 else ''}"
        )
    manifests = _carried_manifests(path, target)
    st = store_for(path)
    for name in manifests:
        # the carried m-*.json files vacuum on the same mtime-grace
        # rule as data files: re-putting their identical bytes
        # refreshes the store mtime, re-entering them into the grace
        # window alongside the utime'd data/dv/bloom files above
        st.put(path, name, st.read(path, name))

    def attempt(v, m):
        if m is None:
            raise FileNotFoundError(f"no snapshot table at {path}")
        return {
            "op": "restore", "restored": version, "manifests": manifests,
            "schema": target["schema"], **_dv_carry(target),
        }

    return _occ_commit(path, attempt)


def snap_drop_column(path: str, col: str) -> int:
    """Metadata-only ``DROP COLUMN``: the manifest schema loses the
    field, every data file keeps its bytes untouched (no rewrite, no
    data movement — commit cost O(1)), and the pinned-schema read
    simply never requests the column again.  Time travel still shows
    the column at pre-drop versions.

    The name is TOMBSTONED against re-adding: a later append reusing
    it would RESURRECT the old files' stale values under the pinned
    schema — the hazard Delta's column-mapping field IDs exist to
    prevent; without physical-name mapping the honest posture is to
    refuse (``overwrite`` resets the table wholesale and clears the
    tombstones).  Refuses the last column and the value-cluster
    column; the bloom table property sheds the dropped name."""

    def change(schema):
        keep = [f for f in schema["fields"] if f["name"] != col]
        if len(keep) == len(schema["fields"]):
            raise ValueError(f"no such column {col!r}")
        if not keep:
            raise ValueError("cannot drop the last column")
        return keep

    return _alter_column(path, "drop_column", col, None, change,
                         {"dropped_col": col})


def _alter_column(path: str, op: str, col: str, new, change, extra: dict) -> int:
    """Metadata-only commit of DROP (``new`` None) or RENAME COLUMN:
    ``change(schema)`` validates and returns the new field list; ``col``
    joins the tombstones, the bloom table property follows, manifests
    carry by name and no data byte moves.  The table's value-cluster
    key is refused (refresh machinery addresses it by name)."""

    def attempt(v, m):
        if m is None:
            raise FileNotFoundError(f"no snapshot table at {path}")
        schema = m["schema"]
        fields = change(schema)
        if m.get("clustered") == col:
            raise ValueError(
                f"column {col!r} is the table's value-cluster key — "
                "refresh machinery depends on it"
            )
        renamed = [new if c == col else c for c in m.get("bloom_cols", [])]
        return {
            "op": op, **extra, "manifests": _carried_manifests(path, m),
            "schema": {
                **schema, "fields": fields,
                "dropped": sorted(set(schema.get("dropped", [])) | {col}),
            },
            "bloom_cols": [c for c in renamed if c is not None],
            **_dv_carry(m),
        }

    return _occ_commit(path, attempt)


def snap_rename_column(path: str, old: str, new: str) -> int:
    """Metadata-only ``RENAME COLUMN`` via COLUMN MAPPING (Delta's
    ``ALTER TABLE RENAME COLUMN`` under column-mapping mode): an O(1)
    manifest commit — no data bytes move.  Files keep the column
    under the name they were WRITTEN with; the renamed field records
    its prior names in ``metadata.sources`` and the read path pins a
    union schema and coalesces them back (:func:`_pinned_reader` /
    :func:`_coalesce_renamed`), while stats, bloom probes, and DML
    file pruning consult every name the column ever had
    (:func:`_stat_names`).  Files rewritten by later DML carry the
    NEW name physically, so a chain shrinks as the table churns.

    Time travel shows the old name at pre-rename versions.  The OLD
    name is TOMBSTONED (same ledger as ``snap_drop_column``): it is
    still the physical name inside old files, so re-adding it would
    resurrect those values under the new column — the exact hazard
    Delta's physical-name field IDs exist to prevent.  Renaming the
    value-cluster key is refused (refresh machinery addresses it by
    name); the bloom table property follows the rename."""

    def change(schema):
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise ValueError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if new in schema.get("dropped", []):
            raise ValueError(
                f"column name {new!r} is tombstoned (dropped or renamed "
                "away) — old data files still carry it physically, so "
                "reusing it would resurrect their values"
            )
        if any(new in _field_sources(f) for f in schema["fields"]):
            raise ValueError(
                f"column name {new!r} is a prior physical name of "
                "another column"
            )
        fields = []
        for f in schema["fields"]:
            if f["name"] == old:
                meta = dict(f.get("metadata") or {})
                meta["sources"] = [old] + _field_sources(f)
                fields.append({**f, "name": new, "metadata": meta})
            else:
                fields.append(f)
        return fields

    return _alter_column(path, "rename_column", old, new, change,
                         {"renamed": {"from": old, "to": new}})


def _stage_dvs(path: str, hits: DataFrame, n_cand: int) -> tuple[list[str], dict]:
    """Write a (file, pos) frame as deletion-vector sidecars under
    ``dv/`` via a staging dir (same discipline as data files; output
    file count sized from the candidate scan, not a constant) and
    return ``(moved sidecar names, per-file deleted-row counts)`` —
    the exact ledger ``snap_count`` subtracts and rewrite commits
    prune file-by-file.  The staging write is the only job: the
    per-file counts come from the staged files' ``file`` column, read
    on the driver (the sidecars are small)."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    staging = os.path.join(path, f"_dvstaging-{uuid.uuid4().hex}")
    n_out = max(1, math.ceil(n_cand / 512))
    (
        hits.select("file", "pos")
        .repartition(n_out)
        .sortWithinPartitions("file", "pos")
        .write.mode("overwrite")
        .parquet(staging)
    )
    staged = sorted(os.listdir(staging))
    rows, new_counts = {}, Counter()
    for f in staged:
        if f.endswith(".parquet"):
            table = pq.ParquetFile(os.path.join(staging, f)).read(columns=["file"])
            rows[f] = table.num_rows
            new_counts.update(table.column("file").to_pylist())
    dv_dir = os.path.join(path, "dv")
    os.makedirs(dv_dir, exist_ok=True)
    moved: list[str] = []
    for f in staged:
        src = os.path.join(staging, f)
        if rows.get(f):
            name = f"dv-{uuid.uuid4().hex}.parquet"
            os.rename(src, os.path.join(dv_dir, name))
            moved.append(f"dv/{name}")
        else:
            os.remove(src)
    os.rmdir(staging)
    return moved, dict(new_counts)


def snap_delete_where_mor(
    spark: SparkSession, path: str, col: str, lo=None, hi=None
) -> int | None:
    """MERGE-ON-READ row-level DELETE — the Delta deletion-vector /
    Iceberg positional-delete shape.  ``snap_delete_where`` (CoW)
    rewrites every file holding a matching row: deleting 0.1% of rows
    scattered across a 100 TB table rewrites nearly all of it.  This
    op instead records the matching rows' POSITIONS — (data file name,
    row index) pairs — as a deletion-vector sidecar under ``dv/`` and
    commits a version whose manifests are carried verbatim: commit
    cost is O(matching rows), zero data bytes move.  Readers apply the
    vectors as an anti-join (:func:`_apply_dvs` — broadcast while
    small); ``snap_materialize_dvs`` folds them back into rewritten
    files when the read-side tax grows.

    Manifest stats prune the scan to files whose [min, max] for
    ``col`` can intersect [lo, hi]; re-running the same delete is a
    no-op (:func:`_mor_fields` skips already-deleted rows).  NULL never
    matches (SQL DELETE WHERE semantics).  Returns the new version, or
    None when no row matches (a no-op never commits)."""
    from pyspark.sql import functions as F

    def attempt(v, m):
        if m is None:
            raise FileNotFoundError(f"no snapshot table at {path}")
        names = _stat_names(m, col)  # hoisted once per attempt
        cand = [
            e["name"]
            for e in _manifest_entries(path, m)
            if not _range_disjoint_any(e, names, lo, hi)
        ]
        dv = _mor_fields(
            spark, path, m, cand, {"__v": col},
            lambda scan: scan.filter(_range_match(F.col("__v"), lo, hi)),
        )
        if not dv["staged_dvs"]:
            return None
        return {
            "op": "delete-mor", "manifests": _carried_manifests(path, m),
            **dv,
        }

    return _occ_commit(path, attempt)


def snap_materialize_dvs(spark: SparkSession, path: str) -> int | None:
    """Fold the table's deletion vectors back into its data files
    (Iceberg's rewrite-position-deletes / Delta PURGE): files a vector
    touches are rewritten without their deleted rows; untouched
    manifests are carried by name; the commit drops the ``dvs`` list,
    so subsequent reads pay no anti-join.  The DV sidecar files become
    unreferenced and age out via :func:`snap_vacuum`.  Returns the new
    version, or None when the table has no vectors.  Vectors whose
    every referenced file is already gone (rewritten by later CoW /
    compaction) clear with a metadata-only commit — no data moves."""

    def attempt(v, m):
        if m is None:
            raise FileNotFoundError(f"no snapshot table at {path}")
        if not m.get("dvs"):
            return None
        dead = {
            r["file"]
            for r in spark.read.parquet(
                *[os.path.join(path, n) for n in m["dvs"]]
            ).select("file").distinct().collect()
        }  # distinct FILE names: bounded by the manifest's file count
        split = _split_manifests(
            path, m, lambda e: os.path.basename(e["name"]) in dead
        )
        # the commit drops the whole ledger: only the manifests carry
        manifests = split[0]
        if split[2]:
            manifests = _cow_fields(
                spark, path, v, m, split, lambda rows: rows
            )["manifests"]
        return {"op": "materialize", "manifests": manifests}

    return _occ_commit(path, attempt)


def maybe_materialize(
    spark: SparkSession, path: str, max_dv_rows: int = 1 << 20
) -> int | None:
    """Materialize IF the live deleted-row count has outgrown
    ``max_dv_rows`` — the auto-purge gate for workloads issuing many
    MOR deletes.  The threshold bounds the per-read anti-join build
    side (a read-overhead constant, like ``maybe_compact``'s
    ``max_manifests`` — not a data-size constant).  Returns the
    materialize commit's version or None (gate not met)."""
    v = _latest_version(path)
    if v is None:
        return None
    if _read_manifest(path, v).get("dv_rows", 0) < max_dv_rows:
        return None
    return snap_materialize_dvs(spark, path)


class SnapConflict(Exception):
    """Raised by a versioned write when ``expect_version`` no longer
    matches the table's latest — the caller's read (and anything
    derived from it) is stale and must re-run against the new head
    (the snap_mutate transform-rerun posture, exposed to callers that
    compute their replacement OUTSIDE the commit helper)."""


class SnapNoChange(Exception):
    """Raised by a ``snap_mutate`` transform to signal the mutation is
    a provable no-op — no version is committed (the same posture as
    ``snap_delete_where`` returning None): an all-duplicate bulk
    create or an empty status merge must not churn versions."""


def snap_mutate(
    spark: SparkSession,
    path: str,
    fn,
) -> int:
    """Atomic OPTIMISTIC read-modify-write: ``fn(current frame | None)
    -> new full table content``, committed as an overwrite claimed at
    exactly the version that was read + 1 — if a concurrent writer
    claims it first, ``fn`` RE-RUNS against the winner's table (a
    plain snap_overwrite retry would replay stale bookkeeping over a
    result computed from a stale read: the lost-update anomaly).
    This is the snapshot-table analogue of the reference's Postgres
    transactions around catalog mutations — dup-checked inserts,
    status merges, and quarantine clears compose safely across
    concurrent mutators.

    ``fn`` receives None when the table does not exist yet (creation
    races are settled by the same version-0 claim)."""

    def attempt(v, m):
        cur = snap_read(spark, path, v) if v is not None else None
        try:
            new = fn(cur)
        except SnapNoChange:
            return v if v is not None else -1
        # the new content may read `cur` lazily during this write —
        # safe: version v's files are immutable even if a concurrent
        # commit lands meanwhile
        new_files = _write_data_files(new, path, 0 if v is None else v + 1)
        return {
            "op": "overwrite", "manifests": [_write_manifest_file(path, new_files)],
            "txn": dict((m or {}).get("txn", {})),
            "schema": _evolved_schema(None, new, "overwrite"),
        }

    return _occ_commit(path, attempt)


def snap_read_if_exists(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame | None:
    """``snap_read`` that returns None for the not-yet-created table
    (the first-batch case of incremental consumers) — any OTHER
    failure still propagates."""
    if _latest_version(path) is None:
        return None
    return snap_read(spark, path, version)


def snap_replace_values(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
    replacement: DataFrame,
    cluster: bool = False,
    txn: tuple[str, int] | None = None,
    expect_version: int | None = None,
) -> int | None:
    """Delta's ``replaceWhere`` for a value list: ONE atomic commit
    that deletes every row whose ``col`` is in ``values`` and inserts
    ``replacement`` (caller contract: replacement rows all satisfy the
    predicate — the incremental-ingest rebuild shape, where a
    micro-batch replaces the touched sources' rows wholesale).

    Because data files are immutable and the commit only swaps
    manifests, the replacement frame may READ the current version
    (e.g. merge kept rows with rebuilt ones) without any
    materialize-before-overwrite checkpoint — the write creates new
    files; it can never clobber the files the read is consuming.
    That property is what lets the streaming ingest drop its eager
    checkpoints (`streaming/ingest.py`).

    Files whose stats prove they hold none of ``values`` are carried
    by manifest/entry untouched; affected files are rewritten keeping
    only non-matching rows.  First call (no table) just commits
    ``replacement``.  ``values`` is a driver-side list — callers pass
    the micro-batch's touched keys (bounded by batch size), not
    table-scale sets.  It may contain ``None`` (a NULL cluster key —
    null ts -> day_key, null source_id): the keep predicate is
    :func:`value_match`, and file skipping uses the manifests' per-file
    NULL COUNTS (absent count = may hold NULLs = not skippable).

    ``cluster=True`` writes VALUE-EXACT files for ``col`` (see
    ``_write_data_files``): each file holds one value, so later
    replaces rewrite exactly the touched values' files and nothing
    else — the property the agg view's O(|delta|) refresh pins by
    mtime.

    ``txn = (app_id, batch_id)`` makes the replace IDEMPOTENT under
    streaming replays (the Delta txn pattern): a batch the latest
    manifest already records returns None without committing — the
    exactly-once building block for INCREMENTAL VIEW refreshes in
    foreachBatch, where a replayed delta would otherwise double-count
    into the merged states.

    ``expect_version`` (an int; -1 = "expect no table yet") raises
    :class:`SnapConflict` when the table's latest differs at claim
    time: the caller computed ``replacement`` from a read of that
    version, and blindly retrying would commit a merge that silently
    drops a concurrent writer's delta (the lost-update anomaly) — the
    caller must re-read and recompute (see ``refresh_agg_view``)."""
    from pyspark.sql import functions as F

    if txn is not None and snap_txn_seen(path, *txn):
        return None
    has_null = any(v is None for v in values)
    vs = sorted(v for v in values if v is not None)

    def _disjoint_under(e, nm: str) -> bool:
        if has_null:
            nc = e.get("nulls", {}).get(nm)
            if nc is None or nc > 0:
                return False  # may hold NULL-keyed rows to replace
        if not vs:
            return True  # only NULL sought; this file provably has none
        st = e.get("stats", {}).get(nm)
        if st is None:
            return False
        mn, mx = st
        return all(v < mn or v > mx for v in vs)

    # a file whose stats are a POINT range on a replaced value — and
    # which provably holds no NULLs — is wholly replaced: no survivor
    # rows can exist, so it needs no read or rewrite (the
    # value-clustered layout makes this the common case: a refresh
    # then only ever writes the delta)
    def _wholly_replaced(e, nm: str) -> bool:
        st = e.get("stats", {}).get(nm)
        return (
            st is not None and st[0] == st[1] and st[0] in vs
            and e.get("nulls", {}).get(nm) == 0
        )

    def attempt(v, m):
        _check_expected(path, expect_version, v, "replacement")
        txn_map = _txn_advance(m, txn)
        if txn_map is None:
            return None
        new_files = _write_data_files(
            replacement, path, 0 if v is None else v + 1,
            cluster_by=col if cluster else None,
            bloom_cols=_inherit_bloom_cols(m, replacement),
        )
        fields = {"clustered": col} if cluster else {}
        if m is None:  # first call: the replacement IS the table
            return {
                **fields, "op": "append",
                "manifests": [_write_manifest_file(path, new_files)],
                "schema": _evolved_schema(None, replacement, "append"),
                **({"txn": txn_map} if txn is not None else {}),
            }
        # rename-aware: a file's stats/null-counts sit under its
        # write-time column name (exactly one of names has them)
        names = _stat_names(m, col)  # hoisted once per attempt
        carried, loose, affected = _split_manifests(
            path, m, lambda e: not any(_disjoint_under(e, n) for n in names)
        )
        mixed, whole = [], []
        for e in affected:
            (whole if any(_wholly_replaced(e, n) for n in names) else mixed).append(e)
        keep = ~value_match(F.col(col), values)
        return {
            **fields, "op": "replace", "txn": txn_map,
            **_cow_fields(
                spark, path, v, m, (carried, loose, mixed),
                lambda rows: rows.filter(keep), added=new_files, dropped=whole,
            ),
        }

    return _occ_commit(path, attempt)


def snap_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    txn: tuple[str, int] | None = None,
) -> int | None:
    """``MERGE INTO`` the snapshot table (Delta parity: WHEN MATCHED
    UPDATE SET * / WHEN NOT MATCHED INSERT *): target rows whose key
    tuple appears in ``source`` are replaced by the source row, the
    rest of the source inserts, everything else is untouched — ONE
    atomic commit.

    Scale shape (Delta's MERGE file pruning): ONE discovery join of the
    stats-pruned candidate scan (deletion vectors applied — a key
    matching only MOR-deleted rows is NOT matched) against the source
    keys yields the affected files; only those rewrite, to an anti-join
    on keys (NULL-keyed target rows always survive).

    A source key tuple that is duplicated AND matched raises (Delta's
    "multiple source rows matched" error — replacing one row with two
    is not an update); duplicated unmatched tuples simply both insert.
    NULL-keyed source rows never match and always insert.  Appends may
    evolve the schema (new columns union by name; safe type WIDENINGS
    — int ladder, float->double — adopt the wider type, see
    ``_widens``; other type changes refused).  First call creates the
    table; an empty source returns None (no version committed).

    ``txn = (app_id, batch_id)`` makes the merge IDEMPOTENT under
    replays (the Delta txn pattern, same as :func:`snap_append_txn`):
    a batch the table already records for the app returns None without
    touching anything — the building block for read-modify-write
    round protocols (the resumable crawl's ledger advance)."""
    from pyspark.sql import functions as F

    src = _merge_source(path, source, keys, "snap_merge", txn)
    if src is None:
        return None

    def attempt(v, m):
        txn_map = _txn_advance(m, txn)
        if txn_map is None:
            return None
        fields = {
            "op": "merge", "txn": txn_map,
            "schema": _evolved_schema(
                (m or {}).get("schema"), src.source, "append"
            ),
        }
        if m is None:  # first call: the source IS the table
            return {
                **fields,
                "manifests": [_write_manifest_file(path, src.files(v, m))],
            }
        cand = src.candidates(m)
        hit_files: set[str] = set()
        if cand:
            hit = (
                _read_files(
                    spark, path, m,
                    [e["name"] for e in cand], file_col="__file",
                )
                .select("__file", *keys)
                .join(src.key_counts, keys, "inner")
                .agg(
                    F.collect_set("__file").alias("files"),
                    F.max("__cnt").alias("max_cnt"),
                )
                .first()
            )
            src.check_unique(hit["max_cnt"])
            hit_files = set(hit["files"])
        carried, loose, affected = _split_manifests(
            path, m, lambda e: os.path.basename(e["name"]) in hit_files
        )
        return {
            **fields,
            **_cow_fields(
                spark, path, v, m,
                (carried, loose + src.files(v, m), affected),
                lambda rows: rows.join(
                    src.key_counts.select(*keys), keys, "left_anti"
                ),
            ),
        }

    return _occ_commit(path, attempt)


class _MergeSource:
    """The source side of ``MERGE INTO`` (CoW and MoR): the source, its
    non-NULL key tuples with their multiplicity and per-key bounds
    (computed on first use: a table-creating merge needs neither),
    stats pruning of a version's files, and the source's files."""

    def __init__(self, path: str, source: DataFrame, keys: list[str], who: str):
        self.path, self.source, self.keys, self.who = path, source, keys, who
        self._files: list[dict] | None = None

    @functools.cached_property
    def key_counts(self) -> DataFrame:
        from pyspark.sql import functions as F

        from qurio_spark.functions.checkpointing import checkpoint_df

        counts = self.source.groupBy(*self.keys).agg(F.count("*").alias("__cnt"))
        for k in self.keys:
            counts = counts.filter(F.col(k).isNotNull())
        return checkpoint_df(counts, eager=True)

    @functools.cached_property
    def bounds(self):
        from pyspark.sql import functions as F

        return self.key_counts.agg(*[
            f for k in self.keys for f in (
                F.min(k).alias(f"__mn_{k}"), F.max(k).alias(f"__mx_{k}"),
            )
        ]).first()

    def candidates(self, m: dict) -> list:
        """Entries of version ``m`` that may hold a matching key: a
        file range-disjoint from the source's key bounds on ANY key
        column cannot (rename-aware; names hoisted once per call)."""
        table_cols = [f["name"] for f in m["schema"]["fields"]]
        absent = [k for k in self.keys if k not in table_cols]
        if absent:
            raise ValueError(f"table is missing key columns {absent}")
        b = self.bounds
        names = {k: _stat_names(m, k) for k in self.keys}
        return [
            e for e in _manifest_entries(self.path, m)
            if not any(
                _range_disjoint_any(e, names[k], b[f"__mn_{k}"], b[f"__mx_{k}"])
                for k in self.keys
            )
        ]

    def check_unique(self, max_cnt) -> None:
        """Delta's "multiple source rows matched" error: a duplicated
        AND matched key tuple cannot update one target row."""
        if max_cnt is not None and max_cnt > 1:
            raise ValueError(
                f"{self.who}: multiple source rows share a matched key "
                "tuple — an update cannot replace one target row with "
                "several"
            )

    def files(self, v: int | None, m: dict | None) -> list[dict]:
        """The source's data files, written ONCE (a retry must not
        re-write the source as orphans) and lazily, after the first
        discovery pass (staged earlier, they would sit unreferenced
        through the long join on a concurrent vacuum's grace clock)."""
        if self._files is None:
            self._files = _write_data_files(
                self.source, self.path, 0 if v is None else v + 1,
                bloom_cols=_inherit_bloom_cols(m, self.source),
            )
        return self._files


def _merge_source(
    path: str, source: DataFrame, keys: list[str], who: str,
    txn: tuple[str, int] | None = None,
) -> _MergeSource | None:
    """The merge preamble: key checks, the ``txn`` replay pre-flight,
    and the source checkpoint — None for a replay or an empty source
    (no version is committed)."""
    from qurio_spark.functions.checkpointing import checkpoint_df

    if not keys:
        raise ValueError(f"{who} needs at least one key column")
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(f"source is missing key columns {missing}")
    if txn is not None and snap_txn_seen(path, *txn):
        return None  # replay: this batch is already in the table
    source = checkpoint_df(source, eager=True)
    if source.isEmpty():
        return None
    return _MergeSource(path, source, keys, who)


def snap_merge_mor(
    spark: SparkSession, path: str, source: DataFrame, keys: list[str]
) -> int | None:
    """MERGE-ON-READ ``MERGE INTO`` (the Delta "deletion vectors for
    MERGE" shape): same semantics as :func:`snap_merge`, but matched
    target rows are masked by DELETION-VECTOR sidecars instead of
    rewriting their files — the parent's manifests carry verbatim and
    only the source appends as new files.  Commit cost is O(matched
    rows + |source|) where CoW merge is O(affected file BYTES): an
    upsert touching 0.1% of rows scattered across a 100 TB table
    moves ~nothing here and rewrites ~everything there.  The read-side
    tax is the usual DV anti-join; ``maybe_materialize`` folds the
    vectors away when it grows.

    The position scan (:func:`_mor_fields`) skips already-deleted rows,
    so a key matching only those is NOT matched — it inserts, and no
    duplicate vector entry is written.  Duplicated-AND-matched source
    keys raise, like CoW merge.  Returns the new version, or None for
    an empty source."""
    from pyspark.sql import functions as F

    from qurio_spark.functions.checkpointing import checkpoint_df

    src = _merge_source(path, source, keys, "snap_merge_mor")
    if src is None:
        return None

    def matched(scan):
        hits = checkpoint_df(
            scan.join(src.key_counts, keys, "inner").select(
                "file", "pos", "__cnt"
            ),
            eager=True,
        )
        src.check_unique(hits.agg(F.max("__cnt")).first()[0])
        return hits

    def attempt(v, m):
        dv = {}
        if m is not None:  # else the first call: the source IS the table
            cand = [e["name"] for e in src.candidates(m)]
            dv = _mor_fields(spark, path, m, cand, {k: k for k in keys}, matched)
        # nothing rewritten: the parent's manifests carry verbatim
        return {
            "op": "merge-mor",
            "schema": _evolved_schema((m or {}).get("schema"), src.source, "append"),
            "manifests": _carried_manifests(path, m) + [
                _write_manifest_file(path, src.files(v, m))
            ],
            **dv,
        }

    return _occ_commit(path, attempt)


def snap_update_where(
    spark: SparkSession,
    path: str,
    set_exprs: dict,
    col: str,
    lo=None,
    hi=None,
) -> int | None:
    """Row-level ``UPDATE ... SET ... WHERE col BETWEEN lo AND hi`` —
    copy-on-write like :func:`snap_delete_where`: manifest stats carry
    provably-disjoint files untouched, affected files rewrite with the
    SET expressions applied to matching rows only (NULL predicate
    values never match, so NULL rows pass through unchanged — and
    identically in rewritten and carried files).  ``set_exprs`` maps
    EXISTING column names to Column expressions (they may reference
    other columns' pre-update values, standard UPDATE semantics); each
    is cast to the column's pinned type so a SET can never evolve the
    schema sideways.  Returns the new version, or None when stats
    prove no file holds a matching row."""
    from pyspark.sql import functions as F

    def update(rows, match):
        types = {f.name: f.dataType for f in rows.schema.fields}
        return rows.withColumns(
            {
                c: F.when(match, expr.cast(types[c])).otherwise(F.col(c))
                for c, expr in set_exprs.items()
            }
        )

    return _range_rewrite(
        spark, path, "update", col, lo, hi, update, set_cols=list(set_exprs)
    )


def snap_compact(
    spark: SparkSession,
    path: str,
    small_bytes: int = 8 << 20,
    target_bytes: int = 128 << 20,
    zorder_by: list[str] | None = None,
) -> int | None:
    """Bin-pack small data files into fewer large ones as a new
    version (Iceberg's rewrite_data_files / Delta OPTIMIZE): a
    streaming sink committing per micro-batch accumulates one small
    file per batch, and at 100 TB the per-file open/footer cost —
    not the bytes — dominates such a table's scan time.  Files under
    ``small_bytes`` are read once and rewritten coalesced to
    ~``target_bytes`` chunks; larger files are carried by entry
    untouched.  Rows are byte-equal (pinned in tests), history stays
    time-travel-readable until vacuum, and the commit is OCC-safe
    like every other path.  Returns the new version, or None when
    fewer than two small files exist (a no-op never commits).

    ``zorder_by`` re-clusters the packed rows along the Morton curve
    of those columns — Delta's ``OPTIMIZE ... ZORDER BY``: the
    maintenance pass that turns a stream of small time-ordered files
    into a multi-dimensionally skippable layout."""
    import math

    def attempt(v, m):
        if m is None:
            raise FileNotFoundError(f"no snapshot table at {path}")
        if m.get("clustered"):
            # VALUE-CLUSTERED table (snap_replace_values cluster=True /
            # agg views): bin-packing would merge value-exact files and
            # destroy the O(|delta|) replace property — a no-op, like
            # every other not-applicable maintenance gate (ADVICE r10)
            return None
        small, kept = [], []
        total_small = 0
        for e in _manifest_entries(path, m):
            size = os.path.getsize(os.path.join(path, e["name"]))
            if size < small_bytes:
                small.append(e)
                total_small += size
            else:
                kept.append(e)
        if len(small) < 2:
            return None
        n_out = max(1, math.ceil(total_small / target_bytes))
        # every manifest folds into one: kept entries + packed files
        return {
            "op": "compact",
            **_cow_fields(
                spark, path, v, m, ([], kept, small),
                lambda rows: rows.coalesce(n_out), zorder_by=zorder_by,
            ),
        }

    return _occ_commit(path, attempt)


def snap_append_validated(
    df: DataFrame, path: str, expectations: dict[str, "object"]
) -> int:
    """Quality-gated append (the Delta CHECK-constraint / dbt-test
    shape): every expectation is a boolean Column that must hold on
    EVERY row of the batch; violations abort the commit — the table
    never holds a row that failed a gate, and the error carries
    per-expectation violation counts so the producer can triage
    without re-running the batch.  One validation pass (a single
    aggregate over the batch), then the normal atomic commit."""
    from pyspark.sql import functions as F

    if not expectations:
        return snap_append(df, path)
    agg = df.agg(
        *[
            F.sum(F.when(~cond, 1).otherwise(0)).alias(name)
            for name, cond in expectations.items()
        ]
    ).first()
    bad = {name: int(agg[name] or 0) for name in expectations if agg[name]}
    if bad:
        raise ValueError(
            f"expectations violated, commit aborted: {bad} "
            f"(of {df.count()} batch rows)"
        )
    return snap_append(df, path)


def snap_append_quarantined(
    df: DataFrame,
    path: str,
    expectations: dict[str, "object"],
    dlq_path: str,
) -> dict:
    """Quality gates in DEAD-LETTER mode: instead of aborting the
    whole commit on any violation (``snap_append_validated`` — the
    CHECK-constraint posture), rows that fail an expectation are
    routed to the quarantine snapshot table at ``dlq_path`` — tagged
    with ``_violated`` (the names of every gate they failed) — and
    the clean remainder commits normally.  This is the reference's
    DLQ shape (failed work is retained, inspectable, and replayable
    after a fix — `features/job/job.go:8-17`; M5 quarantine
    semantics) applied at the table-commit boundary.

    Returns ``{"version", "dlq_version", "n_clean", "n_quarantined",
    "gate_counts"}`` (versions are None when the corresponding side
    is empty — an all-clean batch writes no DLQ version, an all-bad
    batch commits nothing to the main table).  Like the abort-mode
    gate (and SQL CHECK), a NULL expectation result counts as a PASS
    — gates must say ``col.isNotNull() & ...`` to reject NULLs.

    One distributed pass annotates each row with its violation list
    (pure column expressions); the annotated batch is materialized
    once (checkpoint) so the clean/bad split and the per-gate counts
    all read the same computation."""
    from pyspark.sql import functions as F

    from qurio_spark.functions.checkpointing import checkpoint_df

    if not expectations:
        return {
            "version": snap_append(df, path), "dlq_version": None,
            "n_clean": None, "n_quarantined": 0, "gate_counts": {},
        }
    empty = F.array().cast("array<string>")
    violated = F.concat(
        *[
            F.when(~cond, F.array(F.lit(name))).otherwise(empty)
            for name, cond in expectations.items()
        ]
    )
    annotated = checkpoint_df(
        df.withColumn("_violated", violated), eager=True
    )
    counts_row = annotated.agg(
        F.count("*").alias("__n"),
        F.sum(F.when(F.size("_violated") > 0, 1).otherwise(0)).alias("__bad"),
        *[
            F.sum(
                F.when(F.array_contains("_violated", name), 1).otherwise(0)
            ).alias(name)
            for name in expectations
        ],
    ).first()
    n_bad = int(counts_row["__bad"] or 0)
    n_clean = int(counts_row["__n"]) - n_bad
    gate_counts = {
        name: int(counts_row[name] or 0)
        for name in expectations
        if counts_row[name]
    }
    version = dlq_version = None
    if n_clean:
        version = snap_append(
            annotated.filter(F.size("_violated") == 0).drop("_violated"), path
        )
    if n_bad:
        dlq_version = snap_append(
            annotated.filter(F.size("_violated") > 0), dlq_path
        )
    return {
        "version": version, "dlq_version": dlq_version,
        "n_clean": n_clean, "n_quarantined": n_bad,
        "gate_counts": gate_counts,
    }
