"""Structured Streaming: foreachBatch ingest, cross-batch dedup and the
evicting sessionizer — each checked against its batch twin (streaming
final output must equal the batch computation on the same data)."""

import pytest
from pyspark.sql import functions as F

from qurio_spark.schemas import DOCUMENTS_RAW
from qurio_spark.streaming.ingest import streaming_ingest


class TestForeachBatchIngest:
    def test_stream_ingest_equals_batch_chunks(self, spark, tmp_path):
        docs = [
            ("s1", "https://d.com/a", "A", "p",
             "# Title A\n\nSome prose content about spark streaming ingestion pipelines.",
             [], 0, "success", None, None),
            ("s2", "https://d.com/b", "B", "p",
             "# Title B\n\n```python\nprint('hello')\n```",
             [], 0, "success", None, None),
        ]
        src = str(tmp_path / "docs")
        spark.createDataFrame(docs, DOCUMENTS_RAW).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(DOCUMENTS_RAW).parquet(src)
        chunks_path = str(tmp_path / "chunks")
        q = streaming_ingest(stream, chunks_path, str(tmp_path / "ck")).start()
        q.awaitTermination(120)
        got = spark.read.parquet(chunks_path)
        from qurio_spark.plans.pipeline import build_chunks

        want = build_chunks(spark.createDataFrame(docs, DOCUMENTS_RAW))
        assert got.count() == want.count()
        assert {r["type"] for r in got.collect()} == {r["type"] for r in want.collect()}


class TestIncrementalStreamIngest:
    def test_body_hash_skip_across_microbatches(self, spark, tmp_path):
        """Streaming re-ingest with the body_hash ledger: batch 1
        ingests, batch 2 re-crawls with ONE page changed (only that
        page's chunks rebuild), batch 3 is fully unchanged (no write at
        all).  Unchanged pages' chunk rows survive byte-identical."""
        import os

        from qurio_spark.plans.snapshots import snap_read
        from qurio_spark.schemas import DOCUMENTS_RAW
        from qurio_spark.streaming.ingest import streaming_ingest_incremental

        src = str(tmp_path / "src")
        chunks_path = str(tmp_path / "chunks")
        ledger_path = str(tmp_path / "ledger")
        os.makedirs(src)

        def doc(sid, url, body):
            return (
                sid, url, "T", "p", body, [], 0, "success", None, None,
            )

        body_a = "# Alpha page\n\nStable content that should never be rebuilt here."
        body_b = "# Beta page\n\nOriginal content of the beta page before edits."
        body_b2 = "# Beta page\n\nEdited content of the beta page after the change."

        def run(batch_rows, n):
            spark.createDataFrame(batch_rows, DOCUMENTS_RAW).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            stream = spark.readStream.schema(DOCUMENTS_RAW).parquet(src)
            q = streaming_ingest_incremental(
                stream, chunks_path, ledger_path, str(tmp_path / f"ckpt")
            ).start()
            q.awaitTermination(120)

        run([doc("s1", "u/a", body_a), doc("s1", "u/b", body_b)], 1)
        first = {
            (r["url"], r["chunk_index"]): r["content"]
            for r in snap_read(spark, chunks_path).collect()
        }
        assert {u for u, _ in first} == {"u/a", "u/b"}
        mtime_before = max(
            os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(chunks_path) for f in fs
        )

        # batch 2: a unchanged, b changed
        run([doc("s1", "u/a", body_a), doc("s1", "u/b", body_b2)], 2)
        second = {
            (r["url"], r["chunk_index"]): r["content"]
            for r in snap_read(spark, chunks_path).collect()
        }
        a_keys = [k for k in first if k[0] == "u/a"]
        assert all(second[k] == first[k] for k in a_keys)  # untouched
        assert any("Edited content" in v for (u, _), v in second.items() if u == "u/b")
        assert not any("Original content" in v for (u, _), v in second.items() if u == "u/b")

        # batch 3: everything unchanged -> nothing rewritten on disk
        mtime_mid = max(
            os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(chunks_path) for f in fs
        )
        run([doc("s1", "u/a", body_a), doc("s1", "u/b", body_b2)], 3)
        mtime_after = max(
            os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(chunks_path) for f in fs
        )
        assert mtime_after == mtime_mid
        third = {
            (r["url"], r["chunk_index"]): r["content"]
            for r in snap_read(spark, chunks_path).collect()
        }
        assert third == second


    def test_null_source_id_replaces_not_duplicates(self, spark, tmp_path):
        """A NULL source_id page must replace its own chunks on change
        like any other source: plain isin(touched) skipped the
        NULL-keyed existing chunks (SQL IN never matches NULL) and the
        non-NULL-safe replace either kept them (duplicates) or crashed
        sorting a mixed None/str value list."""
        import os

        from pyspark.sql import types as T

        from qurio_spark.plans.snapshots import snap_read
        from qurio_spark.schemas import DOCUMENTS_RAW
        from qurio_spark.streaming.ingest import streaming_ingest_incremental

        # nullable twin of DOCUMENTS_RAW: the contract says source_id
        # is non-null, but an upstream violating it must not corrupt
        # the chunks table
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in DOCUMENTS_RAW]
        )
        src = str(tmp_path / "src")
        chunks_path = str(tmp_path / "chunks")
        ledger_path = str(tmp_path / "ledger")
        os.makedirs(src)

        def doc(sid, url, body):
            return (
                sid, url, "T", "p", body, [], 0, "success", None, None,
            )

        body1 = "# Null page\n\nOriginal content for the null-source page."
        body2 = "# Null page\n\nEdited content for the null-source page."
        other = "# Other\n\nA second page owned by a real source id."

        def run(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            stream = spark.readStream.schema(schema).parquet(src)
            q = streaming_ingest_incremental(
                stream, chunks_path, ledger_path, str(tmp_path / "ckpt")
            ).start()
            q.awaitTermination(120)

        run([doc(None, "u/n", body1), doc("s1", "u/o", other)])
        run([doc(None, "u/n", body2), doc("s1", "u/o", other)])
        rows = snap_read(spark, chunks_path).collect()
        keys = [(r["url"], r["chunk_index"]) for r in rows]
        assert len(keys) == len(set(keys))  # no duplicated chunk rows
        null_contents = [r["content"] for r in rows if r["url"] == "u/n"]
        assert any("Edited content" in c for c in null_contents)
        assert not any("Original content" in c for c in null_contents)
        # the untouched real-source page survived
        assert any(r["url"] == "u/o" for r in rows)


class TestReadParquetIfExists:
    def test_missing_path_is_first_batch(self, spark, tmp_path):
        from qurio_spark.streaming.ingest import read_parquet_if_exists

        assert read_parquet_if_exists(spark, str(tmp_path / "nope")) is None

    def test_existing_table_reads(self, spark, tmp_path):
        from qurio_spark.streaming.ingest import read_parquet_if_exists

        p = str(tmp_path / "t")
        spark.range(5).write.parquet(p)
        df = read_parquet_if_exists(spark, p)
        assert df is not None and df.count() == 5

    def test_non_missing_failures_propagate(self, spark, tmp_path):
        """A path that EXISTS but cannot be read as parquet must raise —
        falling back to 'first batch' here would mask data loss (the
        dynamic partition overwrite would drop other pages' chunks)."""
        import pytest

        from qurio_spark.streaming.ingest import read_parquet_if_exists

        bad = tmp_path / "bad"
        bad.mkdir()
        (bad / "junk.txt").write_text("not parquet at all")
        with pytest.raises(Exception, match="(?i)parquet|infer|schema"):
            read_parquet_if_exists(spark, str(bad))


class TestStreamingNearDupDedup:
    def test_cross_batch_lsh_gate(self, spark, tmp_path):
        """Near-dup gate across micro-batches: batch 1 drops an
        in-batch duplicate, batch 2 drops both a cross-batch duplicate
        (vs the persisted signature store) and an in-batch one; the
        min-id doc of every duplicate class is the survivor."""
        import os

        from qurio_spark.streaming.ingest import streaming_near_dup_dedup

        src = str(tmp_path / "src")
        accepted = str(tmp_path / "accepted")
        store = str(tmp_path / "store")
        os.makedirs(src)

        t_fox = "the quick brown fox jumps over the lazy dog again and again"
        t_spark = "completely different content about spark dataframes and shuffles"
        t_lsh = "novel text about minhash signatures and lsh banding buckets"

        def run(rows):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
            stream = spark.readStream.schema("doc_id long, text string").parquet(src)
            q = streaming_near_dup_dedup(
                stream, accepted, store, str(tmp_path / "ckpt"), threshold=0.9
            ).start()
            q.awaitTermination(120)

        run([(1, t_fox), (2, t_fox), (3, t_spark)])
        assert {
            r["doc_id"] for r in spark.read.parquet(accepted).collect()
        } == {1, 3}

        run([(4, t_fox), (5, t_lsh), (6, t_lsh)])
        got = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
        assert got == {1, 3, 5}
        # the store holds exactly the survivors' signatures
        assert {
            r["doc_id"] for r in spark.read.parquet(store).collect()
        } == {1, 3, 5}


class TestEvictingSessionize:
    def test_closed_sessions_emitted_once_and_state_evicted(
        self, spark, tmp_path
    ):
        """sessionize_stream_evicting: inline-closed sessions emit in
        the closing batch, idle sessions finalize via event-time
        timeout once the watermark passes last_ts + gap, and
        still-open sessions are never emitted (append contract)."""
        import glob
        import os
        import shutil

        from qurio_spark.streaming.ingest import sessionize_stream_evicting

        t0 = 1_700_000_000
        T2, T3 = t0 + 1_000_000, t0 + 2_000_000
        batches = [
            # user1 session0 (2 events), user2 session0 (1 event)
            [(0, t0, 1, 1.0), (1, t0 + 10, 1, 2.0), (2, t0, 2, 5.0)],
            # user1: far later -> inline-closes session0, opens session1
            [(3, T2, 1, 7.0)],
            # user3 advances the stream so batch-2's watermark (T2-10s)
            # fires user2's timeout; user1 session1 + user3 stay open
            [(4, T3, 3, 9.0)],
        ]
        src = tmp_path / "src"
        src.mkdir()
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                [(e, float(ts), u, v) for e, ts, u, v in rows],
                "event_id long, epoch double, user_id long, value double",
            ).select(
                "event_id",
                F.col("epoch").cast("timestamp").alias("ts"),
                "user_id",
                "value",
            )
            stage = str(tmp_path / f"stage{i}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(f"{stage}/part-*.parquet")[0]
            dest = str(src / f"b{i}.parquet")
            shutil.copy(part, dest)
            os.utime(dest, (1000 + i, 1000 + i))  # deterministic order

        schema = "event_id long, ts timestamp, user_id long, value double"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            sessionize_stream_evicting(stream, gap_s=1800)
            .writeStream.format("memory")
            .queryName("closed_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = sorted(
            (r["user_id"], r["session_seq"], r["n_events"], r["session_value"])
            for r in spark.sql("SELECT * FROM closed_sessions").collect()
        )
        assert got == [
            (1, 0, 2, 3.0),   # inline close (batch 2's gap jump)
            (1, 1, 1, 7.0),   # timeout: availableNow's final flush
            (2, 0, 1, 5.0),   # event-time timeout (batch 3)
        ]
        # user3 (last event at the stream's max ts) stays OPEN and is
        # never emitted — the append contract.  Rerun the same source
        # as one batch: the closed set must converge to the same rows
        # (availableNow's final no-data batch flushes the timeouts)
        q2 = (
            sessionize_stream_evicting(
                spark.readStream.schema(schema).parquet(str(src)),
                gap_s=1800,
            )
            .writeStream.format("memory")
            .queryName("closed_one_batch")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        one = sorted(
            (r["user_id"], r["session_seq"], r["n_events"], r["session_value"])
            for r in spark.sql("SELECT * FROM closed_one_batch").collect()
        )
        assert one == got  # batching-invariant closed set


class TestSessionizerExactArithmetic:
    """r12: the sessionizer's time/value arithmetic is exact-integer —
    these pin the CONTRACT at its boundaries, where the old float path
    could diverge from the batch twin / oracle:

      - gap decisions are FLOOR-SECOND diffs (== the batch twin's
        cast(ts as long) lag), not exact-microsecond diffs;
      - session_end_ms is the exact epoch millisecond (the float path
        could truncate 1 ms low when seconds*1000 rounded down);
      - values accumulate as integer cents.
    """

    def _closed(self, spark, tmp_path, rows):
        from qurio_spark.streaming.ingest import sessionize_stream_evicting

        df = spark.createDataFrame(
            [(e, float(ts), u, v) for e, ts, u, v in rows],
            "event_id long, epoch double, user_id long, value double",
        ).select(
            "event_id",
            F.col("epoch").cast("timestamp").alias("ts"),
            "user_id",
            "value",
        )
        src = str(tmp_path / "src")
        df.coalesce(1).write.mode("overwrite").parquet(src)
        schema = "event_id long, ts timestamp, user_id long, value double"
        q = (
            sessionize_stream_evicting(
                spark.readStream.schema(schema).parquet(src), gap_s=1800
            )
            .writeStream.format("memory")
            .queryName(f"exact_{tmp_path.name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (
                r["user_id"], r["session_seq"], r["session_end_ms"],
                r["n_events"], r["session_value"],
            )
            for r in spark.sql(f"SELECT * FROM exact_{tmp_path.name}").collect()
        )

    def test_gap_is_floor_second_diff(self, spark, tmp_path):
        """u1: floor diff exactly 1800 -> SAME session even though the
        exact diff is 1800.999998s; u2: floor diff 1801 -> SPLIT even
        though the exact diff is 1800.000002s.  This is the batch
        twin's cast-to-long semantics, which the old float path got
        wrong on both counts."""
        t0 = 1_700_000_000
        far = t0 + 100_000  # advances the watermark past everything
        rows = [
            (0, t0 + 10.000001, 1, 1.0),
            (1, t0 + 1810.999999, 1, 2.0),   # floor diff 1800 -> same
            (2, t0 + 10.999999, 2, 1.0),
            (3, t0 + 1811.000001, 2, 2.0),   # floor diff 1801 -> split
            (4, far, 9, 0.0),
        ]
        got = self._closed(spark, tmp_path, rows)
        by_user = {}
        for u, seq, end_ms, n, v in got:
            by_user.setdefault(u, []).append((seq, n, v))
        assert by_user[1] == [(0, 2, 3.0)]            # one 2-event session
        assert by_user[2] == [(0, 1, 1.0), (1, 1, 2.0)]  # split

    def test_session_end_ms_is_exact_epoch_ms(self, spark, tmp_path):
        """ts = ...002.000000 exactly: float(epoch)*1000 lands at
        x001.9999999 and int() truncates a millisecond low; the
        integer path must report the exact ms."""
        t0 = 1_700_000_002.0  # float repr is ...001.9999999...
        rows = [(0, t0, 1, 6.55), (1, t0 + 100_000, 9, 0.0)]
        got = self._closed(spark, tmp_path, rows)
        u1 = [g for g in got if g[0] == 1]
        assert u1 == [(1, 0, 1_700_000_002_000, 1, 6.55)]

    def test_equal_timestamps_order_by_event_id(self, spark, tmp_path):
        """Two events at the SAME timestamp: event_id breaks the tie,
        so the session state machine is deterministic."""
        t0 = 1_700_000_000
        rows = [
            (7, t0 + 5, 1, 1.25),
            (3, t0 + 5, 1, 2.50),
            (9, t0 + 100_000, 9, 0.0),
        ]
        got = self._closed(spark, tmp_path, rows)
        u1 = [g for g in got if g[0] == 1]
        assert u1 == [(1, 0, (t0 + 5) * 1000, 2, 3.75)]


class TestEvictingMatchesBatchPredicateRandomized:
    """Seeded-random equivalence: for arbitrary event sets, the
    evicting sessionizer's closed set must equal the BATCH
    computation of the oracle's closedness predicate (lag+cumsum
    sessions; closed = a later session exists OR end_ms + gap_ms <
    final watermark).  The committed sweep checks one fixed corpus —
    this pins the contract on adversarial shapes: duplicate
    timestamps, gaps AT the floor-second boundary, microsecond
    offsets, single-event users."""

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_random_event_sets(self, spark, tmp_path, seed):
        import random

        from pyspark.sql.window import Window
        from qurio_spark.streaming.ingest import sessionize_stream_evicting

        rng = random.Random(seed)
        t0 = 1_700_000_000
        rows = []
        eid = 0
        for u in range(1, 41):
            t = t0 + rng.uniform(0, 60)
            for _ in range(rng.randint(1, 12)):
                # adversarial step mix: tiny, exactly-at-boundary (in
                # floor seconds), just-over, and huge
                step = rng.choice(
                    [0.0, 0.000001, 5.0, 1799.5, 1800.0, 1800.999,
                     1801.0, 3600.0, 40_000.0]
                )
                t += step
                rows.append((eid, round(t, 6), u, rng.randint(1, 999) / 100.0))
                eid += 1
        df = spark.createDataFrame(
            [(e, float(ts), u, v) for e, ts, u, v in rows],
            "event_id long, epoch double, user_id long, value double",
        ).select(
            "event_id",
            F.col("epoch").cast("timestamp").alias("ts"),
            "user_id", "value",
        )
        src = str(tmp_path / "src")
        df.coalesce(1).write.mode("overwrite").parquet(src)
        schema = "event_id long, ts timestamp, user_id long, value double"
        q = (
            sessionize_stream_evicting(
                spark.readStream.schema(schema).parquet(src),
                gap_s=1800, watermark="10 seconds",
            )
            .writeStream.format("memory")
            .queryName(f"rand_closed_{seed}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["user_id"], r["session_seq"], r["n_events"],
             r["session_value"])
            for r in spark.sql(f"SELECT * FROM rand_closed_{seed}").collect()
        )

        # batch twin of the oracle's closedness predicate
        batch = spark.read.parquet(src)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        secs = F.col("ts").cast("long")
        ms = (F.col("ts").cast("double") * 1000).cast("long")
        flagged = batch.withColumn(
            "new_session",
            F.when(secs - F.lag(secs).over(w) > 1800, 1).otherwise(0),
        ).withColumn(
            "session_seq",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("int"),
        ).withColumn("ms", ms)
        per = flagged.groupBy("user_id", "session_seq").agg(
            F.count("*").alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5))) / 100.0)
            .alias("session_value"),
            F.max("ms").alias("end_ms"),
        )
        wm = batch.agg(
            ((F.max("ts").cast("double") * 1000).cast("long") - 10_000)
            .alias("wm")
        ).first()["wm"]
        last = per.groupBy("user_id").agg(
            F.max("session_seq").alias("last_seq")
        )
        want = sorted(
            (r["user_id"], r["session_seq"], r["n_events"],
             r["session_value"])
            for r in per.join(last, "user_id")
            .filter(
                (F.col("session_seq") < F.col("last_seq"))
                | (F.col("end_ms") + 1_800_000 < F.lit(wm))
            )
            .collect()
        )
        assert got == want, f"seed {seed}: {len(got)} vs {len(want)}"
        assert len(want) > 10  # the generator really produced sessions
