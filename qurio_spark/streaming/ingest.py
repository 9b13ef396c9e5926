"""Structured Streaming surface.

The reference has no event-time streaming — NSQ is an at-least-once
work queue (SURVEY §1.3, §2.7) — so this module is the *extension*
surface: the events table treated as a stream, with the batch queries
in ``__spark_entry__`` (events_sessions etc.) as their exactly-equivalent
batch twins (same expressions, so batch output == final streaming
output — that equivalence is the test oracle, tests/test_streaming.py).

Patterns covered:
  - gap sessionization with event-time timeouts and state eviction
  - foreachBatch ingest: reuse the BATCH chunk pipeline per micro-batch
    — the Spark-native replacement for the reference's queue consumers
    (50-way NSQ handlers -> micro-batch task parallelism, M7)
  - streaming near-dup dedup against the already-committed corpus.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from qurio_spark.functions.checkpointing import checkpoint_df
from qurio_spark.plans.pipeline import build_chunks


@contextmanager
def streaming_state_partitions(spark, n: int = 8):
    """Size ``spark.sql.shuffle.partitions`` for a bounded streaming
    run, restoring the previous value afterwards.

    Stateful streaming operators materialize ONE state-store instance
    per shuffle partition (per side, for joins) per micro-batch; for a
    bounded availableNow replay the partition count should track input
    volume, not CPU count — at sf0.1 cutting 32 stores to 8 took the
    stream-stream join 8.0 s -> 2.8 s with identical results, and the
    same fixed overhead dominates the ingest/near-dedup pipelines.  On
    a real cluster size this to key cardinality instead.  The value is
    BAKED INTO the checkpoint at the first micro-batch, so every run
    sharing a checkpoint must sit inside the same-sized context."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def sessionize_stream_evicting(
    events_stream: DataFrame,
    gap_s: int = 1800,
    watermark: str = "10 seconds",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization per user via
    ``applyInPandasWithState`` (the extension point for operators
    Structured Streaming lacks natively): emits each session exactly
    ONCE when it CLOSES (append semantics) and EVICTS the user's state
    via an EVENT-TIME TIMEOUT.  The batch twin is the lag+cumsum
    sessionization of ``q_events_sessions``.

    A session closes two ways, both emitted here:
      - INLINE: a later event for the same user arrives more than
        ``gap_s`` after the session's last event (the previous session
        finalizes in that micro-batch);
      - TIMEOUT: the stream's watermark passes ``last_ts + gap_s``
        with no newer event — the open session finalizes and
        ``state.remove()`` drops the user entirely.

    State therefore scales with |users active within one gap of the
    watermark|, not |all users ever seen| — idle keys cost nothing.
    Sessions still open when the stream stops are never emitted (the
    append contract: only finalized rows).  Timeout timestamps clamp
    to just past the current watermark, so late-arriving groups
    cannot request an already-passed timeout (an API error).

    Output rows carry ``session_end_ms`` (the closed session's last
    event time, exact epoch ms) because ``session_seq`` ALONE is not a
    key: eviction drops the counter, so a returning user's next
    session restarts at seq 0 — ``(user, seq)`` pairs repeat across
    active periods (ADVICE r11).  ``(user_id, session_end_ms)`` is
    collision-free by construction (a user's sessions are time-ordered
    and > gap apart); ``session_seq`` is only unique within one
    contiguous active period.

    Exact-integer arithmetic throughout (r12): integer-microsecond
    event times, floor-second gap diffs matching the batch twin, the
    timeout at exactly ``end_ms + gap_ms`` (fires when the watermark
    passes it STRICTLY — the same ``end_ms + gap*1000 < wm_ms``
    closedness predicate the oracle computes), and integer-cents value
    accumulation so emitted sums are batching-order-invariant."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{user_col} long, session_seq int, session_end_ms long, "
        "n_events long, session_value double"
    )
    state_schema = (
        "last_us long, session_seq int, n_events long, session_cents long"
    )

    def fn(key, pdfs, state):
        closed: list[tuple] = []
        if state.hasTimedOut:
            last_us, seq, n, cents = state.get
            closed.append((key[0], seq, last_us // 1000, n, cents))
            state.remove()
        else:
            if state.exists:
                last_us, seq, n, cents = state.get
            else:
                last_us, seq, n, cents = None, 0, 0, 0
            # ONE global sort over the whole group: a group larger
            # than the Arrow batch size arrives as several chunks in
            # delivery-dependent order, and sorting each chunk
            # separately would make session assignment
            # nondeterministic run-to-run
            chunks = [p for p in pdfs if len(p)]
            if chunks:
                pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
                pdf = pdf.sort_values([ts_col, order_col])
                for ts, val in zip(pdf[ts_col], pdf[value_col]):
                    t_us = ts.value // 1000  # exact integer micros
                    if (
                        last_us is not None
                        and t_us // 1_000_000 - last_us // 1_000_000 > gap_s
                    ):
                        closed.append((key[0], seq, last_us // 1000, n, cents))
                        seq, n, cents = seq + 1, 0, 0
                    last_us = t_us
                    n += 1
                    cents += int(math.floor(float(val) * 100.0 + 0.5))
            state.update((last_us, seq, n, cents))
            state.setTimeoutTimestamp(
                max(
                    last_us // 1000 + gap_s * 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            {
                user_col: [c[0] for c in closed],
                "session_seq": [c[1] for c in closed],
                "session_end_ms": [c[2] for c in closed],
                "n_events": [c[3] for c in closed],
                "session_value": [c[4] / 100.0 for c in closed],
            }
        )

    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_ingest(
    docs_stream: DataFrame,
    chunks_path: str,
    checkpoint: str,
    embedder=None,
):
    """documents_raw as a stream -> chunk+embed per micro-batch ->
    append to the chunks table.  foreachBatch reuses the exact batch
    pipeline, so streaming and batch ingest cannot drift."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        chunks = build_chunks(batch_df, embedder)
        chunks.write.mode("append").partitionBy("source_id").parquet(chunks_path)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def read_parquet_if_exists(spark, path: str) -> DataFrame | None:
    """None ONLY for the missing-path first-batch case.  Any other
    failure (transient FS error, corrupt footer, unreadable files) must
    propagate and fail the micro-batch so Structured Streaming retries
    it — a broad fallback here would silently rebuild from only the
    current batch and dynamic-partition-overwrite away every other
    page's chunks in the touched partitions (masked data loss)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: None)() or ""
        if "PATH_NOT_FOUND" in cond or "Path does not exist" in str(e):
            return None
        raise


def streaming_ingest_incremental(
    docs_stream: DataFrame,
    chunks_path: str,
    ledger_path: str,
    checkpoint: str,
    embedder=None,
):
    """Streaming re-ingest with body_hash change detection: each
    micro-batch is split against the persisted page-hash ledger
    (plans/pipeline.split_unchanged) — unchanged pages are skipped
    entirely (no chunk/embed work, no write), changed pages replace
    their own chunks via per-page delete-before-insert, and the ledger
    is upserted.  The streaming twin of the batch skip-unchanged path:
    both call the same combinators, so they cannot drift.

    State lives in two SNAPSHOT tables (chunks + ledger,
    plans/snapshots.py), not in stream state — micro-batches are the
    reference's queue drains (M7), and the ledger is the pages table's
    body_hash column (result_consumer.go:195-198).

    Why snapshot tables (round-8 change): the previous plain-parquet
    form needed THREE materialize-before-overwrite checkpoints per
    micro-batch, because dynamic partition overwrite clobbers the
    very files the merge is reading.  Snapshot commits write new
    immutable files and swap a manifest, so the merge can read the
    current version while writing the next — the only remaining
    checkpoint is the `changed` diamond (consumed by the chunk build
    AND the ledger upsert).  Each commit is also atomic (no torn
    micro-batch for concurrent readers) and versioned (time travel
    across ingest history for free).  A replayed micro-batch
    converges through the ledger: its re-sent pages hash as unchanged
    and the batch becomes a no-op — the same idempotency the
    reference gets from body-hash checks, now with atomic visibility.
    """
    from pyspark.sql import functions as F

    from qurio_spark.plans.pipeline import apply_incremental, split_unchanged
    from qurio_spark.plans.snapshots import (
        snap_overwrite,
        snap_read_if_exists,
        snap_replace_values,
        value_match,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = snap_read_if_exists(spark, ledger_path)
        if prior is None:  # first batch: no ledger yet
            prior = spark.createDataFrame([], "url string, body_hash string")
        ok = batch_df.filter(F.col("status") == "success")
        changed, _unchanged = split_unchanged(ok, prior)
        changed = checkpoint_df(changed, eager=True)  # split + chunk + ledger reuse
        # ONE driver job serves both the emptiness gate and the
        # touched-source set (r16; was a limit-1 count plus a second
        # collect): a non-empty batch always yields >= 1 distinct
        # source_id row (a NULL source is the [None] list, which
        # value_match handles)
        touched = [
            r["source_id"]
            for r in changed.select("source_id").distinct().collect()
        ]
        if not touched:
            return
        new_chunks = build_chunks(changed.drop("body_hash"), embedder)
        existing = snap_read_if_exists(spark, chunks_path)

        def commit_chunks() -> None:
            if existing is None:  # first batch: no chunks yet
                snap_replace_values(
                    spark, chunks_path, "source_id", [],
                    new_chunks.repartition("source_id"),
                )
                return
            # one atomic replaceWhere commit: only files holding a
            # touched source rewrite (manifest stats prune the rest);
            # kept rows of touched sources merge with the rebuilt
            # chunks, every other file is carried by name untouched.
            # value_match, not isin: a NULL source_id's existing
            # chunks must join the merge too, or the replace would
            # drop them while inserting the rebuilt NULL-keyed rows
            existing_touched = existing.filter(
                value_match(F.col("source_id"), touched)
            )
            merged = apply_incremental(
                existing_touched, new_chunks, changed.select("url")
            )
            snap_replace_values(
                spark, chunks_path, "source_id", touched,
                merged.repartition("source_id"),
            )

        # the ledger is (url, hash) — tiny relative to the corpus; one
        # file per version keeps the per-commit task count flat.
        # §2.6 overlap: the ledger FRAME materializes while the chunks
        # commit runs (it reads only `prior` — a manifest-pinned
        # snapshot — and the checkpointed `changed`); its COMMIT stays
        # strictly after the chunks commit, preserving the replay
        # crash-consistency order (ledger-after-chunks: a crash
        # between the two re-sends the batch, which the ledger then
        # classifies as changed and the chunks rebuild converges)
        from qurio_spark.functions.jobs import run_concurrent

        ledger = prior.join(
            changed.select("url"), "url", "left_anti"
        ).unionByName(changed.select("url", "body_hash")).coalesce(1)
        box: dict = {}
        run_concurrent([
            commit_chunks,
            lambda: box.setdefault(
                "ledger", checkpoint_df(ledger, eager=True)
            ),
        ])
        snap_overwrite(box["ledger"], ledger_path)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def streaming_near_dup_dedup(
    docs_stream: DataFrame,
    accepted_path: str,
    store_path: str,
    checkpoint: str,
    num_perm: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 7,
):
    """Cross-batch NEAR-duplicate gate: the MinHash-LSH twin of the
    body-hash ledger in ``streaming_ingest_incremental``.  Each
    micro-batch:

      1. MinHash signatures for the batch (one mapless column pass);
      2. drop batch docs that LSH-match the persisted signature store
         (``operators/dedup.minhash_lsh_match`` — only docs accepted by
         EARLIER batches can suppress new ones, so replay order is the
         dedup order);
      3. in-batch near-dup: LSH pairs over the remaining batch docs ->
         connected components -> keep each component's min-id doc;
      4. append survivors to ``accepted_path`` and their signatures to
         the store.

    State is the append-only signature store (tiny: num_perm bigints
    per accepted doc), not stream state — the same economics that let
    the body-hash ledger scale.  With ``threshold=1.0`` the match
    predicate degenerates to signature equality (an equivalence
    relation), which makes the full replay's accepted set equal to
    "min id per signature class" — the SQL-expressible contract the
    driver oracle checks."""
    from qurio_spark.operators.dedup import (
        connected_components,
        minhash_lsh_match,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    def _sig_key(col):
        return F.concat_ws(",", F.transform(col, lambda x: x.cast("string")))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = checkpoint_df(
            minhash_signatures(batch_df, num_perm, n, id_col, text_col, seed),
            eager=True,
        )
        store = read_parquet_if_exists(spark, store_path)
        if threshold >= 1.0:
            # signature EQUALITY is an equivalence relation: the gate
            # collapses to one groupBy (min id per class) plus one
            # equality anti-join against the store — no banding, no
            # pair graph, no components (same result, pinned by the
            # driver oracle)
            surviving = sigs
            if store is not None:
                surviving = sigs.join(
                    store.select(_sig_key(F.col("signature")).alias("_sk")).distinct(),
                    _sig_key(sigs["signature"]) == F.col("_sk"),
                    "left_anti",
                )
            keep = (
                surviving.groupBy(_sig_key(F.col("signature")).alias("_sk"))
                .agg(F.min(id_col).alias(id_col))
                .select(id_col)
            )
        else:
            surviving = sigs
            if store is not None:
                hits = (
                    minhash_lsh_match(
                        sigs, store, num_perm, bands, threshold, id_col
                    )
                    .select(id_col)
                    .distinct()
                )
                surviving = sigs.join(hits, id_col, "left_anti")
            pairs = minhash_lsh_pairs(
                None, num_perm, bands, n, threshold, id_col, text_col, seed,
                signatures=surviving,
            )
            cc = connected_components(
                pairs, surviving.select(id_col), id_col=id_col
            )
            keep = cc.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
        surviving = checkpoint_df(
            surviving.join(keep, id_col, "left_semi"), eager=True
        )
        if surviving.limit(1).count() == 0:
            return
        # §2.6 job overlap: the accepted-docs append and the signature-
        # store append are independent writes to different paths (both
        # consume the already-checkpointed `surviving`); replay safety
        # is unchanged — a crash between the two re-runs the batch in
        # either form
        from qurio_spark.functions.jobs import run_concurrent

        run_concurrent([
            lambda: batch_df.join(
                surviving.select(id_col), id_col, "left_semi"
            ).write.mode("append").parquet(accepted_path),
            lambda: surviving.write.mode("append").parquet(store_path),
        ])

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
