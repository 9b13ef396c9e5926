"""End-to-end ingest -> index -> search slice (SURVEY §7 step 4: the
'ONE real query'), plus catalog ops and the MCP-shaped API.

Mirrors the reference e2e contract: ingest a fixture markdown corpus,
run qurio_search with alpha/limit/filters, assert ranked results
(apps/e2e/tests/search.spec.ts:1-35), plus idempotent re-ingest (M1)
and read_page reconstruction (Q5).
"""

import itertools
import json
import threading
import time

import pytest
from pyspark.sql import functions as F

from qurio_spark.api import Engine
from qurio_spark.operators.catalog import (
    QueryLogger,
    create_source,
    empty_failed_rows,
    list_sources,
    new_source_row,
    quarantine_failures,
    retry_payloads,
    soft_delete_source,
    stats,
)
from qurio_spark.operators.resident import ResidentSnapshot
from qurio_spark.plans.pipeline import build_chunks, ingest
from qurio_spark.schemas import DOCUMENTS_RAW

DOCS = [
    # (source_id, url, title, path, content, links, depth, status, error, metadata)
    (
        "s1", "https://d.com/health", "Healthcheck", "docs > ops",
        "# Healthcheck\n\nTo configure the healthcheck endpoint set the "
        "interval and timeout values in the service configuration file.\n\n"
        "```yaml\nhealthcheck:\n  interval: 30s\n  timeout: 5s\n```\n\n"
        "The healthcheck probe reports service liveness to the orchestrator.",
        [], 0, "success", None, None,
    ),
    (
        "s1", "https://d.com/install", "Install", "docs > setup",
        "# Installation guide\n\nDownload the binary release and place it on "
        "your PATH before starting the service for the first time.\n\n"
        "```bash\ncurl -fsSL https://d.com/install.sh | sh\n```",
        [], 0, "success", None, None,
    ),
    (
        "s2", "https://e.com/query", "Query engine", "engine",
        "# Query engine\n\nThe query engine executes hybrid searches by "
        "fusing keyword scores with vector similarity scores for ranking.",
        [], 0, "success", None, None,
    ),
    (
        "s2", "https://e.com/broken", None, None, "", [], 1, "failed",
        "ERR_TIMEOUT", None,
    ),
]


@pytest.fixture(scope="module")
def docs_raw(spark):
    return spark.createDataFrame(DOCS, DOCUMENTS_RAW)


@pytest.fixture(scope="module")
def chunks(spark, docs_raw, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("chunks") / "chunks")
    return ingest(spark, docs_raw, path, source_names={"s1": "Docs", "s2": "Engine"})


class TestIngest:
    def test_chunk_rows_shape(self, chunks):
        rows = chunks.collect()
        assert len(rows) > 0
        types = {r["type"] for r in rows}
        assert "config" in types  # yaml fence
        assert "cmd" in types  # bash fence
        assert "prose" in types
        # failed rows never ingest
        assert chunks.filter(F.col("url") == "https://e.com/broken").count() == 0

    def test_chunk_index_contiguous_per_url(self, chunks):
        for url, grp in (
            chunks.groupBy("url")
            .agg(F.sort_array(F.collect_list("chunk_index")).alias("idx"))
            .collect()
        ):
            assert grp == list(range(len(grp)))

    def test_embeddings_unit_norm(self, chunks):
        import math

        for r in chunks.select("embedding").collect():
            n = math.sqrt(sum(x * x for x in r["embedding"]))
            assert n == pytest.approx(1.0, abs=1e-5)

    def test_partitioned_by_source(self, spark, docs_raw, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("part") / "chunks")
        ingest(spark, docs_raw, path)
        import os

        assert any(d.startswith("source_id=") for d in os.listdir(path))

    def test_idempotent_reingest_overwrites_partition(
        self, spark, docs_raw, tmp_path_factory
    ):
        """M1: re-ingesting a source replaces exactly its chunks."""
        path = str(tmp_path_factory.mktemp("re") / "chunks")
        first = ingest(spark, docs_raw, path)
        n_s1 = first.filter(F.col("source_id") == "s1").count()
        n_s2 = first.filter(F.col("source_id") == "s2").count()
        # re-ingest ONLY s1 with a shrunk corpus
        s1_again = docs_raw.filter(
            (F.col("source_id") == "s1") & (F.col("url") == "https://d.com/health")
        )
        second = ingest(spark, s1_again, path)
        assert second.filter(F.col("source_id") == "s2").count() == n_s2  # untouched
        assert 0 < second.filter(F.col("source_id") == "s1").count() < n_s1


class TestSearchE2E:
    def test_keyword_search_finds_healthcheck(self, chunks):
        eng = Engine(chunks=chunks)
        rows = eng.search("how to configure healthcheck", alpha=0.0, limit=5)
        assert rows
        assert "healthcheck" in rows[0]["content"].lower()

    def test_filters_restrict_hits(self, chunks):
        eng = Engine(chunks=chunks)
        rows = eng.search("healthcheck interval", alpha=0.0, limit=5,
                          filters={"type": "config"})
        assert rows
        assert all(r["type"] == "config" for r in rows)

    def test_source_id_sugar(self, chunks):
        eng = Engine(chunks=chunks)
        rows = eng.search("query engine ranking", alpha=0.0, limit=5, source_id="s2")
        assert rows
        assert all(r["source_id"] == "s2" for r in rows)

    def test_query_log(self, spark, chunks):
        logger = QueryLogger(spark)
        eng = Engine(chunks=chunks, logger=logger)
        eng.search("healthcheck", limit=3)
        logged = logger.flush().collect()
        assert len(logged) == 1
        assert logged[0]["query"] == "healthcheck"
        assert logged[0]["num_results"] >= 1


class TestServingSnapshot:
    """Engine.search runs against a snapshot of ``chunks`` it prepares
    once: on the driver (no Spark job per search or page read) below
    ``spark.driver.maxResultSize``, else in a handful of labelled Spark
    jobs.  ``api.resident_tier`` makes the choice; patching it to
    return False forces the Spark tier."""

    _groups = itertools.count()

    @staticmethod
    def _force(monkeypatch, tier):
        import qurio_spark.api as api

        if tier == "spark":
            monkeypatch.setattr(api, "resident_tier", lambda spark, n_bytes: False)

    def _in_group(self, spark, fn):
        """Run ``fn`` with this thread's jobs in a fresh job group ->
        (fn's result, the descriptions of the group's jobs)."""
        sc = spark.sparkContext
        group = f"test-serving-{next(self._groups)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        descs = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            d = store.job(jid).description()
            descs.append(d.get() if d.isDefined() else None)
        return out, descs

    def test_search_runs_at_most_five_jobs(self, spark, chunks, monkeypatch):
        self._force(monkeypatch, "spark")
        eng = Engine(chunks=chunks)
        try:
            eng.search("configure healthcheck", limit=3)  # prepares the snapshot
            rows, descs = self._in_group(
                spark, lambda: eng.search("healthcheck interval timeout", limit=3)
            )
        finally:
            eng.close()
        assert rows
        assert 1 <= len(descs) <= 5

    def test_resident_search_and_page_read_run_no_job(self, spark, chunks):
        eng = Engine(chunks=chunks)
        try:
            eng.search("configure healthcheck", limit=3)  # prepares the snapshot
            assert isinstance(eng._prepared[1], ResidentSnapshot)
            rows, descs = self._in_group(
                spark, lambda: eng.search("healthcheck interval timeout", limit=3)
            )
            filtered, f_descs = self._in_group(
                spark, lambda: eng.search("healthcheck", limit=3, source_id="s2")
            )
            page, p_descs = self._in_group(
                spark,
                lambda: eng.process_request({
                    "jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "qurio_read_page",
                               "arguments": {"url": "https://d.com/health"}},
                }),
            )
        finally:
            eng.close()
        assert rows and filtered and all(r["source_id"] == "s2" for r in filtered)
        assert "--- Code (yaml) ---" in page["result"]["content"][0]["text"]
        assert descs == f_descs == p_descs == []

    def test_search_jobs_carry_phase_descriptions(self, spark, chunks, monkeypatch):
        self._force(monkeypatch, "spark")
        sc = spark.sparkContext
        eng = Engine(chunks=chunks)
        try:
            eng.search("configure healthcheck", limit=3)
            sc.setJobDescription("caller")
            try:
                _, descs = self._in_group(spark, lambda: eng.search("healthcheck", limit=3))
                assert sc.getLocalProperty("spark.job.description") == "caller"
            finally:
                sc.setLocalProperty("spark.job.description", None)
        finally:
            eng.close()
        assert set(descs) == {
            "qurio_search:stats", "qurio_search:bm25_range", "qurio_search:topk"
        }

    def test_prepare_jobs_carry_tier_descriptions(self, spark, chunks, monkeypatch):
        """Preparing runs one measuring aggregate, then the resident
        tier's collect; the Spark tier stops after the aggregate."""
        for tier, want in (
            ("resident", ["qurio_search:prepare", "qurio_search:snapshot"]),
            ("spark", ["qurio_search:prepare"]),
        ):
            with monkeypatch.context() as m:
                self._force(m, tier)
                eng = Engine(chunks=chunks)
                try:
                    _, descs = self._in_group(spark, eng._search_frame)
                finally:
                    eng.close()
            assert sorted(descs) == want, tier

    def test_snapshot_collect_over_max_result_size_falls_back(self, chunks, monkeypatch):
        """When the resident collect hits ``spark.driver.maxResultSize``
        despite the size estimate, the engine serves the same rows from
        the persisted Spark tier; any other collect error propagates."""
        eng = Engine(chunks=chunks)
        try:
            want = eng.search("configure healthcheck", limit=3)
            assert isinstance(eng._prepared[1], ResidentSnapshot)
        finally:
            eng.close()
        assert want
        collected = []

        def too_big(df):
            collected.append(df)
            raise RuntimeError(
                "Total size of serialized results is bigger than spark.driver.maxResultSize"
            )

        monkeypatch.setattr(type(chunks), "toArrow", too_big)
        eng = Engine(chunks=chunks)
        try:
            got = eng.search("configure healthcheck", limit=3)
            served = eng._prepared[1]
            assert not isinstance(served, ResidentSnapshot) and served.is_cached
        finally:
            eng.close()
        assert got == want

        def broken(df):
            collected.append(df)
            raise RuntimeError("executor lost")

        monkeypatch.setattr(type(chunks), "toArrow", broken)
        with pytest.raises(RuntimeError, match="executor lost"):
            Engine(chunks=chunks).search("configure healthcheck", limit=3)
        assert len(collected) == 2
        collected[-1].unpersist()  # the failed prepare's frame

    def test_concurrent_first_searches_prepare_once(self, chunks, monkeypatch):
        import qurio_spark.api as api

        prepare = api.prepare_chunks
        for tier in ("resident", "spark"):
            builds, results, errors = [], [], []

            def slow_prepare(df):
                builds.append(df)
                time.sleep(0.5)  # both threads are inside search meanwhile
                return prepare(df)

            def search():
                try:
                    results.append(eng.search("healthcheck probe", limit=2))
                except Exception as e:  # reported below, never hidden
                    errors.append(e)

            with monkeypatch.context() as m:
                self._force(m, tier)
                m.setattr(api, "prepare_chunks", slow_prepare)
                eng = Engine(chunks=chunks)
                threads = [threading.Thread(target=search) for _ in range(2)]
                try:
                    for t in threads:
                        t.start()
                    for t in threads:
                        t.join(timeout=300)
                    served = eng._prepared[1]
                finally:
                    eng.close()
            assert not any(t.is_alive() for t in threads)
            assert not errors
            assert len(results) == 2 and results[0] == results[1] and results[0]
            assert len(builds) == 1
            assert isinstance(served, ResidentSnapshot) == (tier == "resident")

    def test_reassigned_chunks_are_served(self, chunks, monkeypatch):
        for tier in ("resident", "spark"):
            with monkeypatch.context() as m:
                self._force(m, tier)
                eng = Engine(chunks=chunks)
                try:
                    assert eng.search("healthcheck", limit=5)[0]["source_id"] == "s1"
                    old = eng._prepared[1]
                    eng.chunks = chunks.filter(F.col("source_id") == "s2")
                    rows = eng.search("healthcheck", limit=5)
                    assert eng._prepared[1] is not old
                finally:
                    eng.close()
            assert rows and all(r["source_id"] == "s2" for r in rows)
            assert isinstance(old, ResidentSnapshot) == (tier == "resident")
            assert not (old.frame if tier == "resident" else old).is_cached


class TestMCPContract:
    def test_initialize_and_tools_list(self, chunks):
        eng = Engine(chunks=chunks)
        resp = eng.process_request({"jsonrpc": "2.0", "id": 1, "method": "initialize"})
        assert resp["result"]["serverInfo"]["name"] == "qurio-spark"
        assert eng.process_request(
            {"jsonrpc": "2.0", "method": "notifications/initialized"}
        ) is None
        tools = eng.process_request({"jsonrpc": "2.0", "id": 2, "method": "tools/list"})
        names = {t["name"] for t in tools["result"]["tools"]}
        assert names == {
            "qurio_search", "qurio_list_sources", "qurio_list_pages", "qurio_read_page"
        }

    def test_search_tool_happy_path(self, chunks):
        eng = Engine(chunks=chunks)
        resp = eng.process_request({
            "jsonrpc": "2.0", "id": 3, "method": "tools/call",
            "params": {"name": "qurio_search",
                       "arguments": {"query": "configure healthcheck", "alpha": 0.3}},
        })
        text = resp["result"]["content"][0]["text"]
        assert "Result 1 (Score:" in text
        assert "qurio_read_page" in text

    def test_search_tool_error_paths(self, chunks):
        eng = Engine(chunks=chunks)
        no_query = eng.process_request({
            "jsonrpc": "2.0", "id": 4, "method": "tools/call",
            "params": {"name": "qurio_search", "arguments": {}},
        })
        assert no_query["error"]["code"] == -32602
        bad_alpha = eng.process_request({
            "jsonrpc": "2.0", "id": 5, "method": "tools/call",
            "params": {"name": "qurio_search",
                       "arguments": {"query": "x", "alpha": 1.5}},
        })
        assert bad_alpha["error"]["code"] == -32602
        bad_method = eng.process_request(
            {"jsonrpc": "2.0", "id": 6, "method": "nope"}
        )
        assert bad_method["error"]["code"] == -32601

    def test_read_page_reconstruction(self, chunks):
        eng = Engine(chunks=chunks)
        resp = eng.process_request({
            "jsonrpc": "2.0", "id": 7, "method": "tools/call",
            "params": {"name": "qurio_read_page",
                       "arguments": {"url": "https://d.com/health"}},
        })
        text = resp["result"]["content"][0]["text"]
        assert "--- Code (yaml) ---" in text  # Q5 code-chunk header
        assert "healthcheck" in text.lower()


def _empty_sources(spark):
    from qurio_spark.schemas import SOURCES

    return spark.createDataFrame([], SOURCES)


class TestCatalog:
    def test_create_dedup_and_soft_delete(self, spark):
        sources = _empty_sources(spark)
        sources, created = create_source(spark, sources, new_source_row("https://a.com"))
        assert created
        sources, again = create_source(spark, sources, new_source_row("https://a.com"))
        assert not again  # F6 content-hash dedup
        sid = sources.collect()[0]["id"]
        sources = soft_delete_source(sources, sid)
        assert list_sources(sources).count() == 0
        # soft-deleted hash no longer blocks re-creation
        sources, recreated = create_source(spark, sources, new_source_row("https://a.com"))
        assert recreated

    def test_quarantine_and_retry(self, spark, docs_raw):
        failed = quarantine_failures(spark, docs_raw)
        rows = failed.collect()
        assert len(rows) == 1
        assert rows[0]["error"] == "ERR_TIMEOUT"
        payloads = retry_payloads(failed)
        assert payloads[0]["url"] == "https://e.com/broken"

    def test_stats_fanin(self, spark, chunks, docs_raw):
        sources = _empty_sources(spark)
        sources, _ = create_source(spark, sources, new_source_row("https://a.com"))
        s = stats(sources, chunks, quarantine_failures(spark, docs_raw))
        assert s["sources"] == 1
        assert s["documents"] == chunks.count()
        assert s["failed_jobs"] == 1


class TestBodyHashSkipUnchanged:
    def test_split_and_incremental_apply(self, spark, docs_raw):
        """Recrawl where one page changed: the unchanged pages are
        skipped (no rebuild), the changed page's chunks are replaced,
        and untouched pages' chunks survive byte-identical."""
        from qurio_spark.plans.pipeline import (
            apply_incremental,
            build_chunks,
            split_unchanged,
        )

        v1 = build_chunks(docs_raw, source_names={"s1": "Docs", "s2": "Engine"})
        prior = (
            docs_raw.filter(F.col("status") == "success")
            .select("url", F.sha2("content", 256).alias("body_hash"))
        )
        # recrawl of s1: /health identical, /install changed
        recrawl = docs_raw.filter(
            (F.col("source_id") == "s1") & (F.col("status") == "success")
        ).withColumn(
            "content",
            F.when(
                F.col("url") == "https://d.com/install",
                F.concat(F.col("content"), F.lit("\n\nThis new paragraph documents the upgrade steps added in version two.")),
            ).otherwise(F.col("content")),
        )
        changed, unchanged = split_unchanged(recrawl, prior)
        assert [r["url"] for r in unchanged.collect()] == ["https://d.com/health"]
        assert [r["url"] for r in changed.collect()] == ["https://d.com/install"]

        v2_changed = build_chunks(
            changed.drop("body_hash"), source_names={"s1": "Docs", "s2": "Engine"}
        )
        merged = apply_incremental(v1, v2_changed, changed.select("url"))

        def rows(df, url):
            return sorted(
                (r["chunk_index"], r["content"]) for r in df.filter(F.col("url") == url).collect()
            )

        # unchanged + untouched pages: byte-identical chunk rows
        for url in ("https://d.com/health", "https://e.com/query"):
            assert rows(merged, url) == rows(v1, url)
        # changed page: rebuilt (the new paragraph appears)
        new_rows = rows(merged, "https://d.com/install")
        assert new_rows != rows(v1, "https://d.com/install")
        assert any("This new paragraph documents the upgrade steps added in version two." in c for _, c in new_rows)


class TestSchemaEvolution:
    def test_additive_column_merge_schema(self, spark, docs_raw, tmp_path_factory):
        """Additive schema evolution on the chunks store (the
        vector/schema.go:82-99 ensure-properties analog): a new
        partition written with an extra column coexists with old
        partitions; mergeSchema surfaces it as NULL for old rows and
        old readers keep working."""
        from qurio_spark.plans.pipeline import build_chunks, read_chunks, write_chunks

        path = str(tmp_path_factory.mktemp("evolve") / "chunks")
        v1 = build_chunks(docs_raw.filter(F.col("source_id") == "s1"))
        write_chunks(v1, path)

        # schema v2 adds a quality column; only s2's partition carries it
        v2 = build_chunks(docs_raw.filter(F.col("source_id") == "s2")).withColumn(
            "quality", F.lit(0.9)
        )
        (
            v2.repartition("source_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("source_id")
            .parquet(path)
        )

        merged = read_chunks(spark, path, merge_schema=True)
        assert "quality" in merged.columns
        per_source = {
            r["source_id"]: r["q"]
            for r in merged.groupBy("source_id")
            .agg(F.max("quality").alias("q"))
            .collect()
        }
        assert per_source["s2"] == pytest.approx(0.9)
        assert per_source["s1"] is None  # old partition: NULL-filled
        # rows from both schema versions are all present
        assert merged.count() == v1.count() + v2.count()
        # a non-merge read still works for old readers (first file wins)
        assert read_chunks(spark, path).count() == merged.count()
