"""Segmented / incremental BM25 index (operators/bm25.py): each batch
is its own segment, yet scores are identical to a monolithic rebuild
over the union'd corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qurio_spark.operators.bm25 import (
    build_index,
    build_segment,
    merge_segments,
    score_query,
    score_query_maxscore,
    segment_index,
)

QUERY = "hash join spark"


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _scores(df):
    return {r["doc_id"]: round(r["bm25"], 9) for r in df.collect()}


def _topk(df, k):
    rows = df.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k).collect()
    return [(r["doc_id"], round(r["bm25"], 9)) for r in rows]


def _assert_split_matches_monolithic(segs, docs):
    """Both scorers over the merged segments reproduce the monolithic
    build: every exhaustive score, and MaxScore's top-10 (lossless)."""
    mono = score_query(build_index(docs), QUERY)
    idx = segment_index(merge_segments(segs), QUERY)
    got = _scores(score_query(idx, QUERY))
    assert got == _scores(mono)
    assert len(got) > 0
    assert _topk(score_query_maxscore(idx, QUERY, 10), 10) == _topk(mono, 10)


def test_segmented_matches_monolithic(spark, docs):
    """The core incremental-correctness claim: additive df/N/sumdl
    partials reproduce the full-rebuild scores exactly."""
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    _assert_split_matches_monolithic([build_segment(base), build_segment(delta)], docs)


def test_three_way_and_skewed_split(spark, docs):
    """Split shape must not matter — including an empty-ish tail
    segment (a tiny late batch)."""
    segs = [
        build_segment(docs.filter(F.col("doc_id") % 7 == i)) for i in (0, 3)
    ] + [build_segment(docs.filter((F.col("doc_id") % 7).isin([1, 2, 4, 5, 6])))]
    _assert_split_matches_monolithic(segs, docs)


class TestMaxScore:
    """MaxScore/WAND pruning: LOSSLESS for top-k (identical top-k sets
    and exact scores vs the unpruned scorer) while scanning
    dramatically fewer postings into the scoring aggregate when a
    query mixes rare and stopword-class terms."""

    def test_monolithic_lossless_on_real_corpus(self, spark, docs):
        idx = build_index(docs)
        want = _topk(score_query(idx, QUERY), 10)
        got = _topk(score_query_maxscore(idx, QUERY, 10), 10)
        assert got == want

    @pytest.fixture()
    def adversarial(self, spark):
        """400 docs ALL containing the stopword 'the'; only 6 contain
        'zyzzyva'.  A top-5 'zyzzyva the' query is the WAND showcase:
        the stopword's postings dwarf the useful list."""
        rows = []
        for i in range(400):
            body = "the common filler words " + ("the " * (i % 5 + 1))
            if i % 67 == 0:
                body += " zyzzyva rarity"
            rows.append((i, body))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_adversarial_high_df_prunes_and_stays_exact(self, spark, adversarial):
        idx = build_index(adversarial)
        q = "zyzzyva the"
        want = _topk(score_query(idx, q), 5)
        stats: dict = {}
        got = _topk(
            score_query_maxscore(idx, q, 5, prune_stats=stats), 5
        )
        assert got == want
        # the stopword must be classified non-essential and its
        # postings semi-join-filtered before the scoring aggregate
        assert "the" in stats["non_essential"]
        assert "zyzzyva" in stats["essential"]
        assert stats["postings_scored"] < stats["postings_matched"] / 5, stats

    def test_adversarial_segmented_prunes_and_stays_exact(self, spark, adversarial):
        segs = [
            build_segment(adversarial.filter(F.col("doc_id") % 2 == i))
            for i in (0, 1)
        ]
        q = "zyzzyva the"
        idx = segment_index(merge_segments(segs), q)
        want = _topk(score_query(idx, q), 5)
        stats: dict = {}
        got = _topk(score_query_maxscore(idx, q, 5, prune_stats=stats), 5)
        assert got == want
        assert "the" in stats["non_essential"]
        assert stats["postings_scored"] < stats["postings_matched"] / 5, stats

    def test_fewer_matches_than_topk_disables_pruning(self, spark, adversarial):
        """theta needs topk exact partials; with a rarer-than-k term
        the scorer must fall back to full scoring, not over-prune."""
        idx = build_index(adversarial)
        got = _topk(score_query_maxscore(idx, "zyzzyva the", 50), 50)
        want = _topk(score_query(idx, "zyzzyva the"), 50)
        assert got == want

    def test_split_math(self):
        from qurio_spark.operators.bm25 import maxscore_split

        ess, ness = maxscore_split({"a": 5.0, "b": 0.5, "c": 0.3}, 1.0)
        assert set(ness) == {"b", "c"} and ess == ["a"]
        ess, ness = maxscore_split({"a": 5.0, "b": 0.5, "c": 0.6}, 1.0)
        assert set(ness) == {"b"} and set(ess) == {"a", "c"}
        # theta -inf (unknown kth score): nothing is prunable
        ess, ness = maxscore_split({"a": 1.0}, float("-inf"))
        assert ness == [] and ess == ["a"]


class TestBlockMax:
    """Block-Max refinement (Ding & Suel's BMW adapted to the batch
    shape): per-(term, doc-block) bounds let theta discard whole
    doc-blocks, pruning INSIDE long postings lists where the global
    per-term bound cannot — strictly fewer postings scored than plain
    MaxScore on a block-skewed corpus, still lossless for top-k."""

    @pytest.fixture()
    def block_skewed(self, spark):
        """'rare' appears in 10 docs: 2 HIGH-impact (tf=5, short) that
        share one doc-block, and 8 low-impact (tf=1, long) spread over
        OTHER blocks — chosen via doc_block_py so the block geometry is
        deterministic.  Every doc carries the stopword 'common'.  A
        top-2 'rare common' query's theta comes from the two strong
        docs, so every weak-only block is provably dead."""
        from qurio_spark.operators.bm25 import doc_block_py

        by_block: dict[int, list[int]] = {}
        for i in range(4000):
            by_block.setdefault(doc_block_py(i), []).append(i)
        blocks = sorted(by_block)
        strong_block = blocks[0]
        strong = by_block[strong_block][:2]
        weak = [by_block[b][0] for b in blocks[1:9]]
        filler = [by_block[b][1] for b in blocks[9:40]]
        rows = (
            [(i, "rare rare rare rare rare common") for i in strong]
            + [
                (i, "rare common " + " ".join(f"junk{i}x{j}" for j in range(10)))
                for i in weak
            ]
            + [(i, f"common filler{i}") for i in filler]
        )
        return (
            spark.createDataFrame(rows, "doc_id long, text string"),
            strong_block,
            set(strong),
        )

    def test_fewer_postings_scored_than_plain_maxscore(
        self, spark, block_skewed, monkeypatch
    ):
        import qurio_spark.operators.bm25 as bm25_mod
        from qurio_spark.operators.bm25 import term_block_max_impacts

        corpus, strong_block, strong_ids = block_skewed
        idx = build_index(corpus)
        # in-memory indexes skip Block-Max unless the sidecar is
        # attached (build_index leaves it None by design)
        idx.blockmax = term_block_max_impacts(idx)
        q = "rare common"
        want = _topk(score_query(idx, q), 2)
        assert {d for d, _ in want} == strong_ids

        # plain MaxScore baseline: block pruning neutralized
        plain: dict = {}
        monkeypatch.setattr(bm25_mod, "_alive_blocks", lambda *a: None)
        got_plain = _topk(
            score_query_maxscore(idx, q, 2, prune_stats=plain), 2
        )
        monkeypatch.undo()
        assert got_plain == want

        bmw: dict = {}
        got = _topk(score_query_maxscore(idx, q, 2, prune_stats=bmw), 2)
        assert got == want  # lossless
        assert bmw["alive_blocks"] == [strong_block]
        assert bmw["postings_scored"] < plain["postings_scored"], (bmw, plain)

    def test_persisted_index_roundtrips_blockmax(
        self, spark, block_skewed, tmp_path
    ):
        from qurio_spark.operators.bm25 import read_index, write_index

        corpus, strong_block, _ = block_skewed
        path = str(tmp_path / "bmw_idx")
        write_index(build_index(corpus), path)
        idx = read_index(spark, path)
        assert idx.blockmax is not None
        assert "doc_block" in idx.postings.columns
        q = "rare common"
        stats: dict = {}
        got = _topk(score_query_maxscore(idx, q, 2, prune_stats=stats), 2)
        assert got == _topk(score_query(idx, q), 2)
        assert stats["alive_blocks"] == [strong_block]


class TestMaxScoreSliceCache:
    def test_slice_cache_attached_and_released(self, spark):
        """r15: score_query_maxscore persists the query-term postings
        slice (its three consumers shared no subtree before); the
        handle must ride the returned frame and release cleanly."""
        from pyspark.sql import functions as F

        from qurio_spark.operators.bm25 import build_index, score_query_maxscore
        from qurio_spark.operators.cachectl import cached_frames, release_caches

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma doc{i} alpha") for i in range(30)],
            "doc_id int, text string",
        )
        idx = build_index(docs)
        out = score_query_maxscore(idx, "alpha doc1", 5)
        frames = cached_frames(out)
        assert len(frames) == 1  # exactly the filtered slice
        assert frames[0].storageLevel.useMemory  # actually persisted
        rows = {r["doc_id"]: r["bm25"] for r in out.collect()}
        assert rows  # scored something
        assert release_caches(out) == 1
        assert not frames[0].storageLevel.useMemory  # released
