"""BM25 / vector / hybrid search correctness (operator Q2 + satellites).

Mirrors the reference's retrieval expectations (FIXTURES.md §6): top-k
size, filter satisfaction, score monotonicity (alpha=0 -> BM25 order,
alpha=1 -> cosine order), deterministic tiebreaks.
"""

import math
import re

import pytest
from pyspark.sql import functions as F

from qurio_spark.api import Engine
from qurio_spark.functions.embedder import HashingEmbedder, embed_text_py
from qurio_spark.functions.vector import cosine, literal_vector
from qurio_spark.operators import bm25 as bm25_op
from qurio_spark.operators.hybrid import hybrid_search, resolve_params
from qurio_spark.operators.similarity import brute_force_topk

CORPUS = [
    (0, "spark shuffle join performance tuning", "en"),
    (1, "cat sat on the mat", "en"),
    (2, "spark spark spark everywhere", "en"),
    (3, "the quick brown fox jumps over the lazy dog", "en"),
    (4, "join strategies broadcast shuffle sort merge", "en"),
    (5, "gato sentado", "es"),
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text", "lang"])
    emb = HashingEmbedder(dim=16)
    return df.withColumn("embedding", emb.udf()(F.col("text"))).cache()


def _tokens(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


def _bm25_py(corpus, query, k1=1.2, b=0.75):
    """Independent reference implementation for cross-checking.

    ``corpus``: (id, text, ...) rows — the CANDIDATE set: df, N and
    avgdl are computed over exactly these rows, so a filtered search is
    checked by passing the filtered subset."""
    toks = [_tokens(t[1]) for t in corpus]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    df = {}
    for t in toks:
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    scores = {}
    for i, t in enumerate(toks):
        s = 0.0
        for term in sorted(set(_tokens(query))):
            tf = t.count(term)
            if tf == 0:
                continue
            idf = math.log(1 + (n - df.get(term, 0) + 0.5) / (df.get(term, 0) + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        scores[corpus[i][0]] = s
    return scores


class TestBM25:
    def test_matches_hand_computation(self, spark, docs):
        got = {
            r["doc_id"]: r["bm25"]
            for r in bm25_op.score_query_inline(docs, "spark join").collect()
        }
        want = _bm25_py(CORPUS, "spark join")
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k], rel=1e-9), k

    def test_term_frequency_saturation(self, spark, docs):
        scores = {
            r["doc_id"]: r["bm25"]
            for r in bm25_op.score_query_inline(docs, "spark").collect()
        }
        # doc 2 repeats 'spark' 3x -> higher than doc 0 (1x), but k1
        # saturation keeps it < 3x ratio
        assert scores[2] > scores[0] > 0
        assert scores[2] < 3 * scores[0]
        assert scores[1] == 0.0

    def test_empty_query(self, spark, docs):
        assert bm25_op.score_query_inline(docs, "???").filter("bm25 > 0").count() == 0


class TestVectorSearch:
    def test_self_similarity_top1(self, spark, docs):
        q = embed_text_py("cat sat on the mat", 16)
        top = brute_force_topk(docs, q, k=2, id_col="doc_id").collect()
        assert top[0]["doc_id"] == 1
        assert top[0]["score"] == pytest.approx(1.0, abs=1e-6)

    def test_cosine_matches_python(self, spark, docs):
        q = embed_text_py("spark shuffle", 16)
        rows = docs.select(
            "doc_id", cosine(F.col("embedding"), literal_vector(q)).alias("c")
        ).collect()
        import numpy as np

        for r in rows:
            vec = [float(x) for x in docs.filter(F.col("doc_id") == r["doc_id"]).first()["embedding"]]
            want = float(np.dot(vec, q) / (np.linalg.norm(vec) * np.linalg.norm(q)))
            assert r["c"] == pytest.approx(want, abs=1e-6)

    def test_literal_vector_keeps_bit_patterns(self, spark):
        """The SQL-text literal keeps every double's exact bits, the sign
        of a zero included (a bare ``-0.0`` in SQL parses as +0.0)."""
        import struct

        vals = [-0.0, 0.0, 0.1, -1.5e-300, 5e-324, 1.7976931348623157e308, -2.0 / 3.0]
        got = spark.range(1).select(literal_vector(vals).alias("v")).first()["v"]
        assert [struct.pack(">d", x) for x in got] == [struct.pack(">d", x) for x in vals]


class TestHybrid:
    def test_alpha0_is_bm25_order(self, spark, docs):
        q = "spark join"
        res = hybrid_search(docs, q, embed_text_py(q, 16), alpha=0.0, limit=6).collect()
        bm = _bm25_py(CORPUS, q)
        want = sorted(bm, key=lambda d: (-bm[d], d))
        assert [r["doc_id"] for r in res] == want

    def test_alpha1_is_cosine_order(self, spark, docs):
        q = "spark join"
        qv = embed_text_py(q, 16)
        res = hybrid_search(docs, q, qv, alpha=1.0, limit=6).collect()
        cos = {
            r["doc_id"]: r["c"]
            for r in docs.select(
                "doc_id", cosine(F.col("embedding"), literal_vector(qv)).alias("c")
            ).collect()
        }
        want = sorted(cos, key=lambda d: (-cos[d], d))
        assert [r["doc_id"] for r in res] == want

    def test_limit_and_filters(self, spark, docs):
        q = "cat"
        res = hybrid_search(
            docs, q, embed_text_py(q, 16), alpha=0.5, limit=2, filters={"lang": "en"}
        ).collect()
        assert len(res) == 2
        en_ids = {c[0] for c in CORPUS if c[2] == "en"}
        assert all(r["doc_id"] in en_ids for r in res)

    def test_scores_bounded(self, spark, docs):
        q = "fox dog"
        res = hybrid_search(docs, q, embed_text_py(q, 16), alpha=0.5, limit=6).collect()
        for r in res:
            assert 0.0 <= r["score"] <= 1.0 + 1e-9

    def test_param_validation(self):
        assert resolve_params(None, None) == (0.5, 10)
        assert resolve_params(0.3, 5) == (0.3, 5)
        with pytest.raises(ValueError):
            resolve_params(1.5, 5)
        with pytest.raises(ValueError):
            resolve_params(0.5, 0)
        with pytest.raises(ValueError):
            resolve_params(0.5, 51)

    def test_constant_score_column_normalizes_to_zero(self, spark):
        """Every candidate has the same embedding (constant cosine) and
        no candidate holds the query term (constant BM25 of 0): both
        normalized columns, and so the fused score, are 0."""
        df = spark.createDataFrame(
            [(1, "alpha beta", [1.0, 2.0]), (2, "gamma", [1.0, 2.0])],
            "doc_id long, text string, embedding array<float>",
        )
        res = hybrid_search(df, "delta", [0.5, 0.5], alpha=0.5, limit=5).collect()
        assert [r["doc_id"] for r in res] == [1, 2]
        for r in res:
            assert (r["bm25_norm"], r["vec_norm"], r["score"]) == (0.0, 0.0, 0.0)


CHUNK_SCHEMA = (
    "source_id string, source_name string, url string, chunk_index int, "
    "content string, type string, language string, title string, "
    "embedding array<float>"
)


@pytest.fixture(scope="module")
def engine_chunks(spark):
    """CORPUS as a chunk table: one chunk per doc, its language as its
    source, 16-dim hashing embeddings stored as float32."""
    rows = [
        (lang, lang.upper(), f"https://x.test/{i}", 0, text, "prose", None,
         None, embed_text_py(text, 16))
        for i, text, lang in CORPUS
    ]
    return spark.createDataFrame(rows, CHUNK_SCHEMA)


def _hybrid_py(rows, query, alpha, limit):
    """Pure-Python BM25 + cosine min-max fusion over ``rows`` (the
    candidates): the top ``limit`` (url, score), ranked like the engine
    (6-decimal score desc, then ``url#chunk_index``)."""
    import numpy as np

    bm = _bm25_py([(r["url"], r["content"]) for r in rows], query)
    q = np.array(embed_text_py(query, 16))
    cos = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float32).astype(np.float64)
        n = np.linalg.norm(v) * np.linalg.norm(q)
        cos[r["url"]] = float(v @ q / n) if n > 0 else 0.0

    def norm(d):
        lo, hi = min(d.values()), max(d.values())
        return {u: (x - lo) / (hi - lo) if hi > lo else 0.0 for u, x in d.items()}

    bn, vn = norm(bm), norm(cos)
    score = {u: alpha * vn[u] + (1 - alpha) * bn[u] for u in bm}
    order = sorted(score, key=lambda u: (-math.floor(score[u] * 1e6 + 0.5), f"{u}#0"))
    return [(u, score[u]) for u in order[:limit]]


class TestEngineSearch:
    def _engine(self, chunks):
        return Engine(chunks=chunks, embedder=HashingEmbedder(dim=16))

    def test_filtered_search_equals_python_fusion(self, engine_chunks):
        """BM25's df, N and avgdl are taken over the filtered candidates,
        not the corpus: the engine equals the Python reference run on
        the subset, which itself differs from corpus-wide statistics."""
        q = "spark join shuffle"
        rows = engine_chunks.collect()
        subset = [r for r in rows if r["source_id"] == "en"]
        corpus_bm = _bm25_py([(r["url"], r["content"]) for r in rows], q)
        subset_bm = _bm25_py([(r["url"], r["content"]) for r in subset], q)
        assert any(corpus_bm[u] != pytest.approx(subset_bm[u]) for u in subset_bm)

        got = self._engine(engine_chunks).search(q, alpha=0.3, limit=4, source_id="en")
        want = _hybrid_py(subset, q, 0.3, 4)
        assert [r["url"] for r in got] == [u for u, _ in want]
        for r, (_, score) in zip(got, want):
            assert r["score"] == pytest.approx(score, abs=1e-9)

    def test_punctuation_only_query(self, engine_chunks):
        """No query tokens: BM25 and the (zero) query vector are constant,
        so every score is 0 and the id tiebreak orders the results."""
        got = self._engine(engine_chunks).search("?!... --", limit=3)
        assert [r["url"] for r in got] == [f"https://x.test/{i}" for i in range(3)]
        assert all(r["score"] == 0.0 for r in got)

    def test_filter_matching_nothing_is_empty(self, engine_chunks):
        eng = self._engine(engine_chunks)
        assert eng.search("spark join", source_id="no-such-source") == []
        assert eng.search("spark", filters={"language": "klingon"}) == []


class TestBatchHybrid:
    def test_single_query_batch_equals_hybrid_search(self, spark, sf_dir):
        """Invariant: a batch of ONE query reproduces hybrid_search
        exactly (same alpha/limit/corpus)."""
        from qurio_spark.operators.hybrid import hybrid_search, hybrid_search_batch
        import __spark_entry__ as entry

        docs = entry._docs_with_vecs(spark, sf_dir)
        qvec = entry._qvec(spark, sf_dir)
        single = hybrid_search(
            docs, entry.QUERY_TEXT, qvec, alpha=0.5, limit=10
        ).collect()
        queries = spark.createDataFrame(
            [("q", entry.QUERY_TEXT, qvec)],
            "query_id string, query_text string, query_vec array<float>",
        )
        batch = hybrid_search_batch(docs, queries, alpha=0.5, limit=10).collect()
        want = [(r["doc_id"], round(r["score"], 9)) for r in single]
        got = [(r["doc_id"], round(r["score"], 9)) for r in batch]
        assert got == want


class TestPersistentBM25Index:
    def test_prebuilt_scores_match_in_dag_build(self, spark, docs, tmp_path):
        """Write-then-read scoring must equal the in-DAG build exactly
        (df/N/avgdl frozen at write time on the same corpus)."""
        idx = bm25_op.build_index(docs)
        path = str(tmp_path / "bm25_idx")
        bm25_op.write_index(idx, path)
        stored = bm25_op.read_index(spark, path)

        q = "spark join"
        live = {r["doc_id"]: r["bm25"] for r in bm25_op.score_query(idx, q).collect()}
        pre = {
            r["doc_id"]: r["bm25"]
            for r in bm25_op.score_query_prebuilt(stored, q).collect()
        }
        assert set(live) == set(pre)
        for d in live:
            assert live[d] == pytest.approx(pre[d], abs=1e-12)

    def test_bucket_pruning_reaches_the_scan(self, spark, docs, tmp_path):
        """The term_bucket predicate must appear as a partition filter
        (directory pruning), not a post-scan filter."""
        idx = bm25_op.build_index(docs)
        path = str(tmp_path / "bm25_idx2")
        bm25_op.write_index(idx, path)
        stored = bm25_op.read_index(spark, path)
        plan = stored.postings.filter(
            F.col("term_bucket").isin([bm25_op.term_bucket_py("spark")])
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "term_bucket" in plan

    def test_bucket_map_portable(self):
        """Driver-side bucket == column-side bucket for sample terms."""
        assert 0 <= bm25_op.term_bucket_py("spark") < bm25_op.N_TERM_BUCKETS

    def test_empty_query_prebuilt(self, spark, docs, tmp_path):
        idx = bm25_op.build_index(docs)
        path = str(tmp_path / "bm25_idx3")
        bm25_op.write_index(idx, path)
        stored = bm25_op.read_index(spark, path)
        assert bm25_op.score_query_prebuilt(stored, "!!!").count() == 0


class TestBatchHybridIVF:
    def _fixture(self, spark, sf_dir):
        import __spark_entry__ as m

        docs = m._docs_with_vecs(spark, sf_dir)
        lits = spark.createDataFrame(
            m._BATCH_QUERIES, "query_id string, query_text string, qvec_id long"
        )
        qe = m._t(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("qvec_id"), F.col("embedding").alias("query_vec")
        )
        return docs, lits.join(qe, "qvec_id").drop("qvec_id")

    def test_exact_match_vs_dense(self, spark, sf_dir):
        """exact_stats=True (the parity/test configuration — NOT the
        default, which is the pure-pruned scale mode) must reproduce
        the dense batch result exactly (same pairs, same scores) —
        recall 1 at this sf."""
        from qurio_spark.operators.hybrid import (
            hybrid_search_batch,
            hybrid_search_batch_ivf,
        )

        docs, queries = self._fixture(spark, sf_dir)

        def rows(df):
            return sorted(
                (r["query_id"], r["doc_id"], round(r["score"], 9))
                for r in df.collect()
            )

        dense = rows(hybrid_search_batch(docs, queries, alpha=0.5, limit=5))
        ivf = rows(
            hybrid_search_batch_ivf(
                docs, queries, alpha=0.5, limit=5, exact_stats=True
            )
        )
        assert dense == ivf

    def test_candidate_normalized_mode_is_sane(self, spark, sf_dir):
        """exact_stats=False (the pure-pruned scale mode) still returns
        k rows per query with scores in [0, 1]."""
        from qurio_spark.operators.hybrid import hybrid_search_batch_ivf

        docs, queries = self._fixture(spark, sf_dir)
        res = hybrid_search_batch_ivf(
            docs, queries, alpha=0.5, limit=5, exact_stats=False
        ).collect()
        per_q = {}
        for r in res:
            per_q.setdefault(r["query_id"], []).append(r)
            assert -1e-9 <= r["score"] <= 1 + 1e-9
        assert all(len(v) == 5 for v in per_q.values())


class TestPreparedIndexParity:
    def test_prepared_paths_equal_inline(self, spark, sf_dir):
        """Every query that can consume a prepared (persisted) index
        must return exactly the inline-build result: bm25_prebuilt,
        hybrid_topk, batch_hybrid, batch_hybrid_ivf, simhash_near,
        minhash_lsh, ngram_jaccard."""
        import __spark_entry__ as m

        names = [
            "bm25_prebuilt", "hybrid_topk", "batch_hybrid", "batch_hybrid_ivf",
            "simhash_near", "minhash_lsh", "ngram_jaccard", "lsh_prebuilt",
            "ann_pq", "ann_ivfpq",
        ]

        def rows(name):
            return sorted(tuple(r) for r in m.queries()[name](spark, sf_dir).collect())

        # force the inline path even if another test prepared indexes
        saved = (dict(m._BM25_INDEX_DIRS), dict(m._IVF_INDEX_DIRS),
                 dict(m._DEDUP_INDEX_DIRS), dict(m._LSH_INDEX_DIRS),
                 dict(m._PQ_INDEX_DIRS))
        saved_handles = (dict(m._BM25_INDEX_HANDLES), dict(m._IVF_INDEX_HANDLES),
                         dict(m._LSH_INDEX_HANDLES), dict(m._PQ_INDEX_HANDLES))
        try:
            m._BM25_INDEX_DIRS.clear(); m._IVF_INDEX_DIRS.clear()
            m._DEDUP_INDEX_DIRS.clear(); m._LSH_INDEX_DIRS.clear()
            m._PQ_INDEX_DIRS.clear()
            m._BM25_INDEX_HANDLES.clear(); m._IVF_INDEX_HANDLES.clear()
            m._LSH_INDEX_HANDLES.clear(); m._PQ_INDEX_HANDLES.clear()
            inline = {n: rows(n) for n in names}
            # the persisted-only LSH path must equal its in-DAG twin
            inline["lsh_prebuilt_vs_in_dag"] = rows("lsh_topk")
            m.prepare_indexes(spark, sf_dir)
            prepared = {n: rows(n) for n in names}
            prepared["lsh_prebuilt_vs_in_dag"] = rows("lsh_prebuilt")
        finally:
            m._BM25_INDEX_DIRS.clear(); m._BM25_INDEX_DIRS.update(saved[0])
            m._IVF_INDEX_DIRS.clear(); m._IVF_INDEX_DIRS.update(saved[1])
            m._DEDUP_INDEX_DIRS.clear(); m._DEDUP_INDEX_DIRS.update(saved[2])
            m._LSH_INDEX_DIRS.clear(); m._LSH_INDEX_DIRS.update(saved[3])
            m._BM25_INDEX_HANDLES.clear()
            m._BM25_INDEX_HANDLES.update(saved_handles[0])
            m._IVF_INDEX_HANDLES.clear()
            m._IVF_INDEX_HANDLES.update(saved_handles[1])
            m._LSH_INDEX_HANDLES.clear()
            m._LSH_INDEX_HANDLES.update(saved_handles[2])
            m._PQ_INDEX_DIRS.clear(); m._PQ_INDEX_DIRS.update(saved[4])
            m._PQ_INDEX_HANDLES.clear()
            m._PQ_INDEX_HANDLES.update(saved_handles[3])
        for n in list(names) + ["lsh_prebuilt_vs_in_dag"]:
            assert prepared[n] == inline[n], n

    def test_hybrid_prebuilt_index_over_joined_corpus(self, spark, tmp_path):
        """BM25 stats (df/N/avgdl) are frozen into a persisted index at
        build time and are DEFINED over the scored corpus.  The hybrid
        family scores documents JOIN embeddings; at sf0.1 the documents
        table is 2.5x larger than the joined corpus, so an index built
        over bare ``documents`` carries the wrong stats.  This pins the
        fix at the operator level, on a fixture where the two corpora
        actually differ (the existing parity test runs at scales where
        they coincide)."""
        docs = spark.createDataFrame(
            [
                (i, f"spark hash join doc number {i} " + ("filler words " * (i % 4)))
                for i in range(10)
            ],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [(i, [float(i + 1), 1.0, 0.5]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        joined = docs.join(emb, docs["doc_id"] == emb["vec_id"]).drop("vec_id")
        qvec = [1.0, 0.2, 0.1]

        def rows(df):
            return [
                (r["doc_id"], round(r["score"], 9)) for r in df.collect()
            ]

        inline = rows(
            hybrid_search(joined, "hash join spark", qvec, alpha=0.5, limit=5)
        )

        # index over the JOINED corpus — what prepare_indexes ships to
        # the hybrid queries — must reproduce the in-DAG scores exactly
        good = bm25_op.build_index(joined.select("doc_id", "text"))
        good_path = str(tmp_path / "bm25_joined")
        bm25_op.write_index(good, good_path)
        prebuilt = rows(
            hybrid_search(
                joined, "hash join spark", qvec, alpha=0.5, limit=5,
                bm25_index=bm25_op.read_index(spark, good_path),
            )
        )
        assert prebuilt == inline

        # index over the bare documents table (the pre-fix behavior)
        # demonstrably diverges: N=10/avgdl include 4 unscored docs
        wrong = bm25_op.build_index(docs)
        wrong_path = str(tmp_path / "bm25_documents")
        bm25_op.write_index(wrong, wrong_path)
        mismatched = rows(
            hybrid_search(
                joined, "hash join spark", qvec, alpha=0.5, limit=5,
                bm25_index=bm25_op.read_index(spark, wrong_path),
            )
        )
        assert mismatched != inline

    def test_entrypoint_hybrid_index_is_joined_corpus(self, spark, sf_dir):
        """prepare_indexes registers BOTH corpora and _hybrid_bm25_index
        hands the hybrid family the joined-corpus one."""
        import __spark_entry__ as m

        saved = dict(m._BM25_INDEX_DIRS)
        try:
            m._BM25_INDEX_DIRS.clear()
            m.prepare_indexes(spark, sf_dir)
            assert (sf_dir, "documents") in m._BM25_INDEX_DIRS
            assert (sf_dir, "joined") in m._BM25_INDEX_DIRS
            idx = m._hybrid_bm25_index(spark, sf_dir)
            n_joined = m._docs_with_vecs(spark, sf_dir).count()
            assert idx.n_docs == n_joined
        finally:
            m._BM25_INDEX_DIRS.clear(); m._BM25_INDEX_DIRS.update(saved)


class TestPersistedIVFIndex:
    def test_label_filter_prunes_partitions(self, spark, sf_dir, tmp_path):
        """The persisted IVF table is partitioned by label; a literal
        probe filter must reach the scan as a PartitionFilter."""
        from qurio_spark.operators.similarity import (
            ivf_build,
            read_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        labeled, centroids = ivf_build(emb, k=4, iters=2, fit_sample_mod=2)
        path = str(tmp_path / "ivf")
        write_ivf_index(labeled, centroids, path)
        stored_labeled, stored_centroids = read_ivf_index(spark, path)
        assert stored_centroids.count() == 4
        plan = (
            stored_labeled.filter(F.col("label").isin([0, 1]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan and "label" in plan
        # round-trip: every vector labeled, labels match the live build
        live = {r["vec_id"]: r["label"] for r in labeled.collect()}
        stored = {r["vec_id"]: r["label"] for r in stored_labeled.collect()}
        assert stored == live


class TestPersistedLSHIndex:
    def test_prebuilt_equals_in_dag_and_prunes(self, spark, sf_dir, tmp_path):
        """write_lsh_index + lsh_topk_prebuilt == lsh_topk (same
        planes), and the literal bucket filter reaches the scan as a
        PartitionFilter — the per-query corpus pass is gone."""
        from qurio_spark.operators.similarity import (
            lsh_topk,
            lsh_topk_prebuilt,
            read_lsh_index,
            write_lsh_index,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        path = str(tmp_path / "lsh")
        write_lsh_index(emb, path, dim=len(qvec), n_planes=3)
        idx = read_lsh_index(spark, path)
        assert (idx.n_planes, idx.seed, idx.dim) == (3, 11, len(qvec))

        def rows(df):
            return [(r["vec_id"], round(r["score"], 9)) for r in df.collect()]

        in_dag = rows(lsh_topk(emb, qvec, n_planes=3, k=10))
        prebuilt = rows(lsh_topk_prebuilt(idx, qvec, k=10))
        assert prebuilt == in_dag and len(prebuilt) > 0

        pruned = idx.bucketed.filter(F.col("bucket") == 3)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan

    def test_multiprobe_widens_candidates_and_recall(self, spark, sf_dir, tmp_path):
        """Multi-probe reads the query bucket PLUS lowest-margin
        neighbor buckets: the candidate set is a superset, so recall
        against the exact top-k can only improve."""
        from qurio_spark.operators.similarity import (
            brute_force_topk,
            lsh_probe_buckets,
            lsh_topk_prebuilt,
            random_hyperplanes,
            read_lsh_index,
            write_lsh_index,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        path = str(tmp_path / "lsh")
        write_lsh_index(emb, path, dim=len(qvec), n_planes=3)
        idx = read_lsh_index(spark, path)

        planes = random_hyperplanes(3 and len(qvec), 3, 11)
        single = lsh_probe_buckets(qvec, planes, 1)
        multi = lsh_probe_buckets(qvec, planes, 2)
        assert set(single) < set(multi) and len(multi) == 2

        exact = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()}

        def recall(n_probe):
            got = {
                r["vec_id"]
                for r in lsh_topk_prebuilt(
                    idx, qvec, k=10, n_probe_buckets=n_probe
                ).collect()
            }
            return len(got & exact) / len(exact)

        assert recall(2) >= recall(1)
        # probing every bucket degenerates to exact search
        assert recall(8) == 1.0

    def test_dim_mismatch_rejected(self, spark, sf_dir, tmp_path):
        from qurio_spark.operators.similarity import (
            lsh_topk_prebuilt,
            read_lsh_index,
            write_lsh_index,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dim = len(emb.first()["embedding"])
        path = str(tmp_path / "lsh")
        write_lsh_index(emb, path, dim=dim, n_planes=2)
        idx = read_lsh_index(spark, path)
        with pytest.raises(ValueError, match="dim"):
            lsh_topk_prebuilt(idx, [1.0] * (dim + 1), k=5)


class TestIncrementalIvf:
    """append_ivf_index: one labeling pass with the persisted codebook,
    new files appended INSIDE existing label partitions, old files
    untouched — the vector twin of the segmented BM25 append."""

    def test_append_matches_single_shot_and_preserves_files(
        self, spark, sf_dir, tmp_path
    ):
        import os

        from pyspark.sql import functions as F

        from qurio_spark.operators.similarity import (
            append_ivf_index,
            assign_labels,
            ivf_build,
            ivf_topk,
            read_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        base = emb.filter(F.col("vec_id") % 5 != 0)
        delta = emb.filter(F.col("vec_id") % 5 == 0)

        path = str(tmp_path / "ivf_inc")
        labeled, cdf = ivf_build(base, k=4, iters=2)
        write_ivf_index(labeled, cdf, path)
        before = {
            os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
            for root, _, files in os.walk(f"{path}/labeled")
            for f in files
            if f.endswith(".parquet")
        }
        assert before

        append_ivf_index(spark, path, delta)
        after = {
            p: os.path.getmtime(p)
            for p in before
            if os.path.exists(p)
        }
        assert after == before  # no pre-existing file rewritten/removed

        # merged index == labeling the union corpus with the SAME
        # frozen codebook (order-insensitive)
        merged, cdf2 = read_ivf_index(spark, path)
        centroids = [
            [float(x) for x in r["centroid"]]
            for r in sorted(cdf2.collect(), key=lambda r: r["label"])
        ]
        want = assign_labels(emb, centroids)
        got_rows = {(r["vec_id"], r["label"]) for r in merged.collect()}
        want_rows = {(r["vec_id"], r["label"]) for r in want.collect()}
        assert got_rows == want_rows

        # probes see base AND delta vectors through the same pruning
        q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
        top = ivf_topk(merged, q, centroids=cdf2, nprobe=4, k=10)
        ids = [r["vec_id"] for r in top.collect()]
        assert 0 in ids  # vec 0 is in the delta batch

    def test_drift_signal_shapes(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from qurio_spark.operators.similarity import (
            ivf_assignment_drift,
            kmeans_fit,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        cents = kmeans_fit(emb, k=4, iters=2)
        fit_stats = ivf_assignment_drift(emb, cents).collect()
        assert {r["label"] for r in fit_stats} <= set(range(4))
        base_mean = sum(r["mean_sq_dist"] * r["n"] for r in fit_stats) / sum(
            r["n"] for r in fit_stats
        )
        # a shifted batch must read as drifted vs the fit-time corpus
        shifted = emb.withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(3.0)).cast(
                "array<float>"
            ),
        )
        drift_stats = ivf_assignment_drift(shifted, cents).collect()
        drift_mean = sum(
            r["mean_sq_dist"] * r["n"] for r in drift_stats
        ) / sum(r["n"] for r in drift_stats)
        assert drift_mean > 2 * base_mean


def test_append_lsh_index(spark, sf_dir, tmp_path):
    """Incremental LSH append: frozen-plane bucketing means old and new
    rows hash identically; merged index == single-shot build."""
    import os

    from pyspark.sql import functions as F

    from qurio_spark.operators.similarity import (
        append_lsh_index,
        read_lsh_index,
        write_lsh_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = len(emb.first()["embedding"])
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)

    inc_path = str(tmp_path / "lsh_inc")
    write_lsh_index(base, inc_path, dim=dim, n_planes=3)
    before = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(f"{inc_path}/bucketed")
        for f in fs
        if f.endswith(".parquet")
    }
    append_lsh_index(spark, inc_path, delta)
    after = {p: os.path.getmtime(p) for p in before if os.path.exists(p)}
    assert after == before

    full_path = str(tmp_path / "lsh_full")
    write_lsh_index(emb, full_path, dim=dim, n_planes=3)
    got = {
        (r["vec_id"], r["bucket"])
        for r in read_lsh_index(spark, inc_path).bucketed.collect()
    }
    want = {
        (r["vec_id"], r["bucket"])
        for r in read_lsh_index(spark, full_path).bucketed.collect()
    }
    assert got == want


class TestHybridRRF:
    """Reciprocal-rank fusion (operators/hybrid.hybrid_search_rrf):
    rank arithmetic against a driver-side reference, branch membership,
    and the missing-from-one-list contribution rule."""

    def test_matches_rank_reference(self, spark, sf_dir):
        import __spark_entry__ as m
        from qurio_spark.functions.numeric import stable_round
        from qurio_spark.operators.hybrid import hybrid_search_rrf
        from qurio_spark.operators import bm25 as bm25_op
        from qurio_spark.operators.similarity import brute_force_topk

        docs = m._docs_with_vecs(spark, sf_dir)
        qvec = m._qvec(spark, sf_dir)
        got = {
            r["doc_id"]: r["score"]
            for r in hybrid_search_rrf(
                docs, m.QUERY_TEXT, qvec, limit=10
            ).collect()
        }

        # reference ranks straight from the branch scorers
        kw = bm25_op.score_query_inline(
            docs.select("doc_id", "text"), m.QUERY_TEXT
        )
        brows = (
            kw.filter("bm25 > 0")
            .select("doc_id", stable_round("bm25", 6).alias("s"))
            .collect()
        )
        border = [r["doc_id"] for r in sorted(brows, key=lambda r: (-r["s"], r["doc_id"]))][:100]
        vrows = brute_force_topk(
            docs.select(F.col("doc_id").alias("vec_id"), "embedding"), qvec,
            k=100,
        ).collect()
        vorder = [r["vec_id"] for r in vrows]
        want: dict = {}
        for i, d in enumerate(border, 1):
            want[d] = want.get(d, 0.0) + 1.0 / (60 + i)
        for i, d in enumerate(vorder, 1):
            want[d] = want.get(d, 0.0) + 1.0 / (60 + i)
        top = sorted(want, key=lambda d: (-round(want[d], 6), d))[:10]
        assert set(got) == set(top)
        for d in got:
            assert got[d] == pytest.approx(want[d], rel=1e-12)

    def test_single_branch_doc_still_scores(self, spark, sf_dir):
        """A doc in only one list gets exactly that branch's term."""
        import __spark_entry__ as m
        from qurio_spark.operators.hybrid import hybrid_search_rrf

        docs = m._docs_with_vecs(spark, sf_dir)
        res = hybrid_search_rrf(
            docs, "zzzunmatchable qqqterms", m._qvec(spark, sf_dir), limit=5
        ).collect()
        # keyword branch empty -> pure vector ranks 1..5
        assert [r["score"] for r in res] == [
            pytest.approx(1.0 / (60 + i)) for i in range(1, 6)
        ]
