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


PARITY_VOCAB = ["spark", "join", "shuffle", "cache", "probe", "index",
                "vector", "score", "tie", "page", "alpha", "beta"]
PARITY_DIM = 8


def _parity_rows(seed, n=200):
    """A seeded chunk table for the tier parity test: NULL and empty
    content, zero-norm and NULL embeddings, full-precision float32
    values, and copies of rows under other ids, exact (equal scores)
    or with the embedding scaled by 3 (scores equal up to rounding, so
    the 6-digit ranking key ties while the raw scores may differ)."""
    import random

    import numpy as np

    rng = random.Random(seed)

    def f32(x):
        return float(np.float32(x))

    rows = []
    for i in range(n):
        r, e = rng.random(), rng.random()
        content = (
            None if r < 0.05 else "" if r < 0.08
            else " ".join(rng.choice(PARITY_VOCAB) for _ in range(rng.randint(1, 12)))
        )
        emb = (
            [0.0] * PARITY_DIM if e < 0.05 else None if e < 0.08
            else [f32(rng.gauss(0, 1)) for _ in range(PARITY_DIM)]
        )
        rows.append([
            f"src{rng.randrange(3)}", None, f"https://p.test/{seed}/{i // 4}", i % 4,
            content, rng.choice(["prose", "code"]), rng.choice(["en", "de", None]),
            None, emb,
        ])
    for i in range(n // 4):
        copy = list(rows[rng.randrange(n)])
        copy[2], copy[3] = f"https://p.test/{seed}/tie{i}", 0
        if i % 2 and copy[8]:
            copy[8] = [f32(x * 3.0) for x in copy[8]]
        rows.append(copy)
    return rows


@pytest.fixture(scope="module")
def parity_snapshots(spark):
    """Two seeded tables, each prepared on the resident tier; the
    snapshot's ``frame`` (re-persisted) is the Spark tier's input."""
    from qurio_spark.api import prepare_chunks

    snaps = []
    for seed in (1, 2):
        snap = prepare_chunks(spark.createDataFrame(_parity_rows(seed), CHUNK_SCHEMA))
        snap.frame.persist()
        snaps.append((seed, snap))
    yield snaps
    for _, snap in snaps:
        snap.frame.unpersist()


class TestResidentTier:
    """The driver-resident snapshot returns what the Spark path returns
    over the same prepared frame: the same ids and the same score bits."""

    COLS = ["content", "source_id", "url", "chunk_index", "language"]
    FILTERS = [None, {"source_id": "src1"}, {"source_id": "src0", "language": "en"}]

    @staticmethod
    def _bits(rows):
        import struct

        return [
            (r["chunk_id"], r["content"], r["language"],
             *(struct.pack(">d", r[c]) for c in ("score", "bm25_norm", "vec_norm")))
            for r in rows
        ]

    def _queries(self, seed, snap):
        import random

        rng = random.Random(seed)
        stored = next(e for e in snap.frame.select("embedding").toLocalIterator() if e[0])
        out = []
        for i in range(4):
            text = " ".join(rng.choice(PARITY_VOCAB) for _ in range(rng.randint(1, 4)))
            out.append((text, [rng.gauss(0, 1) for _ in range(PARITY_DIM)]))
        out.append(("zzz spark tie", [float(x) for x in stored[0]]))
        out.append(("?!", [0.0] * PARITY_DIM))
        return out

    def _both(self, snap, text, vec, **kw):
        from qurio_spark.operators.resident import TopK

        kw = dict(id_col="chunk_id", text_col="content", vec_col="embedding",
                  extra_cols=self.COLS, **kw)
        resident = hybrid_search(snap, text, vec, **kw)
        assert isinstance(resident, TopK)
        return resident.collect(), hybrid_search(snap.frame, text, vec, **kw).collect()

    def test_tiers_return_identical_rows(self, parity_snapshots):
        checked = 0
        for seed, snap in parity_snapshots:
            queries = self._queries(seed, snap)
            combos = [(a, k) for a in (0.0, 0.3, 0.7, 1.0) for k in (1, 10, 50)]
            for c, (alpha, limit) in enumerate(combos):
                filters = self.FILTERS[c % len(self.FILTERS)]
                text, vec = queries[c % len(queries)]
                got, want = self._both(
                    snap, text, vec, alpha=alpha, limit=limit, filters=filters
                )
                assert self._bits(got) == self._bits(want), (seed, text, alpha, limit, filters)
                assert [r.asDict() for r in got] == [r.asDict() for r in want]
                checked += bool(want)
        assert checked == 24

    def test_filter_matching_nothing_and_unknown_column(self, parity_snapshots):
        from pyspark.errors import AnalysisException

        _, snap = parity_snapshots[0]
        got, want = self._both(snap, "spark", [1.0] * PARITY_DIM, filters={"source_id": "nope"})
        assert got == want == []
        for docs in (snap, snap.frame):
            with pytest.raises(AnalysisException):
                hybrid_search(docs, "spark", [1.0] * PARITY_DIM, filters={"no_such_col": "x"},
                              id_col="chunk_id", text_col="content")

    def _same(self, snap, text, vec, **kw):
        got, want = self._both(snap, text, vec, **kw)
        assert self._bits(got) == self._bits(want), (text, vec, kw)
        return want

    def test_edge_inputs_return_identical_rows(self, parity_snapshots):
        """The inputs where the kernel's shortcuts could part from the
        Spark path: a tie across the k-th key, fewer candidates than
        ``limit``, zero query dimensions, and filters and terms that
        match no row or every row."""
        straddled = 0
        for seed, snap in parity_snapshots:
            assert snap.finite  # the dot product skips zero dimensions here
            queries = self._queries(seed, snap)
            # the k-th and the (k+1)-th rows share their 6-digit key
            for text, vec in queries:
                full = hybrid_search(snap, text, vec, limit=50, id_col="chunk_id",
                                     text_col="content").collect()
                keys = [math.floor(r["score"] * 1e6 + 0.5) for r in full]
                ties = [p for p in range(1, len(keys)) if keys[p - 1] == keys[p]]
                if ties:
                    self._same(snap, text, vec, alpha=0.5, limit=ties[0])
                    straddled += 1
            text, vec = queries[0]
            two = {"source_id": "src0", "language": "de"}
            few = self._same(snap, text, vec, limit=50, filters=two)
            assert 0 < len(few) < 50
            assert self._same(snap, text, vec, filters={"language": "xx"}) == []
            assert self._same(snap, text, vec, filters={**two, "language": "xx"}) == []
            assert (snap.emb_t < 0).any()
            zeros = [0.0 if d % 3 == 0 else -0.0 if d % 3 == 1 else v for d, v in enumerate(vec)]
            for alpha in (0.3, 1.0):
                assert self._same(snap, text, zeros, alpha=alpha, limit=10)
            every = " ".join(PARITY_VOCAB)
            for filters in (None, two):
                assert self._same(snap, every, vec, limit=50, filters=filters)
        assert straddled >= 4

    def test_filter_every_row_passes_equals_unfiltered(self, spark):
        """A filter that every row passes returns the unfiltered search's
        ids and score bits.  The two take different kernels: a filtered
        search scores its candidates' postings from tf, dl and a cached
        idf, an unfiltered one adds the impacts computed when the
        snapshot was built."""
        from qurio_spark.api import prepare_chunks

        rows = _parity_rows(4)
        for r in rows:
            r[0] = "only"
        snap = prepare_chunks(spark.createDataFrame(rows, CHUNK_SCHEMA))
        kw = dict(id_col="chunk_id", text_col="content", vec_col="embedding",
                  extra_cols=self.COLS)
        keyword = 0
        for text, vec in self._queries(4, snap):
            for alpha in (0.0, 0.3, 0.7, 1.0):
                for limit in (1, 10, 50):
                    every = hybrid_search(snap, text, vec, alpha=alpha, limit=limit,
                                          filters={"source_id": "only"}, **kw).collect()
                    plain = hybrid_search(snap, text, vec, alpha=alpha, limit=limit,
                                          **kw).collect()
                    assert plain and self._bits(every) == self._bits(plain), (text, alpha, limit)
                    keyword += any(r["bm25_norm"] > 0 for r in plain)
        assert keyword >= 48  # every query but the term-less one scores BM25

    def test_non_finite_stored_value_takes_every_dimension(self, spark):
        """With a NaN or an infinity stored, ``x * 0.0`` is NaN, so the
        dot product must not skip the query's zero dimensions: the
        result equals a full-dimension loop over the stored matrix.  (The
        NaN row's norm is NaN, which already makes its cosine 0; the
        infinity is the value a skipped dimension would hide.)"""
        import struct

        import numpy as np

        from qurio_spark.api import prepare_chunks
        from qurio_spark.operators.resident import _minmax

        rows = _parity_rows(3, n=40)
        stored = [r for r in rows if r[8] and any(r[8])]
        stored[0][8] = [*stored[0][8][:2], float("nan"), *stored[0][8][3:]]
        stored[1][8] = [*stored[1][8][:5], float("inf"), *stored[1][8][6:]]
        snap = prepare_chunks(spark.createDataFrame(rows, CHUNK_SCHEMA))
        assert not snap.finite
        vec = [0.0 if d in (2, 5) else 1.0 + d for d in range(PARITY_DIM)]
        got = hybrid_search(snap, "spark join", vec, alpha=1.0, limit=10,
                            id_col="chunk_id", text_col="content").collect()

        dot = np.zeros(snap.n)
        qn = math.sqrt(sum(v * v for v in vec))
        live = snap.emb_valid & (snap.emb_norm > 0)
        with np.errstate(invalid="ignore"):
            for x, v in zip(snap.emb_t, vec):
                dot = dot + x * v
            cos = np.where(live, dot / (snap.emb_norm * qn), 0.0)
        assert np.isnan(cos).any()
        vn = _minmax(cos, cos.min(), cos.max())
        # a NaN range normalizes to 0 (``hi > lo`` is False): every key
        # ties at 0 and the rows come in id order; a dot product that
        # skipped dimensions 2 and 5 would leave ``cos`` finite
        ids = snap.values["chunk_id"]
        want = sorted(range(snap.n), key=lambda i: ids[i])[:10]

        def bits(x):
            return "nan" if math.isnan(x) else struct.pack(">d", x)

        assert [(r["chunk_id"], bits(r["vec_norm"])) for r in got] == [
            (ids[i], bits(vn[i])) for i in want
        ]


class TestStrictLog:
    """``numeric.strict_log`` is Spark's ``log``: Java's StrictMath.log
    (fdlibm), bit for bit."""

    def test_matches_java_strictmath_log(self, spark):
        import numpy as np

        from qurio_spark.functions.numeric import strict_log

        rng = np.random.default_rng(7)
        xs = np.concatenate([
            rng.uniform(1.0, 3.0, 40_000),  # the idf range
            np.exp(rng.uniform(-700.0, 700.0, 40_000)),
            rng.uniform(1.0 - 1e-6, 1.0 + 1e-6, 10_000),  # the |f| < 2**-20 branch
            rng.uniform(0.0, 2.3e-308, 5_000),  # subnormals
            np.arange(1.0, 5_001.0),
            2.0 ** np.arange(-1074, 1024),
        ])
        df = spark.createDataFrame([(float(x),) for x in xs], "x double")
        jvm = np.array([r[0] for r in df.select(F.log("x")).collect()], dtype=np.float64)
        assert len(xs) >= 100_000
        assert strict_log(xs).view(np.int64).tolist() == jvm.view(np.int64).tolist()

        log = spark._jvm.java.lang.StrictMath.log
        special = [0.0, -0.0, -1.0, float("inf"), float("-inf"), float("nan"), 5e-324]
        sample = [float(x) for x in rng.choice(xs, 300)] + special
        got = strict_log(np.array(sample))
        for x, g in zip(sample, got):
            w = log(x)
            assert (np.isnan(g) and np.isnan(w)) or np.float64(g).tobytes() == np.float64(w).tobytes(), x

    def test_every_idf_argument_up_to_5000_docs(self, spark):
        """Every (N, df) with 1 <= df <= N <= 5000: the idf argument
        ``1 + (N - df + 0.5) / (df + 0.5)`` and its log, computed by
        Spark, equal the driver's arithmetic and ``strict_log``."""
        import numpy as np
        import pyarrow as pa

        def mismatches(batches):
            from qurio_spark.functions.numeric import strict_log

            for b in batches:
                n = b.column("n").to_numpy().astype(np.float64)
                df = b.column("df").to_numpy().astype(np.float64)
                arg = b.column("arg").to_numpy()
                lg = b.column("lg").to_numpy()
                mine = 1.0 + (n - df + 0.5) / (df + 0.5)
                bad = (mine.view(np.int64) != arg.view(np.int64)) | (
                    strict_log(arg).view(np.int64) != lg.view(np.int64)
                )
                yield pa.record_batch([pa.array([int(bad.sum())]), pa.array([len(n)])],
                                      names=["bad", "rows"])

        n, df = F.col("n").cast("double"), F.col("df").cast("double")
        pairs = (
            spark.range(1, 5001).select(F.col("id").alias("n"))
            .select("n", F.explode(F.sequence(F.lit(1).cast("long"), "n")).alias("df"))
            .withColumn("arg", F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
            .withColumn("lg", F.log("arg"))
        )
        out = pairs.mapInArrow(mismatches, "bad long, rows long").agg(
            F.sum("bad"), F.sum("rows")
        ).collect()[0]
        assert (out[0], out[1]) == (0, 5000 * 5001 // 2)


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
            for r in bm25_op.score_query(stored, q).collect()
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
        assert bm25_op.score_query(stored, "!!!").count() == 0


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

    def test_candidate_normalized_mode_is_sane(self, spark, sf_dir):
        """The pruned scale path (candidate-set normalization) still
        returns k rows per query with scores in [0, 1]."""
        from qurio_spark.operators.hybrid import hybrid_search_batch_ivf

        docs, queries = self._fixture(spark, sf_dir)
        res = hybrid_search_batch_ivf(
            docs, queries, alpha=0.5, limit=5
        ).collect()
        per_q = {}
        for r in res:
            per_q.setdefault(r["query_id"], []).append(r)
            assert -1e-9 <= r["score"] <= 1 + 1e-9
        assert all(len(v) == 5 for v in per_q.values())


class TestPreparedIndexParity:
    def test_prepared_paths_equal_inline(self, spark, sf_dir, index_registry):
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
        index_registry()
        inline = {n: rows(n) for n in names}
        # the persisted-only LSH path must equal its in-DAG twin
        inline["lsh_prebuilt_vs_in_dag"] = rows("lsh_topk")
        m.prepare_indexes(spark, sf_dir)
        prepared = {n: rows(n) for n in names}
        prepared["lsh_prebuilt_vs_in_dag"] = rows("lsh_prebuilt")
        for n in list(names) + ["lsh_prebuilt_vs_in_dag"]:
            assert prepared[n] == inline[n], n

    def test_hybrid_prebuilt_index_over_joined_corpus(
        self, spark, tmp_path, index_registry
    ):
        """BM25 stats (df/N/avgdl) are frozen into a persisted index at
        build time and are DEFINED over the scored corpus.  The hybrid
        family scores documents JOIN embeddings; at sf0.1 the documents
        table is 2.5x larger than the joined corpus, so an index built
        over bare ``documents`` carries the wrong stats.  This pins the
        registry's two BM25 kinds on a fixture where the two corpora
        actually differ (the existing parity test runs at scales where
        they coincide)."""
        import __spark_entry__ as m

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
        sf = str(tmp_path / "sf")
        docs.write.parquet(f"{sf}/documents.parquet")
        emb.write.parquet(f"{sf}/embeddings.parquet")
        joined = m._docs_with_vecs(spark, sf)
        qvec = [1.0, 0.2, 0.1]
        indexes = index_registry()

        def rows(kind=None):
            bm25_index = indexes.handle(spark, sf, kind) if kind else None
            df = hybrid_search(
                joined, "hash join spark", qvec, alpha=0.5, limit=5,
                bm25_index=bm25_index,
            )
            return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

        inline = rows()
        # index over the JOINED corpus — what prepare_indexes ships to
        # the hybrid queries — must reproduce the in-DAG scores exactly
        assert rows("bm25_joined") == inline
        # index over the bare documents table (the pre-fix behavior)
        # demonstrably diverges: N=10/avgdl include 4 unscored docs
        assert rows("bm25_documents") != inline

    def test_entrypoint_hybrid_index_is_joined_corpus(
        self, spark, sf_dir, index_registry
    ):
        """prepare_indexes registers BOTH corpora and the registry hands
        the hybrid family the joined-corpus one."""
        import __spark_entry__ as m

        indexes = index_registry()
        m.prepare_indexes(spark, sf_dir)
        assert ("bm25_documents", sf_dir) in indexes._DIRS
        assert ("bm25_joined", sf_dir) in indexes._DIRS
        idx = indexes.prepared(spark, sf_dir, "bm25_joined")
        n_joined = m._docs_with_vecs(spark, sf_dir).count()
        assert idx.n_docs == n_joined

    def test_only_persisted_layout_queries_build_indexes(
        self, spark, sf_dir, index_registry
    ):
        """Queries with an in-DAG fallback never build an index, so a
        correctness run without ``prepare_indexes`` writes none; the queries
        whose point is a persisted layout build exactly their own kind
        on first use."""
        import __spark_entry__ as m
        from qurio_spark.operators.cachectl import release_caches

        indexes = index_registry()

        def run(name):
            df = m.queries()[name](spark, sf_dir)
            try:
                assert df.collect()
            finally:
                release_caches(df)

        for name in ("hybrid_topk", "batch_hybrid_ivf", "minhash", "ann_pq"):
            run(name)
        assert not indexes._DIRS and not indexes._HANDLES
        run("bm25_prebuilt")
        run("lsh_prebuilt")
        expected = {("bm25_documents", sf_dir), ("lsh", sf_dir)}
        assert set(indexes._DIRS) == set(indexes._HANDLES) == expected


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
