"""Search-family queries (Q1/Q2/F1): BM25, vector, hybrid, batch
hybrid, IVF/ANN.  Persisted indexes come from the registry in
``indexes.py``."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from qurio_spark.functions.frames import local_frame
from qurio_spark.functions.numeric import stable_round

from . import indexes
from .common import QUERY_TEXT, QUERY_VEC_ID, _docs_with_vecs, _qvec, _t

from qurio_spark.operators import bm25 as bm25_op
from qurio_spark.operators.hybrid import hybrid_search
from qurio_spark.operators.similarity import brute_force_topk, ivf_topk


def _keyword_top10(scored: DataFrame) -> DataFrame:
    """The pure-keyword queries' shared tail: the top-10 (doc_id, bm25)
    of the documents with keyword evidence, bm25 4-digit stable-rounded.
    Caches the scorer attached to ``scored`` move to the result."""
    from qurio_spark.operators.cachectl import propagate_caches

    return propagate_caches(
        scored,
        scored.filter(F.col("bm25") > 0)
        .select("doc_id", stable_round("bm25", 4).alias("bm25"))
        .orderBy(F.desc(stable_round("bm25", 6)), F.asc("doc_id"))
        .limit(10),
    )


def q_bm25_topk(spark, sf_dir):
    """Q2 alpha=0: pure keyword BM25 top-10."""
    docs = _t(spark, sf_dir, "documents")
    scored = bm25_op.score_query_inline(docs, QUERY_TEXT)
    return _keyword_top10(scored)


def q_bm25_maxscore(spark, sf_dir):
    """Q2 alpha=0 through MaxScore/WAND top-k pruning (r10): per-term
    max-impact bounds + theta from the highest-bound list's exact
    partials + non-essential-term candidate elimination.  LOSSLESS for
    top-k, so the oracle is bm25_topk's SQL verbatim — the pruned path
    must reproduce the exhaustive scorer's top-10 exactly.

    Pruned at depth 20 while returning 10: theta from the 20th-best
    partial is strictly below any score that could round-collide with
    the true 10th at the 6-decimal tie-break, so rounding-boundary
    ties can never differ from the exhaustive oracle."""
    docs = _t(spark, sf_dir, "documents")
    idx = bm25_op.build_index(docs)
    # r15 note: persisting idx.postings here was measured SLOWER at the
    # bench SF (2.76 s vs 2.06 s median, reps=5 — the exploded-postings
    # cache build costs more than the shared-subtree recompute it
    # saves); the r15 win is inside score_query_maxscore instead (one
    # fused bounds+theta collect, term-bucket pruning).
    scored = bm25_op.score_query_maxscore(idx, QUERY_TEXT, 20)
    return _keyword_top10(scored)


def q_bm25_blockmax(spark, sf_dir):
    """Q2 alpha=0 through Block-Max MaxScore (r11, Ding & Suel's BMW
    in the batch shape): a per-(term, doc-block) max-impact sidecar
    lets theta discard WHOLE doc-blocks — blocks whose summed per-term
    maxima miss theta provably hold no top-k doc — pruning inside long
    postings lists where the global per-term bound cannot.  LOSSLESS
    for top-k, so the oracle is bm25_topk's SQL verbatim.

    The query runs against the PERSISTED index (the production shape:
    ``read_index`` loads the ``blockmax/`` sidecar, and the stored
    ``doc_block`` column — sorted within term buckets — turns the
    block predicate into parquet row-group skipping).  In-memory
    indexes deliberately skip the refinement (build_index leaves the
    sidecar None: the extra postings pass costs more than it saves);
    both paths pinned in tests/test_bm25_segments.py::TestBlockMax."""
    idx = indexes.handle(spark, sf_dir, "bm25_documents")
    scored = bm25_op.score_query_maxscore(idx, QUERY_TEXT, 20)
    return _keyword_top10(scored)


def q_bm25_incremental(spark, sf_dir):
    """Q2 alpha=0 over a SEGMENTED index (operators/bm25.build_segment
    / merge_segments): the corpus arrives as two ingest batches, each
    built into an immutable segment; query-time scoring sums the
    additive df/N/sumdl partials across segments — identical scores to
    a monolithic rebuild, but appending a batch never rewrites old
    postings (the Lucene segment model on parquet; the 100 TB
    incremental-ingest shape)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    merged = bm25_op.merge_segments(
        [bm25_op.build_segment(base), bm25_op.build_segment(delta)]
    )
    return _keyword_top10(bm25_op.score_query_segmented(merged, QUERY_TEXT))


def q_bm25_prebuilt(spark, sf_dir):
    """Q2 alpha=0 against the PERSISTED index: postings written
    partitioned by md5 term-bucket, query terms hashed driver-side so
    the scan prunes to <= |q| of 64 bucket directories then applies the
    pushed ``term IN``  filter — per-query cost O(sum df(t)), corpus
    scanned zero times (operators/bm25.write_index/prune_postings)."""
    idx = indexes.handle(spark, sf_dir, "bm25_documents")
    scored = bm25_op.score_query(idx, QUERY_TEXT)
    return _keyword_top10(scored)


def q_vector_topk(spark, sf_dir):
    """Q2 alpha=1: brute-force cosine top-10 (the exact-ANN oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    top = brute_force_topk(emb, _qvec(spark, sf_dir), k=10)
    return top.select("vec_id", stable_round("score", 4).alias("score"))


def register_search_sql(spark, sf_dir):
    """Bind the engine's search operators to SQL table functions over
    the sf_dir corpus (qurio_spark.sqlfront): ``hybrid_search(query,
    k => n, alpha => a)`` and ``bm25_search(query, k => n)`` become
    callable from plain SQL text.  Returns the registry."""
    from qurio_spark.sqlfront import SqlFunctions

    fns = SqlFunctions(spark)

    def _hybrid(spark, query, k=10, alpha=0.5):
        return hybrid_search(
            _docs_with_vecs(spark, sf_dir), query, _qvec(spark, sf_dir),
            alpha=alpha, limit=int(k),
            bm25_index=indexes.prepared(spark, sf_dir, "bm25_joined"),
        )

    def _bm25(spark, query, k=10):
        idx = bm25_op.build_index(
            _t(spark, sf_dir, "documents"), "doc_id", "text"
        )
        scored = bm25_op.score_query(idx, query)
        return (
            scored.filter(F.col("bm25") > 0)
            .orderBy(F.desc(stable_round("bm25", 6)), F.asc("doc_id"))
            .limit(int(k))
        )

    fns.register("hybrid_search", _hybrid)
    fns.register("bm25_search", _bm25)
    return fns


def q_hybrid_topk(spark, sf_dir):
    """Q2 alpha=0.5: full hybrid search, min-max fused.  Uses the
    persisted BM25 index when bench prepared one (identical scores —
    unfiltered search scores the whole corpus, which is exactly the
    index's stats domain); scores per-row term maps otherwise.

    r15: routed through the SQL table-function surface
    (qurio_spark/sqlfront.py) so the driver-window oracle pins the
    SQL-callable path end-to-end — the rewrite hands Catalyst the
    operator's own DataFrame plan, so scores are identical to the
    Python API by construction."""
    fns = register_search_sql(spark, sf_dir)
    qtext = QUERY_TEXT.replace("'", "''")
    return fns.sql(f"""
        SELECT doc_id,
               (floor(score * 1e4 + 0.5) / 1e4) AS score
        FROM hybrid_search('{qtext}', k => 10, alpha => 0.5)
    """)


_BATCH_QUERIES = [
    # (query_id, query_text, qvec_id) — query vectors resolved from the
    # embeddings table so both engines read identical floats (Q1 batch)
    ("q1", "hash join spark", 0),
    ("q2", "filter pushdown parquet", 1),
    ("q3", "vector similarity search", 2),
]


_BATCH_QUERY_ROWS: dict[str, list] = {}


def _batch_queries_frame(spark, sf_dir):
    """The batch-search INPUT table as a driver-local frame: the three
    query vectors are fetched once per sf_dir (pushed ``vec_id IN``
    parquet scan, a handful of rows) and cached.  The query table is
    the job's input, not part of the measured work — materializing it
    driver-side keeps the embeddings join out of every downstream
    stage (keyword terms, probe selection, qvec broadcast) for BOTH
    the dense and the IVF batch query, and the values are the same
    parquet floats either way (oracle-identical)."""
    rows = _BATCH_QUERY_ROWS.get(sf_dir)
    emb_type = None
    if rows is None:
        qe = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id").isin([v for _, _, v in _BATCH_QUERIES]))
            .select("vec_id", "embedding")
        )
        vecs = {r["vec_id"]: list(r["embedding"]) for r in qe.collect()}
        rows = (
            [(q, t, vecs[v]) for q, t, v in _BATCH_QUERIES],
            qe.schema["embedding"].dataType,
        )
        _BATCH_QUERY_ROWS[sf_dir] = rows
    data, emb_type = rows
    schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField("query_text", T.StringType()),
            T.StructField("query_vec", emb_type),
        ]
    )
    return local_frame(spark, data, schema)


def q_batch_hybrid(spark, sf_dir):
    """Q2 batch form: a TABLE of queries scored in one job — shared
    index build, broadcast query terms into the postings join,
    per-query fusion + windowed top-k (the Spark-native retrieval
    shape; see operators/hybrid.hybrid_search_batch)."""
    from qurio_spark.operators.hybrid import hybrid_search_batch

    docs = _docs_with_vecs(spark, sf_dir)
    queries = _batch_queries_frame(spark, sf_dir)
    res = hybrid_search_batch(
        docs, queries, alpha=0.5, limit=5,
        bm25_index=indexes.prepared(spark, sf_dir, "bm25_joined"),
    )
    return res.select("query_id", "doc_id", stable_round("score", 4).alias("score"))


def q_batch_hybrid_ivf(spark, sf_dir):
    """Q2 batch form, IVF-pruned (the 100 TB configuration):
    candidates = (nprobe nearest clusters per query) U (keyword
    matches) instead of corpus x queries, and normalization over the
    candidate set — NO full-corpus pass anywhere.  Candidate-set
    normalization constants differ from the dense oracle's, so the
    oracle pins the retrieved DOC SET: the output is (query_id, doc_id)
    and must equal the dense SQL top-k exactly (recall 1.0; also pinned
    in tests/test_queries_full.py::test_ivf_pruned_recall)."""
    from qurio_spark.operators.hybrid import hybrid_search_batch_ivf

    docs = _docs_with_vecs(spark, sf_dir)
    queries = _batch_queries_frame(spark, sf_dir)
    # prebuilt persisted indexes when bench prepared them; the driver's
    # correctness run builds in-DAG (deterministically identical)
    ivf_idx = codebook = None
    ivf = indexes.prepared(spark, sf_dir, "ivf")
    if ivf is not None:
        labeled, centroids, codebook = ivf
        ivf_idx = (labeled, centroids)
    res = hybrid_search_batch_ivf(
        docs, queries, alpha=0.5, limit=5, ivf_index=ivf_idx,
        bm25_index=indexes.prepared(spark, sf_dir, "bm25_joined"),
        codebook=codebook,
    )
    from qurio_spark.operators.cachectl import propagate_caches

    # the operator attaches its kw/cand caches to `res`
    # (hybrid.py) — hand them to the projection we return, or the
    # harnesses' release_caches(result) is a no-op and every call
    # leaks two persisted frames
    return propagate_caches(res, res.select("query_id", "doc_id"))


def q_hybrid_filtered(spark, sf_dir):
    """Q2 + F1: hybrid search with a metadata equality filter; scores
    normalized over the filtered candidate set."""
    docs = _docs_with_vecs(spark, sf_dir)
    res = hybrid_search(
        docs,
        QUERY_TEXT,
        _qvec(spark, sf_dir),
        alpha=0.3,
        limit=5,
        filters={"lang": "en"},
    )
    return res.select("doc_id", stable_round("score", 4).alias("score"))


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: probe only the query vector's own cluster (labels are
    the coarse codebook; the partition-pruned scale path)."""
    emb = _t(spark, sf_dir, "embeddings")
    # one driver round trip for query vector AND probe label (r15)
    row = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding", "label")
        .first()
    )
    top = ivf_topk(
        emb,
        [float(x) for x in row["embedding"]],
        probe_labels=[int(row["label"])],
        k=10,
    )
    return top.select("vec_id", stable_round("score", 4).alias("score"))




def q_hybrid_rrf(spark, sf_dir):
    """Q2 with reciprocal-rank fusion (operators/hybrid.
    hybrid_search_rrf): each branch's top-100 contributes
    1/(60 + rank); integer ranks make the fusion scale-free and the
    fused scores float-exact across engines (sums of two integer
    reciprocals — no aggregation-order hazard), so the oracle unrolls
    the same two ranked lists in SQL."""
    from qurio_spark.operators.hybrid import hybrid_search_rrf

    docs = _docs_with_vecs(spark, sf_dir)
    res = hybrid_search_rrf(
        docs, QUERY_TEXT, _qvec(spark, sf_dir), limit=10,
        bm25_index=indexes.prepared(spark, sf_dir, "bm25_joined"),
    )
    return res.select("doc_id", stable_round("score", 6).alias("score"))
