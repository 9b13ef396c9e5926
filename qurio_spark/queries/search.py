"""Search-family queries (Q1/Q2/F1): BM25, vector, hybrid, batch
hybrid, IVF/ANN — plus the persisted-index registry shared by the
prebuilt variants (tests clear/restore these dicts in place)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from qurio_spark.functions.frames import local_frame
from qurio_spark.functions.numeric import stable_round

from .common import (
    QUERY_TEXT,
    QUERY_VEC_ID,
    _docs_with_vecs,
    _epoch_secs,
    _events,
    _normalize_events_ts,
    _qvec,
    _t,
)

from qurio_spark.operators import bm25 as bm25_op
from qurio_spark.operators.dedup import minhash_signatures, simhash64
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
    idx = _bm25_index_handle(spark, sf_dir, "documents")
    scored = bm25_op.score_query_maxscore(idx, QUERY_TEXT, 20)
    return _keyword_top10(scored)


# Per-process cache of persisted index locations (sf_dir -> path).
# bench.py populates these via prepare_indexes() OUTSIDE the timed
# region (index builds amortize over a query stream in production); the
# driver's correctness run skips prepare, so the prebuilt-index queries
# fall back to building inline — same results either way (both the
# k-means seeding and the bucket hash are md5-deterministic).
#
# BM25 indexes are keyed by (sf_dir, corpus): BM25 stats (df/N/avgdl)
# are defined over the scored corpus, and the pure-keyword queries
# score the full ``documents`` table while the hybrid family scores
# documents JOIN embeddings — at sf0.1 those differ (5000 vs 2000
# docs), so one shared index would silently change hybrid scores.
_BM25_INDEX_DIRS: dict[tuple[str, str], str] = {}
_IVF_INDEX_DIRS: dict[str, str] = {}
_DEDUP_INDEX_DIRS: dict[str, str] = {}
_LSH_INDEX_DIRS: dict[str, str] = {}
_PQ_INDEX_DIRS: dict[str, str] = {}
# Opened-handle caches: a serving system opens an index once and keeps
# the handle (DataFrame over the persisted layout + driver-resident
# metadata like the IVF codebook) across queries; re-opening parquet
# per query would re-pay schema/footer reads.  Keyed like the DIRS
# caches; invalidated together (tests clear both).
_BM25_INDEX_HANDLES: dict[tuple[str, str], object] = {}
_IVF_INDEX_HANDLES: dict[str, tuple] = {}
_LSH_INDEX_HANDLES: dict[str, object] = {}
_PQ_INDEX_HANDLES: dict[str, tuple] = {}


def _bm25_index_path(spark, sf_dir: str, corpus: str = "documents") -> str:
    import tempfile

    path = _BM25_INDEX_DIRS.get((sf_dir, corpus))
    if path is None:
        path = tempfile.mkdtemp(prefix=f"qurio-bm25-idx-{corpus}-")
        base = (
            _docs_with_vecs(spark, sf_dir).select("doc_id", "text")
            if corpus == "joined"
            else _t(spark, sf_dir, "documents")
        )
        idx = bm25_op.build_index(base)
        bm25_op.write_index(idx, path)
        _BM25_INDEX_DIRS[(sf_dir, corpus)] = path
    return path


def _bm25_index_handle(spark, sf_dir: str, corpus: str):
    """Open-once BM25Index handle over the persisted layout."""
    key = (sf_dir, corpus)
    idx = _BM25_INDEX_HANDLES.get(key)
    if idx is None:
        idx = bm25_op.read_index(spark, _bm25_index_path(spark, sf_dir, corpus))
        _BM25_INDEX_HANDLES[key] = idx
    return idx


def _hybrid_bm25_index(spark, sf_dir: str):
    """Persisted BM25 index over the corpus the hybrid family actually
    scores (documents JOIN embeddings), or None when bench didn't
    prepare one.  Never hands the documents-table index to a hybrid
    query: its frozen stats belong to a different corpus."""
    if (sf_dir, "joined") not in _BM25_INDEX_DIRS:
        return None
    return _bm25_index_handle(spark, sf_dir, "joined")


def _ivf_index_handle(spark, sf_dir: str):
    """Open-once (labeled, centroids, codebook-rows) for the persisted
    IVF index; the codebook (k x dim floats) stays driver-resident —
    it's index metadata, the moral equivalent of BM25's 1-row stats."""
    from qurio_spark.operators.similarity import read_ivf_index

    h = _IVF_INDEX_HANDLES.get(sf_dir)
    if h is None:
        labeled, centroids = read_ivf_index(spark, _IVF_INDEX_DIRS[sf_dir])
        codebook = [
            (int(r["label"]), [float(x) for x in r["centroid"]])
            for r in centroids.collect()
        ]
        h = (labeled, centroids, codebook)
        _IVF_INDEX_HANDLES[sf_dir] = h
    return h


def _ivf_index_path(spark, sf_dir: str) -> str:
    import tempfile

    from qurio_spark.operators.similarity import ivf_build, write_ivf_index

    path = _IVF_INDEX_DIRS.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="qurio-ivf-idx-")
        emb = _docs_with_vecs(spark, sf_dir).select("doc_id", "embedding")
        # k=16: finer codebook than the in-DAG default (8) — per-query
        # probe fraction drops to 3/16 and the probed-label union stays
        # well under the full corpus; verified recall 1.0 against the
        # dense oracle at sf0.001/0.01/0.1
        labeled, centroids = ivf_build(
            emb, k=16, iters=3, id_col="doc_id", fit_sample_mod=4
        )
        write_ivf_index(labeled, centroids, path)
        _IVF_INDEX_DIRS[sf_dir] = path
    return path


def _dedup_index_path(spark, sf_dir: str) -> str:
    """Persist the dedup signature tables (simhash fingerprints +
    minhash signatures) — signatures are an index, built once per
    corpus version; deterministic, so prebuilt == in-DAG."""
    import tempfile

    path = _DEDUP_INDEX_DIRS.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="qurio-dedup-idx-")
        from qurio_spark.operators.dedup import shingle_docs

        d = _t(spark, sf_dir, "documents")
        simhash64(d).write.mode("overwrite").parquet(f"{path}/simhash")
        minhash_signatures(d, num_perm=4).write.mode("overwrite").parquet(
            f"{path}/minhash"
        )
        shingle_docs(d, n=3).write.mode("overwrite").parquet(f"{path}/shingles")
        _DEDUP_INDEX_DIRS[sf_dir] = path
    return path


def _pq_index_path(spark, sf_dir: str) -> str:
    """Persist ONE IVF x PQ index per sf_dir — packed codes partitioned
    by the embeddings table's coarse label, codebooks alongside — and
    it serves BOTH PQ queries: ann_pq scans every label directory
    (plain PQ), ann_ivfpq prunes to the probe labels.  Deterministic
    (hash-sampled fit), so prebuilt == in-DAG results."""
    import tempfile

    from qurio_spark.operators.pq import pq_fit, write_ivfpq_index

    path = _PQ_INDEX_DIRS.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="qurio-pq-idx-")
        emb = _t(spark, sf_dir, "embeddings")
        books = pq_fit(emb, m=16, k=256, iters=10)
        write_ivfpq_index(emb, books, path)
        _PQ_INDEX_DIRS[sf_dir] = path
    return path


def _pq_index_handle(spark, sf_dir: str):
    """Open-once (codes_df, codebooks, total_n, per_label_counts) over
    the persisted IVF x PQ layout; the counts are index metadata the
    adaptive shortlist sizing needs (computed once at open, not per
    query)."""
    from qurio_spark.operators.pq import read_pq_index

    h = _PQ_INDEX_HANDLES.get(sf_dir)
    if h is None:
        codes, books = read_pq_index(spark, _pq_index_path(spark, sf_dir))
        counts = {
            int(r["label"]): int(r["n"])
            for r in codes.groupBy("label").agg(F.count("*").alias("n")).collect()
        }
        h = (codes, books, sum(counts.values()), counts)
        _PQ_INDEX_HANDLES[sf_dir] = h
    return h


def _lsh_index_path(spark, sf_dir: str) -> str:
    import tempfile

    from qurio_spark.operators.similarity import write_lsh_index

    path = _LSH_INDEX_DIRS.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="qurio-lsh-idx-")
        emb = _t(spark, sf_dir, "embeddings")
        write_lsh_index(emb, path, dim=len(_qvec(spark, sf_dir)), n_planes=3)
        _LSH_INDEX_DIRS[sf_dir] = path
    return path


def prepare_indexes(spark, sf_dir: str) -> None:
    """Amortized index builds (called untimed by bench.py), with the
    opened handles pre-warmed — a serving system opens an index once,
    so the first query shouldn't pay the parquet-footer reads either."""
    from qurio_spark.operators.similarity import read_lsh_index

    _bm25_index_path(spark, sf_dir, "documents")
    _bm25_index_path(spark, sf_dir, "joined")
    _ivf_index_path(spark, sf_dir)
    _dedup_index_path(spark, sf_dir)
    _lsh_index_path(spark, sf_dir)
    _pq_index_path(spark, sf_dir)
    _bm25_index_handle(spark, sf_dir, "documents")
    _bm25_index_handle(spark, sf_dir, "joined")
    _ivf_index_handle(spark, sf_dir)
    _pq_index_handle(spark, sf_dir)
    if sf_dir not in _LSH_INDEX_HANDLES:
        _LSH_INDEX_HANDLES[sf_dir] = read_lsh_index(
            spark, _lsh_index_path(spark, sf_dir)
        )


def q_bm25_incremental(spark, sf_dir):
    """Q2 alpha=0 over a SEGMENTED index (operators/bm25.build_segment
    / merge_segments): the corpus arrives as two ingest batches, each
    built into an immutable segment; query-time scoring sums the
    additive df/N/sumdl partials across segments — identical scores to
    a monolithic rebuild, but appending a batch never rewrites old
    postings (the Lucene segment model on parquet; the 100 TB
    incremental-ingest shape)."""
    from qurio_spark.operators.bm25 import (
        build_segment,
        merge_segments,
        score_query_segmented,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    merged = merge_segments([build_segment(base), build_segment(delta)])
    scored = score_query_segmented(merged, QUERY_TEXT)
    return _keyword_top10(scored)


def q_bm25_prebuilt(spark, sf_dir):
    """Q2 alpha=0 against the PERSISTED index: postings written
    partitioned by md5 term-bucket, query terms hashed driver-side so
    the scan prunes to <= |q| of 64 bucket directories then applies the
    pushed ``term IN``  filter — per-query cost O(sum df(t)), corpus
    scanned zero times (operators/bm25.write_index/prune_postings)."""
    idx = _bm25_index_handle(spark, sf_dir, "documents")
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
            bm25_index=_hybrid_bm25_index(spark, sf_dir),
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
        bm25_index=_hybrid_bm25_index(spark, sf_dir),
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
    if sf_dir in _IVF_INDEX_DIRS:
        labeled, centroids, codebook = _ivf_index_handle(spark, sf_dir)
        ivf_idx = (labeled, centroids)
    res = hybrid_search_batch_ivf(
        docs, queries, alpha=0.5, limit=5, ivf_index=ivf_idx,
        bm25_index=_hybrid_bm25_index(spark, sf_dir), codebook=codebook,
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
        bm25_index=_hybrid_bm25_index(spark, sf_dir),
    )
    return res.select("doc_id", stable_round("score", 6).alias("score"))
