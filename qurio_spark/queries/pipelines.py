"""Non-SQL-expressible / composite queries: full ingest pipeline,
iterative k-means (IVF codebook), chunker corpus, LSH top-k twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from qurio_spark.functions.numeric import stable_round
from qurio_spark.operators.chunker import chunk_documents
from qurio_spark.operators.similarity import lsh_topk

from . import indexes
from .common import QUERY_VEC_ID, _qvec, _t
from .search import _batch_queries_frame


def q_ingest_pipeline(spark, sf_dir):
    """T1-T6 end-to-end: clean -> chunk -> contextual prefix -> embed
    (hashing-TF pandas UDF).  Returns chunk rows with the embedding
    dimension as a checkable column (vectors themselves are rows-only)."""
    from qurio_spark.plans.pipeline import build_chunks

    d = _t(spark, sf_dir, "documents")
    docs_raw = d.select(
        F.col("source").alias("source_id"),
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("").alias("title"),
        F.lit("").alias("path"),
        F.col("text").alias("content"),
        F.array().cast("array<string>").alias("links"),
        F.lit(0).alias("depth"),
        F.lit("success").alias("status"),
        F.lit(None).cast("string").alias("error"),
        F.lit(None).cast(
            "struct<author:string,created_at:string,pages:int,language:string>"
        ).alias("metadata"),
    )
    chunks = build_chunks(docs_raw)
    return chunks.select(
        "source_id", "url", "chunk_index", "type", F.size("embedding").alias("dim")
    )


def q_kmeans_ivf(spark, sf_dir):
    """IVF index build: distributed Lloyd's k-means codebook + corpus
    labeling (operators/similarity.ivf_build).  Iterative -> rows-only
    check; clustering quality is asserted in tests/test_dedup.py."""
    from qurio_spark.operators.similarity import ivf_build

    emb = _t(spark, sf_dir, "embeddings")
    labeled, _centroids = ivf_build(emb, k=8, iters=3)
    return labeled.groupBy("label").agg(F.count("*").alias("n_vecs"))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table
    (operators/similarity.semantic_dedup): k-means clusters, cosine
    near-dup groups WITHIN clusters, one survivor per group (lowest
    centroid cosine).  k-means is iterative -> rows-only check; the
    keep rule, determinism, and column preservation are pinned in
    tests/test_dedup.py::TestSemanticDedup.  Returns the survivor
    count plus sha256 OF THE FULL SORTED SURVIVOR ID LIST — the
    pipeline is md5-seeded deterministic, so the hash is a golden
    value (pinned in tests/test_queries_full.py), and unlike the old
    (count, id_sum) summary a survivor swap cannot collide."""
    from qurio_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    # threshold matches q_embedding_near_dup's 0.3 (the synthetic
    # embeddings are near-orthogonal; 0.3 yields real dup groups)
    out = semantic_dedup(emb, k=8, threshold=0.3, iters=3)
    return out.agg(
        F.count("*").alias("n_survivors"),
        F.sha2(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("vec_id")),
                    lambda x: x.cast("string"),
                ),
            ),
            256,
        ).alias("survivor_sha"),
    )


def _pq_codes(spark, sf_dir, emb, label=None):
    """(packed codes, codebooks, n) for the PQ queries.  ``n`` sizes
    the shortlist: the corpus count, or with ``label`` the count of
    that coarse label's rows (and the codes keep ``label`` so the probe
    can filter on it).

    The prepared IVF x PQ index when bench made one (the label filter
    prunes its directories; counts come from the opened handle, no
    per-query count job), else an in-DAG fit + encode — the fit is
    hash-sampled and deterministic, so the results are identical.  The
    in-DAG counts read the source table (parquet stats), never the
    encode lineage."""
    from qurio_spark.operators.pq import pq_encode, pq_fit

    h = indexes.prepared(spark, sf_dir, "pq")
    if h is not None:
        codes, books, n, counts = h
        return codes, books, n if label is None else counts[label]
    books = pq_fit(emb, m=16, k=256, iters=10)
    if label is None:
        return pq_encode(emb, books, packed=True), books, emb.count()
    codes = pq_encode(emb, books, keep_cols=["label"], packed=True)
    return codes, books, emb.filter(F.col("label") == label).count()


def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN with exact refine (operators/pq.py):
    fit m=16 x k=256 codebooks (the FAISS PQ16x8 shape) on the
    deterministic hash sample, encode the corpus to 16 8-bit codes
    PACKED into two 64-bit longs per vector (~16x smaller scan than
    the raw floats), ADC-score a SUBLINEARLY-sized shortlist
    (shortlist_for: c*sqrt(n) — a constant depth was the round-6
    recall cliff, and the round-7 constant FRACTION made the
    TakeOrdered merge + refine broadcast linear in the corpus; the
    8-bit quantizer is what buys the sqrt law: measured minimal
    recall-1.0 depth 33 at n=500, 65 at n=2000, a >= 4x margin under
    the sized shortlist at every test SF), then exactly re-score only
    the shortlist (broadcast semi-join, shuffle-hash past 2M ids).
    Oracle-backed because shortlist recall is 1.0 at EVERY test SF
    (pinned in tests/test_pq.py and gated at the bench SF by the
    ann_pq_recall extra), so the refined top-10 IS the exact dot
    top-10."""
    from qurio_spark.operators.pq import pq_topk_refined

    emb = _t(spark, sf_dir, "embeddings")
    q = _qvec(spark, sf_dir)
    codes, books, n = _pq_codes(spark, sf_dir, emb)
    top = pq_topk_refined(codes, emb, books, q, topk=10, n_candidates=n)
    return top.select("vec_id", stable_round("score", 4).alias("score"))


def q_batch_ann_pq(spark, sf_dir):
    """Batch ANN over the compressed codes (operators/pq.pq_topk_batch
    — the PQ analogue of batch_hybrid): the three-query serving table
    scores in ONE Arrow scan of the packed codes with a (Q, m, k) LUT
    tensor (per-query literal expressions would repeat the ADC plan Q
    times — the measured expression-bloat trap), each partition emits
    only its local per-query shortlist, a window cuts the global
    shortlist, and one refine join re-scores every query's candidates
    exactly.  Oracle: per-query brute-force dot top-10 — valid because
    the sublinear shortlist keeps recall 1.0 (same law as ann_pq,
    pinned in tests/test_pq.py)."""
    from qurio_spark.operators.pq import pq_topk_batch

    emb = _t(spark, sf_dir, "embeddings")
    queries = _batch_queries_frame(spark, sf_dir).select(
        "query_id", F.col("query_vec").alias("qvec")
    )
    codes, books, n = _pq_codes(spark, sf_dir, emb)
    out = pq_topk_batch(
        codes, emb, books, queries, topk=10, n_candidates=n
    )
    return out.select(
        "query_id", "vec_id", stable_round("score", 4).alias("score")
    )


def q_ann_ivfpq(spark, sf_dir):
    """IVF x PQ composed (operators/pq.ivfpq_topk — the FAISS
    IndexIVFPQ shape, the actual 100 TB ANN serving plan): the coarse
    label prunes the scan to the query vector's own cluster (same
    probe contract as ann_ivf, so the oracle restricts to that label
    in SQL), the ADC stage reads only that partition's PACKED codes,
    and the exact refine re-scores the sublinearly-sized shortlist
    (c*sqrt(probed), min 50) with the same label filter pushed to the
    raw-vector fetch.  Recall vs the label-restricted exact top-10 is
    1.0 at every test SF (tests/test_pq.py) and gated at the bench SF
    by the ann_ivfpq_recall extra."""
    from qurio_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    # one driver round trip for query vector AND probe label (r15 —
    # they live on the same parquet row; two .first() jobs paid the
    # per-action floor twice for identical bytes)
    row = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding", "label")
        .first()
    )
    q = [float(x) for x in row["embedding"]]
    label = int(row["label"])
    codes, books, n_probe = _pq_codes(spark, sf_dir, emb, label)
    top = ivfpq_topk(
        codes, emb, books, q, probe_labels=[label], topk=10,
        n_candidates=n_probe,
    )
    return top.select("vec_id", stable_round("score", 4).alias("score"))


def q_chunk_corpus(spark, sf_dir):
    """T1-T4 + F9/F10: structural chunker over the documents corpus."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    return chunk_documents(d)


def q_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN probe (approximate; checked
    rows-only — the exact twin is q_vector_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    top = lsh_topk(emb, _qvec(spark, sf_dir), n_planes=3, k=10)
    return top.select("vec_id", stable_round("score", 4).alias("score"))


def q_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH against the persisted bucket index: the query's
    bucket plus its lowest-|margin| neighbor bucket (2 of 2^3
    directories read) — the standard recall/latency dial for hyperplane
    LSH, with the probe set still a driver-side literal so directory
    pruning holds (operators/similarity.lsh_probe_buckets)."""
    from qurio_spark.operators.similarity import lsh_topk_prebuilt

    idx = indexes.handle(spark, sf_dir, "lsh")
    top = lsh_topk_prebuilt(idx, _qvec(spark, sf_dir), k=10, n_probe_buckets=2)
    return top.select("vec_id", stable_round("score", 4).alias("score"))


def q_lsh_prebuilt(spark, sf_dir):
    """q_lsh_topk against the PERSISTED bucket index: corpus written
    partitioned by sign-pattern bucket, query hashed to its bucket
    driver-side, so the scan prunes to ONE of 2^n_planes directories —
    zero per-query corpus passes (operators/similarity.write_lsh_index /
    lsh_topk_prebuilt; same write-time layout as BM25 term buckets and
    IVF labels)."""
    from qurio_spark.operators.similarity import lsh_topk_prebuilt

    idx = indexes.handle(spark, sf_dir, "lsh")
    top = lsh_topk_prebuilt(idx, _qvec(spark, sf_dir), k=10)
    return top.select("vec_id", stable_round("score", 4).alias("score"))


