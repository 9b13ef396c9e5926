"""Hybrid search — operator Q2 plus its satellites (F1/F2 filters, Q3
parameter resolution, Q6 title backfill).

Semantics (owned by the rebuild; the reference delegated fusion to
Weaviate's relative-score fusion, store.go:107-110 / SURVEY §4):

  1. optional metadata equality filters (F1) pre-score — only string
     equality, matching store.go:133-150;
  2. BM25 score and cosine score computed for every surviving doc
     (missing keyword evidence -> 0);
  3. each score min-max normalized over the candidate set:
     (x - min) / (max - min), constant column -> 0;
  4. fused = alpha * vec_norm + (1 - alpha) * bm25_norm,
     alpha in [0,1]: 0 = pure keyword, 1 = pure vector
     (mcp/handler.go:131-153);
  5. top-k by fused score desc, id asc (deterministic tiebreak).

Scale: the filter runs before any scoring (partition pruning on
source_id-partitioned chunks).  Over a DataFrame, ``hybrid_search``
then runs three actions over the candidate set, none of which shuffles
rows: a one-row aggregate for the collection statistics (N, avgdl, df
of each query term) and the cosine range, a one-row aggregate for the
BM25 range, and the top-k as one TakeOrdered.  BM25 is a column
expression over per-document term-frequency maps
(``bm25.with_term_freqs``), and every statistic and normalization
constant reaches it as a driver-side literal.  Nothing here grows with
corpus size except the pruned candidate scans.

The serving engine (``api.Engine``) prepares those maps once per chunk
frame.  Below the driver's result-size ceiling it collects them into a
``resident.ResidentSnapshot``; ``hybrid_search`` over a snapshot runs
no Spark job and returns the same rows, bit for bit, as the three
actions would (``resident`` module doc).

The batch forms (``hybrid_search_batch`` over corpus x queries, and
``hybrid_search_batch_ivf`` over IVF-probed candidates plus keyword
matches) score a table of queries at once; both end in one fusion step,
``_fuse_top_k``: per-query min-max, alpha fusion, per-query top-k.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, functions as F

from qurio_spark.functions.checkpointing import checkpoint_df
from qurio_spark.functions.jobs import job_description
from qurio_spark.functions.numeric import stable_round
from qurio_spark.functions.vector import cosine, literal_vector
from qurio_spark.operators import bm25 as bm25_op
from qurio_spark.schemas import DEFAULT_SETTINGS

if TYPE_CHECKING:  # imported by the serving engine only: keeps pyarrow out of workers
    from qurio_spark.operators.resident import ResidentSnapshot, TopK


def apply_metadata_filters(df: DataFrame, filters: dict[str, str] | None) -> DataFrame:
    """F1: AND of string-equality predicates; non-string values are
    silently dropped, matching store.go:133-150."""
    for k, v in (filters or {}).items():
        if isinstance(v, str):
            df = df.filter(F.col(k) == v)
    return df


def resolve_params(
    alpha: float | None = None,
    limit: int | None = None,
    settings: dict | None = None,
) -> tuple[float, int]:
    """Q3: per-request overrides > settings row > hard fallbacks
    (alpha 0.5 / top_k 10 — retrieval/service.go:71-91).  MCP bounds:
    alpha in [0,1], limit 1..50 (mcp/handler.go:260-268)."""
    s = {**DEFAULT_SETTINGS, **(settings or {})}
    a = float(s["search_alpha"] if alpha is None else alpha)
    k = int(s["search_top_k"] if limit is None else limit)
    if not 0.0 <= a <= 1.0:
        raise ValueError(f"alpha must be in [0,1], got {a}")
    if not 1 <= k <= 50:
        raise ValueError(f"limit must be in 1..50, got {k}")
    return a, k


def _minmax(x: Column, lo: float | None, hi: float | None) -> Column:
    """(x - lo) / (hi - lo) with driver-side constants; a constant
    column (or an empty candidate set) normalizes to 0."""
    if lo is None or hi is None or not hi > lo:
        return F.lit(0.0)
    return (x - lo) / (hi - lo)


def hybrid_search(
    docs: DataFrame | ResidentSnapshot,
    query_text: str,
    query_vec: list[float],
    alpha: float | None = None,
    limit: int | None = None,
    filters: dict[str, str] | None = None,
    settings: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
    bm25_index=None,
    job_label: str | None = None,
) -> DataFrame | TopK:
    """-> top-k (id, bm25_norm, vec_norm, score [, extra_cols]) rows.

    ``docs`` may be a ``ResidentSnapshot``: the top-k is then computed
    on the driver and returned as a ``TopK``, whose ``collect()`` gives
    the rows the Spark path would.  A search the snapshot cannot answer
    exactly (``ResidentSnapshot.serves``) runs over its ``frame``.

    ``docs`` must carry text + embedding columns (join chunks with their
    vectors upstream if stored separately).  It is read once per action,
    so it must be deterministic.  Frames that already carry the ``tf``/
    ``dl`` columns of ``bm25.with_term_freqs`` skip the tokenization.

    The BM25 statistics and both min-max ranges are computed over the
    filtered candidates by up to two one-row aggregates, which run
    here, eagerly; the returned frame is the top-k alone: a scan plus
    TakeOrdered, with every constant a literal and no shuffle.  A query
    with no term in any candidate skips the second aggregate (its BM25
    is 0 everywhere).  ``job_label`` names the aggregates' Spark jobs
    ``<label>:stats`` and ``<label>:bm25_range``.

    ``bm25_index``: a prebuilt (persisted) corpus index — valid ONLY
    when no metadata filters apply, because BM25 stats (df/N/avgdl) are
    defined over the candidate set and a filtered candidate set has its
    own stats.  Its sparse per-query scores are broadcast onto the
    candidates, and one aggregate gives both ranges.
    """
    a, k = resolve_params(alpha, limit, settings)
    if not isinstance(docs, DataFrame):  # a ResidentSnapshot
        cols = extra_cols or []
        if bm25_index is None and docs.serves(filters, query_vec, id_col, vec_col, cols):
            return docs.top_k(query_text, query_vec, a, k, filters, cols)
        docs = docs.frame
    cand = apply_metadata_filters(docs, filters)
    cos = cosine(F.col(vec_col), literal_vector(query_vec))

    def phase(name: str):
        return job_description(docs.sparkSession, job_label and f"{job_label}:{name}")

    if bm25_index is not None and not filters:
        kw = bm25_op.score_query(bm25_index, query_text)
        cand = cand.join(F.broadcast(kw), id_col, "left")
        bm25 = F.coalesce(F.col("bm25"), F.lit(0.0))
        with phase("stats"):
            cmn, cmx, bmn, bmx = cand.agg(
                F.min(cos), F.max(cos), F.min(bm25), F.max(bm25)
            ).collect()[0]
    else:
        cand = bm25_op.with_term_freqs(cand, text_col)
        terms = sorted(set(bm25_op.tokenize_query(query_text)))
        dfs = [F.count(F.try_element_at(F.col("tf"), F.lit(t))) for t in terms]
        with phase("stats"):
            n, avgdl, cmn, cmx, *df_vals = cand.agg(
                F.count("*"), F.avg("dl"), F.min(cos), F.max(cos), *dfs
            ).collect()[0]
        matched = {t: d for t, d in zip(terms, df_vals) if d}
        if matched:
            bm25 = bm25_op.score_expr(matched, float(n), avgdl)
            with phase("bm25_range"):
                bmn, bmx = cand.agg(F.min(bm25), F.max(bm25)).collect()[0]
        else:
            bm25, bmn, bmx = F.lit(0.0), 0.0, 0.0

    bm25_norm, vec_norm = _minmax(bm25, bmn, bmx), _minmax(cos, cmn, cmx)
    cols = [id_col, "bm25_norm", "vec_norm", "score"] + (extra_cols or [])
    # rank on the 6-digit stable-rounded score: BM25 sums taken in
    # another order (the prebuilt index's partial aggregates, the
    # oracles) differ at 1e-16, so ranking raw doubles would make the
    # top-k set path-dependent at score ties
    return (
        cand.withColumns({"bm25_norm": bm25_norm, "vec_norm": vec_norm})
        .withColumn(
            "score", F.lit(a) * F.col("vec_norm") + F.lit(1.0 - a) * F.col("bm25_norm")
        )
        .select(*cols)
        .orderBy(F.desc(stable_round(F.col("score"), 6)), F.asc(id_col))
        .limit(k)
    )


def hybrid_search_batch(
    docs: DataFrame,
    queries: DataFrame,
    alpha: float | None = None,
    limit: int | None = None,
    settings: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    qvec_col: str = "query_vec",
    bm25_index=None,
) -> DataFrame:
    """Score a TABLE of queries against the corpus in ONE job — the
    Spark-native retrieval shape (BASELINE.json: search is a batch job
    answering a batch of queries, not an online server).

    -> (query_id, doc_id, bm25_norm, vec_norm, score) top-k rows PER
    query.

    Dataflow (every stage amortized across all queries):
      - one shared BM25 index build over the corpus;
      - query terms exploded from the queries table and broadcast into
        the postings join -> sparse (query, doc) keyword scores in one
        partial-aggregated shuffle, cost O(sum over queries of df(t));
      - dense candidates = corpus x broadcast(queries) for the exact
        vector score (the brute-force oracle; at 100 TB swap the dense
        side for IVF/LSH-pruned probes per query, operators/similarity);
      - per-query min-max stats via groupBy(query) broadcast back;
      - per-query top-k via operators/topn.grouped_top_n — Spark's
        map-side WindowGroupLimit(Partial) pre-filters each task to
        its local top-k, so a hot query's candidate list never
        funnels one window reducer; no global sort.
    """
    a, k = resolve_params(alpha, limit, settings)

    kw = _batch_keyword_scores(
        docs, queries, id_col, text_col, qid_col, qtext_col, index=bm25_index
    )

    cand = docs.select(id_col, text_col, vec_col).crossJoin(
        F.broadcast(queries.select(qid_col, qvec_col))
    )
    scored = (
        cand.join(kw, [qid_col, id_col], "left")
        .withColumn("bm25", F.coalesce(F.col("bm25"), F.lit(0.0)))
        .withColumn("cos", cosine(F.col(vec_col), F.col(qvec_col)))
        .select(qid_col, id_col, "bm25", "cos")
        .transform(checkpoint_df)  # shared by stats agg + value branch
    )
    return _fuse_top_k(scored, a, k, qid_col, id_col)


def _fuse_top_k(
    scored: DataFrame, a: float, k: int, qid_col: str, id_col: str
) -> DataFrame:
    """(qid, id, bm25, cos) candidate rows -> per-query top-k (qid, id,
    bm25_norm, vec_norm, score): each score min-max normalized over the
    query's candidates (constant -> 0), fused by ``a``.

    The per-query ranges come from a partial-agged groupBy broadcast
    back, not a per-query window, which would ship every candidate row
    of a hot query to ONE reducer; the agg's map-side partials absorb
    it.  The top-k runs through grouped_top_n: its map-side
    WindowGroupLimit(Partial) pre-filter keeps a hot query's candidate
    list off any single reducer; identical output (the oracle stays
    plain single-window SQL)."""
    from qurio_spark.operators.topn import grouped_top_n

    mm = scored.groupBy(qid_col).agg(
        F.min("bm25").alias("_bmn"), F.max("bm25").alias("_bmx"),
        F.min("cos").alias("_cmn"), F.max("cos").alias("_cmx"),
    )

    def norm(x: str, lo: str, hi: str) -> Column:
        return F.when(
            F.col(hi) > F.col(lo), (F.col(x) - F.col(lo)) / (F.col(hi) - F.col(lo))
        ).otherwise(F.lit(0.0))

    fused = (
        scored.join(F.broadcast(mm), qid_col)
        .withColumn("bm25_norm", norm("bm25", "_bmn", "_bmx"))
        .withColumn("vec_norm", norm("cos", "_cmn", "_cmx"))
        .withColumn(
            "score", F.lit(a) * F.col("vec_norm") + F.lit(1.0 - a) * F.col("bm25_norm")
        )
    )
    return grouped_top_n(
        fused,
        [qid_col],
        [F.desc(stable_round(F.col("score"), 6)), F.asc(id_col)],
        k,
    ).select(qid_col, id_col, "bm25_norm", "vec_norm", "score")


def _batch_keyword_scores(
    docs, queries, id_col, text_col, qid_col, qtext_col, index=None, prune_terms=None
):
    """Sparse (query_id, doc_id, bm25) scores: shared index build,
    query terms broadcast into the postings join, one partial-agg
    shuffle — cost O(sum over queries of df(t)).

    ``index``: a prebuilt (possibly persisted) BM25Index.  Its postings
    scan is pruned to the batch's query terms (``prune_terms``, else
    collected driver-side — the query table is small by definition)
    through bm25.prune_postings, so a persisted layout is also
    directory-pruned to the terms' buckets."""
    from qurio_spark.functions.text import tokenize

    if index is None:
        idx = bm25_op.build_index(docs, id_col, text_col)
        postings = idx.postings
    else:
        idx = index
        if prune_terms is None:
            prune_terms = sorted(
                {
                    t
                    for r in queries.select(qtext_col).collect()
                    for t in bm25_op.tokenize_query(r[qtext_col] or "")
                }
            )
        postings = bm25_op.prune_postings(idx.postings, prune_terms)
    qterms = queries.select(
        F.col(qid_col),
        F.explode(F.array_distinct(tokenize(F.col(qtext_col)))).alias("term"),
    )
    matched = postings.join(F.broadcast(qterms), "term")
    return bm25_op.sum_impacts(matched, idx, [qid_col, id_col])


def hybrid_search_batch_ivf(
    docs: DataFrame,
    queries: DataFrame,
    alpha: float | None = None,
    limit: int | None = None,
    settings: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    qvec_col: str = "query_vec",
    k_clusters: int = 8,
    iters: int = 3,
    nprobe: int = 3,
    fit_sample_mod: int | None = 4,
    ivf_index: tuple[DataFrame, DataFrame] | None = None,
    bm25_index=None,
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-pruned batch hybrid search — the scale path for
    ``hybrid_search_batch``, which scores corpus x queries densely.

    Candidate set per query = (docs in the query's ``nprobe`` nearest
    IVF clusters)  UNION  (docs matching >= 1 query term).  Only these
    pairs flow through fusion and the per-query top-k window, so the
    materialized/windowed row count drops from N*Q to roughly
    N*Q*nprobe/k_clusters + sparse keyword matches.

    Normalization runs over each query's candidate set and never
    touches the full corpus, so its constants differ from the dense
    oracle's; the retrieved top-k doc set matches the dense result
    whenever the probes reach every true top-k doc (pinned by the
    doc-set oracle and the recall test).
    """
    from qurio_spark.operators.similarity import ivf_build

    a, k = resolve_params(alpha, limit, settings)

    # --- IVF index: prebuilt (persisted, partitioned by label) when
    # provided — the amortized production shape — else codebook fit on
    # a hash-sample + one full labeling pass, in-DAG.
    if ivf_index is not None:
        labeled, centroids = ivf_index
    else:
        vecs = checkpoint_df(docs.select(F.col(id_col), F.col(vec_col)))
        labeled, centroids = ivf_build(
            vecs,
            k=k_clusters,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
            fit_sample_mod=fit_sample_mod,
        )

    # --- per-query probe set, computed driver-side from ONE collect of
    # the (small) query table: the codebook is k rows, so ranking
    # centroids per query costs Q*k_clusters scalar ops — and yields
    # LITERAL probe labels, which is what lets the label-partitioned
    # corpus scan prune directories (an isin literal reaches the scan
    # as a PartitionFilter; a join value never does).  The collected
    # rows also REPLACE the query frame itself: queries are small by
    # contract and typically a join against the embeddings table, so
    # re-deriving them as a literal frame keeps that join out of every
    # downstream stage (probe join, keyword terms, qvec broadcast).
    import math

    from pyspark.sql import types as T

    # ``codebook``: the collected (label, centroid) rows — k*dim floats,
    # i.e. index METADATA a serving system keeps resident; passing it
    # skips the per-query centroid collect job.
    crows = (
        [(int(l), list(c)) for l, c in codebook]
        if codebook is not None
        else [(r["label"], list(r["centroid"])) for r in centroids.collect()]
    )
    qall = queries.select(qid_col, qtext_col, qvec_col).collect()
    spark_ = docs.sparkSession
    qschema = T.StructType(
        [
            queries.schema[qid_col],
            queries.schema[qtext_col],
            queries.schema[qvec_col],
        ]
    )
    from qurio_spark.functions.frames import local_frame

    queries = local_frame(
        spark_,
        [(r[qid_col], r[qtext_col], list(r[qvec_col])) for r in qall],
        qschema,
    )
    terms = sorted(
        {t for r in qall for t in bm25_op.tokenize_query(r[qtext_col] or "")}
    )
    probe_pairs = []
    for qr in qall:
        qv = list(qr[qvec_col])
        nq = math.sqrt(sum(x * x for x in qv))
        sims = []
        for lbl, cv in crows:
            nc = math.sqrt(sum(x * x for x in cv))
            d = sum(a * b for a, b in zip(qv, cv))
            sims.append((d / (nq * nc) if nq > 0 and nc > 0 else 0.0, lbl))
        sims.sort(key=lambda t: (-t[0], t[1]))
        probe_pairs += [(qr[qid_col], int(lbl)) for _, lbl in sims[:nprobe]]
    qid_type = queries.schema[qid_col].dataType
    probes = local_frame(
        spark_,
        probe_pairs,
        T.StructType(
            [T.StructField(qid_col, qid_type), T.StructField("label", T.IntegerType())]
        ),
    )
    probe_labels = sorted({lbl for _, lbl in probe_pairs})

    # --- sparse keyword side (complete: never pruned)
    kw = _batch_keyword_scores(
        docs,
        queries,
        id_col,
        text_col,
        qid_col,
        qtext_col,
        index=bm25_index,
        prune_terms=terms,
    )

    # --- candidate pairs: probed clusters U keyword matches.  The
    # literal label filter prunes the (label-partitioned) corpus scan
    # to the union of probed clusters before the probe join fans out
    # per-query pairs.  The probed side carries its embedding straight
    # out of the (label-partitioned) corpus scan, so only the sparse
    # keyword-only pairs ever join the vector table — the probed pairs,
    # the bulk of the candidate set, never re-shuffle against it.
    probed = (
        labeled.filter(F.col("label").isin(probe_labels))
        .join(F.broadcast(probes), "label")
        .select(qid_col, id_col, vec_col)
    )
    qvecs = queries.select(qid_col, qvec_col)

    # Everything not listed is broadcast map-side:
    #   1. the keyword partial-agg inside ``kw``;
    #   2. the per-query min-max stats agg of ``_fuse_top_k`` —
    #      partial-agged, so a hot query's candidates collapse map-side;
    #   3. the per-query top-k Exchange(query) — fed by the map-side
    #      WindowGroupLimit(Partial) pre-filter (operators/topn), so it
    #      carries <= k rows per (query, map partition), never a hot
    #      query's candidate list.
    # The two candidate branches are DISJOINT by construction (keyword
    # pairs whose (query, label) is probed are anti-joined out against
    # the broadcast probe table), so there is no dedupe shuffle.
    # ``kw`` feeds both branches — one lazy lineage cut so the postings
    # scan + agg run once, not twice.  cache, not localCheckpoint: both
    # consumers sit in the SAME action, so lazy caching materializes kw
    # once inside the main job (no separate checkpoint job); the handle
    # on the returned frame releases it (operators/cachectl).
    # (Measured: cache 0.97 s, eager localCheckpoint 1.11 s, no cut
    # 2.4 s at sf0.1.)
    kw = kw.cache()
    # cosine is computed BEFORE the bm25-attach join so the join
    # exchange shuffles (qid, doc, cos) scalars — projecting it after
    # the join would drag both embedding arrays through the Exchange
    # (measured ~2x the shuffle bytes at 64 dims)
    probed_cos = probed.join(F.broadcast(qvecs), qid_col).select(
        qid_col,
        id_col,
        cosine(F.col(vec_col), F.col(qvec_col)).alias("cos"),
    )
    probed_scored = probed_cos.join(kw, [qid_col, id_col], "left").select(
        qid_col,
        id_col,
        F.coalesce(F.col("bm25"), F.lit(0.0)).alias("bm25"),
        F.col("cos"),
    )
    kw_outside = (
        kw.join(
            labeled.select(F.col(id_col), F.col("label"), F.col(vec_col)),
            id_col,
        )
        .join(F.broadcast(probes), [qid_col, "label"], "left_anti")
        .join(F.broadcast(qvecs), qid_col)
        .select(
            qid_col,
            id_col,
            F.col("bm25"),
            cosine(F.col(vec_col), F.col(qvec_col)).alias("cos"),
        )
    )
    # cache (the ``kw`` convention, NOT localCheckpoint: both consumers
    # sit in the same action, and a cache keeps the candidate subtree —
    # IVF partition pruning included — visible to the plan audit)
    # shares the candidate build between the stats agg and the value
    # branch of the fusion.
    cand = probed_scored.unionByName(kw_outside).cache()
    from qurio_spark.operators.cachectl import attach_caches

    return attach_caches(_fuse_top_k(cand, a, k, qid_col, id_col), [kw, cand])


def hybrid_search_rrf(
    docs: DataFrame,
    query_text: str,
    query_vec: list[float],
    limit: int | None = None,
    rrf_k: int = 60,
    depth: int = 100,
    filters: dict[str, str] | None = None,
    settings: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    bm25_index=None,
) -> DataFrame:
    """Reciprocal-rank fusion — the scoreless fusion mode next to the
    reference's alpha/min-max (Q2): each branch contributes
    1/(rrf_k + rank) for its top-``depth`` results, missing-from-list
    contributes nothing.  Ranks are INTEGERS (ties broken by
    stable-rounded score then id), so fusion is scale-free — immune to
    the score-distribution mismatch min-max normalization papers over,
    which is why RRF is the default hybrid combiner in several search
    engines (Cormack et al., SIGIR 2009).

    Scale shape: each branch ends in a TakeOrdered top-``depth`` (no
    global sort, no corpus-wide rank), fusion is a full-outer join of
    two depth-sized lists; ranks re-derive via a window over the tiny
    shortlists.  Determinism note: every fused score is a sum of at
    most two exactly-representable reciprocals of integers computed in
    the same order on any engine — no float-aggregation-order hazard,
    unlike score-sum fusion."""
    from pyspark.sql.window import Window

    _, k = resolve_params(None, limit, settings)
    cand = apply_metadata_filters(docs, filters)
    idx = (
        bm25_index
        if bm25_index is not None and not filters
        else bm25_op.build_index(cand, id_col, text_col)
    )
    kw = bm25_op.score_query(idx, query_text)

    def branch_ranks(scored, score_col, rank_col):
        top = (
            scored.orderBy(
                F.desc(stable_round(F.col(score_col), 6)), F.asc(id_col)
            )
            .limit(depth)
        )
        w = Window.orderBy(
            F.desc(stable_round(F.col(score_col), 6)), F.asc(id_col)
        )
        return top.select(id_col, F.row_number().over(w).alias(rank_col))

    b = branch_ranks(kw.filter(F.col("bm25") > 0), "bm25", "rb")
    vec_scored = cand.select(
        F.col(id_col), cosine(F.col(vec_col), literal_vector(query_vec)).alias("cos")
    )
    v = branch_ranks(vec_scored, "cos", "rv")
    fused = b.join(v, id_col, "full").select(
        F.col(id_col),
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rb")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rv")), F.lit(0.0))
        ).alias("score"),
    )
    return (
        fused.orderBy(F.desc(stable_round(F.col("score"), 6)), F.asc(id_col))
        .limit(k)
    )
