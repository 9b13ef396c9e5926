"""BM25 keyword scoring (half of operator Q2, hybrid search).

The reference delegates BM25 to Weaviate's inverted index
(internal/adapter/weaviate/store.go:105-236 builds the Hybrid query;
SURVEY §4 "Index structures").  Spark has no inverted index, so the
rebuild owns the semantics:

  score(d, q) = sum_{t in q}  idf(t) * tf(t,d)*(k1+1)
                              / (tf(t,d) + k1*(1 - b + b*dl(d)/avgdl))
  idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))   [Lucene form]
  k1 = 1.2, b = 0.75 (classic defaults, SURVEY §2 Q2)

Scale design (100 TB):
  - ``build_index`` materializes a *postings* table (term, doc, tf) and
    a *doclen* table once per corpus version; both are plain DataFrames
    meant to be written partitioned/bucketed by ``term`` so query-time
    term lookups are partition-pruned scans, not full passes.
  - Query-time scoring filters postings with ``term IN (...literals)``
    — a pushed-down In-predicate on the term-partitioned table — then
    one partial-aggregated groupBy(doc).  Per-query cost is
    O(sum df(t)), independent of corpus size.
  - Corpus stats (N, avgdl) are two scalars; df(t) lives on the
    postings rows (denormalized at build time) precisely so scoring
    needs NO extra join against a stats table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from qurio_spark.functions.hashing import hash64, hash64_py
from qurio_spark.functions.text import tokenize

K1 = 1.2
B = 0.75

#: Hash-bucket count for the persisted postings layout.  Raw ``term``
#: as a partition key would mean |vocab| directories (millions of tiny
#: files at 100 TB); a 64-way md5 bucket keeps file counts sane while a
#: query touching q terms still prunes to <= q of 64 buckets.
N_TERM_BUCKETS = 64

#: Doc-block count for block-max pruning (Ding & Suel's Block-Max WAND
#: adapted to the batch shape): each term's postings are summarized per
#: doc-block, so theta can discard WHOLE blocks — pruning inside a long
#: postings list, where the global per-term bound cannot help.  Blocks
#: key on the engine-portable ``hash64(doc id)`` so the same block is
#: computable driver-side and across segments.
N_DOC_BLOCKS = 64


@dataclass
class BM25Index:
    """postings: (doc id cols..., term, tf, df); doclen: (doc id, dl);
    stats: ONE-ROW frame (n, avgdl) kept lazy so building the index
    schedules no job — the scalars enter query plans via a broadcast
    cross join (scalar-subquery shape), not driver literals.

    ``termmax``: (term, max_impact) — each term's maximum possible
    per-document BM25 contribution under the index's frozen stats, the
    metadata MaxScore/WAND pruning needs (:func:`score_query_maxscore`).
    Computed lazily at build; persisted indexes read it as a tiny
    sidecar so query time never scans postings for bounds.

    ``blockmax``: (term, doc_block, block_max) — the same bound per
    (term, doc-block), the Block-Max refinement that prunes INSIDE a
    long postings list (:func:`score_query_maxscore`); <= |vocab| x
    ``N_DOC_BLOCKS`` rows, also a build-time sidecar."""

    postings: DataFrame
    doclen: DataFrame
    stats: DataFrame
    id_col: str
    termmax: DataFrame | None = None
    blockmax: DataFrame | None = None

    @property
    def n_docs(self) -> int:
        return int(self.stats.collect()[0]["n"])

    @property
    def avgdl(self) -> float:
        return float(self.stats.collect()[0]["avgdl"])


def tokenize_query(query: str) -> list[str]:
    """Driver-side tokenization of the query string — same contract as
    functions.text.tokenize (lowercase alnum runs)."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]


def build_index(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> BM25Index:
    """Corpus -> BM25 index tables.  Build cost: three partial-agg
    shuffles (by (doc,term), by term, by doc) — paid once per corpus
    version.

    BOTH per-term df and per-doc dl are denormalized onto the postings
    rows (posting = term, doc, tf, df, dl — the classic inverted-index
    payload), precisely so query-time scoring is ONE pruned postings
    scan + one groupBy(doc): no stats join, no doclen join."""
    toks = docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # document frequency (broadcast: |vocab| per-term rows are small
    # relative to postings)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    doclen = docs.select(
        F.col(id_col), F.size(tokenize(F.col(text_col))).alias("dl")
    )
    postings = tf.join(F.broadcast(df_), "term").join(doclen, id_col)
    stats = doclen.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    idx = BM25Index(postings, doclen, stats, id_col)
    idx.termmax = term_max_impacts(idx)
    # blockmax deliberately stays None here: on an in-memory index a
    # lazy blockmax would re-run the whole tokenize/join pipeline for
    # one extra aggregation per query — costing more than the block
    # pruning saves (measured ~2x on bm25_maxscore at sf0.1).  The
    # sidecar is materialized once at write_index time; persisted
    # indexes get Block-Max, throwaway in-memory ones get MaxScore.
    return idx


def idf_expr(df_col: Column, n_docs: Column | float) -> Column:
    n = n_docs if isinstance(n_docs, Column) else F.lit(float(n_docs))
    return F.log(F.lit(1.0) + (n - df_col + 0.5) / (df_col + 0.5))


def _impact_expr(k1: float = K1, b: float = B) -> Column:
    """One posting's exact BM25 contribution — over columns (tf, dl,
    df, n, avgdl)."""
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    return idf_expr(F.col("df").cast("double"), F.col("n")) * (
        tf * (k1 + 1.0)
    ) / (tf + k1 * (1.0 - b + b * dl / F.col("avgdl")))


def term_max_impacts(
    index: BM25Index, k1: float = K1, b: float = B
) -> DataFrame:
    """(term, max_impact): each term's maximum per-document BM25
    contribution under the index's frozen df/N/avgdl — one lazy
    partial-agg over postings, |vocab| output rows.  This is the
    per-term upper bound MaxScore/WAND pruning keys on."""
    return (
        index.postings.crossJoin(F.broadcast(index.stats))
        .select(F.col("term"), _impact_expr(k1, b).alias("imp"))
        .groupBy("term")
        .agg(F.max("imp").alias("max_impact"))
    )


def doc_block(col: Column, n_blocks: int = N_DOC_BLOCKS) -> Column:
    """Engine-portable doc -> block map (md5 ``hash64`` mod n, mirrored
    driver-side by :func:`doc_block_py` — the query planner needs the
    same block ids as literals)."""
    return F.pmod(hash64(col.cast("string")), F.lit(n_blocks)).cast("int")


def doc_block_py(doc_id, n_blocks: int = N_DOC_BLOCKS) -> int:
    return hash64_py(str(doc_id)) % n_blocks


def _with_doc_block(
    postings: DataFrame, id_col: str, n_blocks: int = N_DOC_BLOCKS
) -> DataFrame:
    """Postings with a ``doc_block`` column — reuses the stored column
    on persisted indexes (where it is a sorted, stats-skippable scan
    predicate) and derives it on the fly for in-memory frames."""
    if "doc_block" in postings.columns:
        return postings
    return postings.withColumn("doc_block", doc_block(F.col(id_col), n_blocks))


def with_term_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``docs`` plus the per-document BM25 inputs as columns: ``tf``
    (map term -> count over the tokenized ``text_col``) and ``dl``
    (token count) — one projection, no shuffle.  Reuses the columns on
    frames that already carry both (the serving engine's prepared
    chunk frame, ``api.Engine``) and derives them on the fly
    otherwise, the same rule as :func:`_with_doc_block`."""
    if {"tf", "dl"} <= set(docs.columns):
        return docs
    toks = F.col("_toks")
    terms = F.array_distinct(toks)
    counts = F.transform(terms, lambda t: F.size(F.filter(toks, lambda x: x == t)))
    return (
        docs.withColumn("_toks", tokenize(F.col(text_col)))
        .withColumns({"tf": F.map_from_arrays(terms, counts), "dl": F.size(toks)})
        .drop("_toks")
    )


def score_expr(
    term_df: dict[str, int], n_docs: float, avgdl: float, k1: float = K1, b: float = B
) -> Column:
    """Each row's BM25 as a column expression over its ``tf``/``dl``
    columns (:func:`with_term_freqs`), with the collection statistics
    — df of each query term, N, avgdl — computed beforehand and passed
    in as driver-side literals.  Terms are summed in the mapping's
    order; a term absent from a row contributes 0.  Callers drop terms
    with df = 0 (they match no row, and avgdl may then be 0)."""
    dl = F.col("dl").cast("double")
    total = F.lit(0.0)
    for term, df in term_df.items():
        tf = F.try_element_at(F.col("tf"), F.lit(term)).cast("double")
        per_term = idf_expr(F.lit(float(df)), n_docs) * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * dl / avgdl)
        )
        total = total + F.coalesce(per_term, F.lit(0.0))
    return total


def term_block_max_impacts(
    index: BM25Index,
    k1: float = K1,
    b: float = B,
    n_blocks: int = N_DOC_BLOCKS,
) -> DataFrame:
    """(term, doc_block, block_max): each term's maximum per-document
    BM25 contribution WITHIN each doc-block — the Block-Max WAND
    sidecar (Ding & Suel, SIGIR'11).  One partial-agg over postings,
    <= |vocab| x n_blocks output rows; a query consults <= q x
    n_blocks of them."""
    return (
        _with_doc_block(index.postings, index.id_col, n_blocks)
        .crossJoin(F.broadcast(index.stats))
        .select(
            F.col("term"), F.col("doc_block"), _impact_expr(k1, b).alias("imp")
        )
        .groupBy("term", "doc_block")
        .agg(F.max("imp").alias("block_max"))
    )


def _alive_blocks(
    blockmax: DataFrame, terms: list[str], theta: float
) -> list[int] | None:
    """Doc-blocks that could still hold a top-k document: block B
    survives iff sum over query terms of block_max(t, B) >= theta (a
    doc's full score is bounded by its block's per-term maxima, so a
    failing block provably holds no doc scoring >= theta).  Driver-side
    cost is <= N_DOC_BLOCKS aggregated rows.  Returns None when every
    block survives (callers then skip the redundant filter)."""
    rows = (
        blockmax.filter(F.col("term").isin(terms))
        .groupBy("doc_block")
        .agg(F.sum("block_max").alias("ub"))
        .collect()
    )
    alive = sorted(int(r["doc_block"]) for r in rows if float(r["ub"]) >= theta)
    return None if len(alive) == len(rows) else alive


def score_query(
    index: BM25Index, query: str, k1: float = K1, b: float = B
) -> DataFrame:
    """-> (id_col, bm25) for documents matching >= 1 query term.

    The ``isin`` literal filter is pushed to the postings scan; the
    single groupBy(doc) is the only shuffle.
    """
    terms = tokenize_query(query)
    if not terms:
        # empty query -> no keyword evidence; all-zero frame
        return index.doclen.select(index.id_col, F.lit(0.0).alias("bm25")).limit(0)
    matched = index.postings.filter(F.col("term").isin(terms))
    # dl rides on the postings rows for indexes built by build_index;
    # fall back to the doclen join for externally-supplied postings
    if "dl" not in matched.columns:
        matched = matched.join(index.doclen, index.id_col)
    scored = matched.crossJoin(F.broadcast(index.stats))
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    per_term = idf_expr(F.col("df").cast("double"), F.col("n")) * (
        tf * (k1 + 1.0)
    ) / (tf + k1 * (1.0 - b + b * dl / F.col("avgdl")))
    return (
        scored.withColumn("s", per_term)
        .groupBy(index.id_col)
        .agg(F.sum("s").alias("bm25"))
    )


def term_bucket(col: Column, n_buckets: int = N_TERM_BUCKETS) -> Column:
    """Engine-portable term -> bucket map (md5-based ``hash64`` mod n,
    NOT Spark's murmur ``hash()``: the same bucket must be computable
    driver-side in ``term_bucket_py`` to build the pruning predicate)."""
    return F.pmod(hash64(col), F.lit(n_buckets)).cast("int")


def term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    return hash64_py(term) % n_buckets


def write_index(
    index: BM25Index, path: str, n_buckets: int = N_TERM_BUCKETS
) -> None:
    """Persist the index — the 'build once per corpus version' half of
    the scale design in the module doc.

    Layout: ``postings/`` parquet partitioned by ``term_bucket`` (query
    terms hash to buckets driver-side, so a q-term query reads <= q of
    ``n_buckets`` directories — directory-level partition pruning, not
    just row-group skipping); ``doclen/`` and the 1-row ``stats/``
    alongside.  df/N/avgdl are frozen at write time, exactly the
    semantics of a Lucene-style segment snapshot."""
    # doc_block rides on the stored postings rows, sorted within each
    # term bucket, so a block-max ``doc_block IN (...)`` predicate
    # skips whole parquet row groups inside a hot term's list — the
    # on-disk analogue of BMW's block skipping
    (
        _with_doc_block(index.postings, index.id_col)
        .withColumn("term_bucket", term_bucket(F.col("term"), n_buckets))
        .repartition("term_bucket")
        .sortWithinPartitions("term", "doc_block")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(f"{path}/postings")
    )
    index.doclen.write.mode("overwrite").parquet(f"{path}/doclen")
    index.stats.write.mode("overwrite").parquet(f"{path}/stats")
    # per-term max-impact sidecar (|vocab| rows, bucket-partitioned
    # like the postings) — MaxScore bounds come from here at query
    # time, never from a postings scan
    tm = index.termmax if index.termmax is not None else term_max_impacts(index)
    tm.withColumn(
        "term_bucket", term_bucket(F.col("term"), n_buckets)
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{path}/termmax"
    )
    # per-(term, doc-block) bound sidecar — Block-Max refinement
    bm = (
        index.blockmax
        if index.blockmax is not None
        else term_block_max_impacts(index)
    )
    bm.withColumn(
        "term_bucket", term_bucket(F.col("term"), n_buckets)
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{path}/blockmax"
    )


def read_index(spark: SparkSession, path: str, id_col: str = "doc_id") -> BM25Index:
    """Open a persisted index; partition pruning on ``term_bucket``
    happens in ``score_query_prebuilt``'s filter.  Indexes persisted
    before the termmax sidecar existed open with ``termmax=None``
    (MaxScore then recomputes bounds lazily)."""
    import os as _os

    termmax = None
    if _os.path.isdir(f"{path}/termmax"):
        termmax = spark.read.parquet(f"{path}/termmax")
    blockmax = None
    if _os.path.isdir(f"{path}/blockmax"):
        blockmax = spark.read.parquet(f"{path}/blockmax")
    return BM25Index(
        postings=spark.read.parquet(f"{path}/postings"),
        doclen=spark.read.parquet(f"{path}/doclen"),
        stats=spark.read.parquet(f"{path}/stats"),
        id_col=id_col,
        termmax=termmax,
        blockmax=blockmax,
    )


def score_query_prebuilt(
    index: BM25Index,
    query: str,
    k1: float = K1,
    b: float = B,
    n_buckets: int = N_TERM_BUCKETS,
) -> DataFrame:
    """``score_query`` against a persisted index: the driver hashes the
    query terms to their buckets and the scan carries BOTH predicates —
    ``term_bucket IN (...)`` (directory pruning) and ``term IN (...)``
    (pushed row filter inside the surviving buckets)."""
    terms = tokenize_query(query)
    if not terms:
        return index.doclen.select(index.id_col, F.lit(0.0).alias("bm25")).limit(0)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    pruned = index.postings.filter(F.col("term_bucket").isin(buckets))
    return score_query(
        BM25Index(pruned, index.doclen, index.stats, index.id_col), query, k1, b
    )


# -- MaxScore / WAND top-k pruning -------------------------------------------
#
# score_query aggregates EVERY matched posting; for a query mixing one
# rare term with a stopword-class term (df ~ N) that is O(N) scoring
# work for a top-k answer the rare list almost determines.  MaxScore
# (Turtle & Flood; the max-impact half of WAND) makes the hot-term work
# proportional to the CANDIDATES instead:
#
#   1. per-term upper bound UB(t) = max per-doc contribution (from the
#      build-time termmax sidecar — no postings scan at query time);
#   2. a LOWER bound theta on the k-th best final score: the k-th best
#      exact partial impact on the highest-UB term's own postings (a
#      partial score is <= the doc's full score, so theta <= true kth);
#   3. term split: the largest low-UB prefix with sum(UB) < theta is
#      NON-ESSENTIAL — a doc containing only those terms provably
#      scores < theta and can never enter the top-k;
#   4. candidates = docs on the ESSENTIAL lists; hot non-essential
#      postings are semi-join-filtered to candidates BEFORE the
#      scoring aggregate.
#
# LOSSLESS for top-k: every returned score is exact and every doc with
# score >= theta survives — pinned against the unpruned scorer in
# tests/test_bm25_segments.py.  At 100 TB the win is the shape change:
# the groupBy(doc) shuffle carries O(sum df(essential) * q) rows, not
# O(df(stopword)).


def maxscore_split(
    ubs: dict[str, float], theta: float
) -> tuple[list[str], list[str]]:
    """(essential, non_essential): the largest ascending-UB prefix
    whose UB sum stays strictly under ``theta`` is non-essential."""
    order = sorted(ubs, key=lambda t: (ubs[t], t))
    non_essential: list[str] = []
    acc = 0.0
    for t in order:
        if acc + ubs[t] < theta:
            non_essential.append(t)
            acc += ubs[t]
        else:
            break
    ness = set(non_essential)
    return [t for t in ubs if t not in ness], non_essential


def score_query_maxscore(
    index: BM25Index,
    query: str,
    topk: int,
    k1: float = K1,
    b: float = B,
    prune_stats: dict | None = None,
) -> DataFrame:
    """Top-k-lossless pruned scoring: -> (id_col, bm25) containing at
    least every document of the true top-``topk`` with EXACT scores
    (possibly plus lower-scored candidates — harmless to the caller's
    TakeOrdered).  Driver-side work is bounded by the query length
    (<= q termmax rows + topk impact values), the same literal
    contract as the probe-label ANN paths.

    ``prune_stats`` (tests/diagnostics): filled with theta, the term
    split, and matched-vs-scored posting counts (costs extra count
    jobs — leave None in production)."""
    terms = list(dict.fromkeys(tokenize_query(query)))
    if not terms:
        return index.doclen.select(index.id_col, F.lit(0.0).alias("bm25")).limit(0)

    def _bucket_pruned(postings: DataFrame, term_list: list[str]) -> DataFrame:
        """Query-term filter with term-bucket DIRECTORY pruning on
        persisted layouts (the score_query_prebuilt contract, r15 —
        previously only the final scoring scans of the prebuilt path
        pruned; the bounds/theta/essential scans here read every
        bucket)."""
        if "term_bucket" in postings.columns:
            bs = sorted({term_bucket_py(t) for t in term_list})
            postings = postings.filter(F.col("term_bucket").isin(bs))
        return postings.filter(F.col("term").isin(term_list))

    # ONE bounded driver round trip for the bounds AND theta (r15,
    # guide §5 "the driver should do almost no data work"): the
    # per-term top-``topk`` exact impacts of the query terms' postings
    # — rank <= topk per term (WindowGroupLimit keeps it a partial
    # top-k, never a full per-term sort), <= q x topk rows collected.
    # Each term's rank-1 impact IS its max_impact (the same float the
    # termmax sidecar stores: a max over identical _impact_expr
    # values), and the topk-th impact of the highest-bound term is
    # theta — so ubs, theta and the split are bit-identical to the
    # former two-collect derivation (termmax filter + star-postings
    # sort) while touching the postings pipeline ONCE.
    from pyspark.sql.window import Window

    from qurio_spark.operators.cachectl import attach_caches

    # The query-term postings SLICE is persisted once (r15): bounded by
    # the query's summed document frequencies — the per-query working
    # set, NOT the corpus — and consumed three times below (bounds
    # collect, essential branch, matched branch).  Without the cache
    # each consumer re-ran the whole tokenize/tf/df/doclen pipeline of
    # an in-memory index (3 full corpus passes per query); persisting
    # the FULL exploded postings instead was measured slower (2.76 vs
    # 2.06 s at sf0.1) because the corpus-sized cache build cost more
    # than the recompute it saved.  The bounds collect doubles as the
    # cache materialization; the handle rides the returned frame for
    # cachectl.release_caches.
    flt = _bucket_pruned(index.postings, terms).persist()

    w = Window.partitionBy("term").orderBy(F.desc("imp"))
    top_rows = (
        flt.crossJoin(F.broadcast(index.stats))
        .select("term", _impact_expr(k1, b).alias("imp"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= topk)
        .collect()
    )
    if not top_rows:  # no query term occurs in the corpus
        flt.unpersist()
        return index.doclen.select(index.id_col, F.lit(0.0).alias("bm25")).limit(0)
    ubs: dict[str, float] = {}
    term_imps: dict[str, list[float]] = {}
    for r in top_rows:
        t, imp = r["term"], float(r["imp"])
        term_imps.setdefault(t, []).append(imp)
        if t not in ubs or imp > ubs[t]:
            ubs[t] = imp
    # theta from the highest-UB (typically rarest) term's own postings
    t_star = max(ubs, key=lambda t: (ubs[t], t))
    star_imps = sorted(term_imps[t_star], reverse=True)
    theta = star_imps[topk - 1] if len(star_imps) >= topk else float("-inf")
    essential, non_essential = maxscore_split(ubs, theta)
    if prune_stats is not None:
        prune_stats.update(
            theta=theta, essential=essential, non_essential=non_essential
        )
    if not non_essential:
        if prune_stats is not None:
            prune_stats["postings_matched"] = flt.count()
            prune_stats["postings_scored"] = prune_stats["postings_matched"]
            prune_stats["alive_blocks"] = None
        # full scoring straight off the cached slice — the same rows
        # and the same expression as score_query over this index, so
        # the result is identical while the corpus pipeline is not
        # re-run
        full = flt
        if "dl" not in full.columns:
            full = full.join(index.doclen, index.id_col)
        out = (
            full.crossJoin(F.broadcast(index.stats))
            .withColumn("s", _impact_expr(k1, b))
            .groupBy(index.id_col)
            .agg(F.sum("s").alias("bm25"))
        )
        attach_caches(out, [flt])
        return out
    # Block-Max refinement: discard whole doc-blocks whose summed
    # per-term block maxima cannot reach theta — this prunes INSIDE
    # the essential lists too (where the global split cannot), and on
    # persisted indexes the doc_block IN predicate skips row groups.
    # Engaged only when the blockmax SIDECAR exists (persisted /
    # explicitly attached): computing it on the fly would re-scan the
    # postings pipeline and cost more than the pruning saves.
    alive = (
        _alive_blocks(index.blockmax, terms, theta)
        if index.blockmax is not None
        else None
    )
    if prune_stats is not None:
        prune_stats["alive_blocks"] = alive
    ess = flt.filter(F.col("term").isin(essential))
    if alive is not None:
        ess = _with_doc_block(ess, index.id_col).filter(
            F.col("doc_block").isin(alive)
        )
    cand = ess.select(index.id_col).distinct()
    # candidates are SMALL by construction — they come from the
    # essential (high-impact, therefore rare) lists; when every list
    # is hot, theta never demotes a term and the full path above runs
    # with no join at all.  Broadcast makes the hot-postings filter a
    # map-side semi join instead of shuffling the hot list.
    matched = flt
    if alive is not None:
        matched = _with_doc_block(matched, index.id_col).filter(
            F.col("doc_block").isin(alive)
        )
    matched = matched.join(F.broadcast(cand), index.id_col, "left_semi")
    if "dl" not in matched.columns:
        matched = matched.join(index.doclen, index.id_col)
    scored = matched.crossJoin(F.broadcast(index.stats))
    if prune_stats is not None:
        prune_stats["postings_matched"] = flt.count()
        prune_stats["postings_scored"] = matched.count()
    out = (
        scored.withColumn("s", _impact_expr(k1, b))
        .groupBy(index.id_col)
        .agg(F.sum("s").alias("bm25"))
    )
    attach_caches(out, [flt])
    return out


# -- incremental / segmented index maintenance ------------------------------
#
# The monolithic index above freezes df/N/avgdl at write time, so
# appending documents means a full rebuild — wrong at 100 TB where a
# daily delta is ~0.1% of the corpus.  The segmented layout is the
# Lucene segment model on parquet: each ingest batch becomes an
# immutable SEGMENT (postings WITHOUT denormalized df + a small
# per-term df sidecar + 1-row additive stats).  Global stats are
# ADDITIVE: df(t) = sum over segments, N = sum n, avgdl = sum dl / N —
# so a merge is a union plus two tiny aggregations at query time,
# never a rewrite of old postings.  Compaction (fold segments into
# one) is an offline maintenance job, same as plans/maintenance.py.


@dataclass
class BM25SegmentedIndex:
    """postings: (id, term, tf, dl) — segment-local df is deliberately
    NOT carried (it is meaningless after a merge); termdf: (term, df,
    max_tf, min_dl) additive partials (df sums, max_tf maxes, min_dl
    mins — the MaxScore bound inputs stay mergeable because a
    segment-local IMPACT would be meaningless after a merge: idf and
    avgdl are global); stats: 1-row-per-segment (n, sumdl) additive
    partials; blockdf: (term, doc_block, max_tf, min_dl) — the SAME
    additive partials per doc-block, feeding Block-Max pruning (block
    ids hash on the doc id, so a doc keeps its block across segments
    and the per-block max/min partials merge exactly like termdf's).
    None on segments persisted before the sidecar existed (Block-Max
    then degrades to plain MaxScore)."""

    postings: DataFrame
    termdf: DataFrame
    stats: DataFrame
    id_col: str
    blockdf: DataFrame | None = None


def build_segment(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> BM25SegmentedIndex:
    """One ingest batch -> one immutable segment.  Cost is the batch's
    own two partial-agg shuffles; existing segments are not touched."""
    toks = docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    doclen = docs.select(
        F.col(id_col), F.size(tokenize(F.col(text_col))).alias("dl")
    )
    postings = tf.join(doclen, id_col)
    termdf = postings.groupBy("term").agg(
        F.count("*").alias("df"),
        F.max("tf").alias("max_tf"),
        F.min("dl").alias("min_dl"),
    )
    stats = doclen.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("dl").cast("double").alias("sumdl"),
    )
    blockdf = (
        _with_doc_block(postings, id_col)
        .groupBy("term", "doc_block")
        .agg(F.max("tf").alias("max_tf"), F.min("dl").alias("min_dl"))
    )
    return BM25SegmentedIndex(postings, termdf, stats, id_col, blockdf)


def merge_segments(segments: list[BM25SegmentedIndex]) -> BM25SegmentedIndex:
    """Union segments into one logical index — no shuffle, no rewrite;
    the additive stats are combined lazily at query time."""
    if not segments:
        raise ValueError("no segments")
    first = segments[0]
    postings = first.postings
    termdf = first.termdf
    stats = first.stats
    blockdf = first.blockdf
    for s in segments[1:]:
        postings = postings.unionByName(s.postings)
        termdf = termdf.unionByName(s.termdf)
        stats = stats.unionByName(s.stats)
        # one legacy segment without the sidecar poisons the merged
        # bound (a missing block row would UNDER-state the block UB) —
        # degrade the whole merge to plain MaxScore instead
        blockdf = (
            blockdf.unionByName(s.blockdf)
            if blockdf is not None and s.blockdf is not None
            else None
        )
    return BM25SegmentedIndex(postings, termdf, stats, first.id_col, blockdf)


def score_query_segmented(
    index: BM25SegmentedIndex, query: str, k1: float = K1, b: float = B
) -> DataFrame:
    """``score_query`` over a segmented index: query-term df partials
    are summed across segments (a per-term aggregate over <= q terms x
    n_segments rows, broadcast back), N/avgdl come from summing the
    1-row-per-segment stats.  Identical scores to a monolithic build
    over the union'd corpus (pinned in tests/test_bm25_segments.py)."""
    terms = tokenize_query(query)
    if not terms:
        return (
            index.postings.select(index.id_col)
            .distinct()
            .select(index.id_col, F.lit(0.0).alias("bm25"))
            .limit(0)
        )
    df_q = (
        index.termdf.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").cast("double").alias("df"))
    )
    stats = index.stats.agg(
        F.sum("n").alias("n"), (F.sum("sumdl") / F.sum("n")).alias("avgdl")
    )
    matched = (
        index.postings.filter(F.col("term").isin(terms))
        .join(F.broadcast(df_q), "term")
        .crossJoin(F.broadcast(stats))
    )
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    per_term = idf_expr(F.col("df"), F.col("n")) * (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * dl / F.col("avgdl"))
    )
    return (
        matched.withColumn("s", per_term)
        .groupBy(index.id_col)
        .agg(F.sum("s").alias("bm25"))
    )


def write_segment(
    seg: BM25SegmentedIndex,
    path: str,
    name: str,
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Persist one segment under ``{path}/{name}/`` with the same
    term-bucket directory layout as ``write_index`` (query pruning
    composes per segment); appending a batch writes ONLY its own
    segment directory."""
    base = f"{path}/{name}"
    seg.postings.withColumn(
        "term_bucket", term_bucket(F.col("term"), n_buckets)
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{base}/postings"
    )
    seg.termdf.withColumn(
        "term_bucket", term_bucket(F.col("term"), n_buckets)
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(
        f"{base}/termdf"
    )
    seg.stats.write.mode("overwrite").parquet(f"{base}/stats")
    if seg.blockdf is not None:
        seg.blockdf.withColumn(
            "term_bucket", term_bucket(F.col("term"), n_buckets)
        ).write.mode("overwrite").partitionBy("term_bucket").parquet(
            f"{base}/blockdf"
        )


def read_segments(
    spark: SparkSession, path: str, names: list[str], id_col: str = "doc_id"
) -> BM25SegmentedIndex:
    """Open persisted segments as one logical index."""
    import os as _os

    segs = [
        BM25SegmentedIndex(
            postings=spark.read.parquet(f"{path}/{n}/postings"),
            termdf=spark.read.parquet(f"{path}/{n}/termdf"),
            stats=spark.read.parquet(f"{path}/{n}/stats"),
            id_col=id_col,
            blockdf=(
                spark.read.parquet(f"{path}/{n}/blockdf")
                if _os.path.isdir(f"{path}/{n}/blockdf")
                else None
            ),
        )
        for n in names
    ]
    return merge_segments(segs)


def score_query_segmented_pruned(
    index: BM25SegmentedIndex,
    query: str,
    k1: float = K1,
    b: float = B,
    n_buckets: int = N_TERM_BUCKETS,
) -> DataFrame:
    """Segmented scoring with driver-side bucket pruning (persisted
    segments carry ``term_bucket`` partitions): both the postings AND
    the termdf sidecar scans prune to <= q of ``n_buckets``
    directories per segment."""
    terms = tokenize_query(query)
    if not terms:
        return score_query_segmented(index, query, k1, b)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    pruned = BM25SegmentedIndex(
        postings=index.postings.filter(F.col("term_bucket").isin(buckets)),
        termdf=index.termdf.filter(F.col("term_bucket").isin(buckets)),
        stats=index.stats,
        id_col=index.id_col,
    )
    return score_query_segmented(pruned, query, k1, b)


def score_query_segmented_maxscore(
    index: BM25SegmentedIndex,
    query: str,
    topk: int,
    k1: float = K1,
    b: float = B,
    prune_stats: dict | None = None,
) -> DataFrame:
    """MaxScore pruning over the SEGMENT model — same lossless top-k
    contract as :func:`score_query_maxscore`.  Per-term upper bounds
    derive from the ADDITIVE sidecar partials: UB(t) = idf(global df,
    global N) * tfnorm(max over segments max_tf, min over segments
    min_dl, global avgdl) — tfnorm is increasing in tf and decreasing
    in dl, so the cross-segment (max_tf, min_dl) pair dominates every
    real posting.  Bounds therefore stay correct across any merge
    without touching old segments."""
    import math

    terms = list(dict.fromkeys(tokenize_query(query)))
    if not terms:
        return score_query_segmented(index, query, k1, b)
    meta = (
        index.termdf.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(
            F.sum("df").cast("double").alias("df"),
            F.max("max_tf").cast("double").alias("max_tf"),
            F.min("min_dl").cast("double").alias("min_dl"),
        )
        .collect()
    )
    if not meta:
        return score_query_segmented(index, query, k1, b)
    srow = index.stats.agg(
        F.sum("n").alias("n"), (F.sum("sumdl") / F.sum("n")).alias("avgdl")
    ).collect()[0]
    n, avgdl = float(srow["n"]), float(srow["avgdl"])

    def _idf(df: float) -> float:
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _tfnorm(tf: float, dl: float) -> float:
        return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    dfs = {r["term"]: float(r["df"]) for r in meta}
    ubs = {
        r["term"]: _idf(float(r["df"]))
        * _tfnorm(float(r["max_tf"]), float(r["min_dl"]))
        for r in meta
    }
    t_star = max(ubs, key=lambda t: (ubs[t], t))
    imp_star = (
        F.lit(_idf(dfs[t_star]))
        * F.col("tf").cast("double") * (k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
        )
    )
    star_imps = (
        index.postings.filter(F.col("term") == t_star)
        .select(imp_star.alias("imp"))
        .orderBy(F.desc("imp"))
        .limit(topk)
        .collect()
    )
    theta = float(star_imps[-1]["imp"]) if len(star_imps) >= topk else float("-inf")
    essential, non_essential = maxscore_split(ubs, theta)
    if prune_stats is not None:
        prune_stats.update(
            theta=theta, essential=essential, non_essential=non_essential
        )
    if not non_essential:
        if prune_stats is not None:
            m = index.postings.filter(F.col("term").isin(terms))
            prune_stats["postings_matched"] = m.count()
            prune_stats["postings_scored"] = prune_stats["postings_matched"]
            prune_stats["alive_blocks"] = None
        return score_query_segmented(index, query, k1, b)
    # Block-Max refinement from the additive per-block partials: the
    # cross-segment (max max_tf, min min_dl) pair dominates every real
    # posting in the block, so UB(t, B) bounds any block member's
    # contribution and a block whose summed UBs miss theta holds no
    # top-k doc.  <= q x N_DOC_BLOCKS rows reach the driver.
    alive = None
    if index.blockdf is not None:
        brows = (
            index.blockdf.filter(F.col("term").isin(terms))
            .groupBy("term", "doc_block")
            .agg(
                F.max("max_tf").cast("double").alias("max_tf"),
                F.min("min_dl").cast("double").alias("min_dl"),
            )
            .collect()
        )
        block_ub: dict[int, float] = {}
        for r in brows:
            ub = _idf(dfs[r["term"]]) * _tfnorm(r["max_tf"], r["min_dl"])
            block_ub[int(r["doc_block"])] = (
                block_ub.get(int(r["doc_block"]), 0.0) + ub
            )
        kept = sorted(bk for bk, u in block_ub.items() if u >= theta)
        alive = None if len(kept) == len(block_ub) else kept
    if prune_stats is not None:
        prune_stats["alive_blocks"] = alive
    ess = index.postings.filter(F.col("term").isin(essential))
    if alive is not None:
        ess = _with_doc_block(ess, index.id_col).filter(
            F.col("doc_block").isin(alive)
        )
    cand = ess.select(index.id_col).distinct()
    hot = index.postings.filter(F.col("term").isin(terms))
    if alive is not None:
        hot = _with_doc_block(hot, index.id_col).filter(
            F.col("doc_block").isin(alive)
        )
    pruned = BM25SegmentedIndex(
        postings=hot.join(
            F.broadcast(cand), index.id_col, "left_semi"
        ).drop("doc_block"),
        termdf=index.termdf,
        stats=index.stats,
        id_col=index.id_col,
    )
    if prune_stats is not None:
        prune_stats["postings_matched"] = index.postings.filter(
            F.col("term").isin(terms)
        ).count()
        prune_stats["postings_scored"] = pruned.postings.count()
    return score_query_segmented(pruned, query, k1, b)


def compact_segments(
    spark: SparkSession,
    path: str,
    names: list[str],
    out_name: str,
    id_col: str = "doc_id",
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Offline maintenance: fold segments into one (re-aggregating the
    termdf partials; postings rows are immutable so the fold is a
    union + one termdf groupBy, NOT a corpus re-tokenization)."""
    merged = read_segments(spark, path, names, id_col)
    folded = BM25SegmentedIndex(
        postings=merged.postings.drop("term_bucket"),
        termdf=merged.termdf.drop("term_bucket")
        .groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
        ),
        stats=merged.stats.agg(
            F.sum("n").alias("n"), F.sum("sumdl").alias("sumdl")
        ),
        id_col=id_col,
        blockdf=(
            # a legacy input segment without the sidecar degrades live
            # queries to plain MaxScore (merge_segments), but compaction
            # is exactly the maintenance pass that should HEAL it: the
            # fold already reads every posting, so rebuild the bounds
            # the same way build_segment derives them
            _with_doc_block(merged.postings.drop("term_bucket"), id_col)
            .groupBy("term", "doc_block")
            .agg(F.max("tf").alias("max_tf"), F.min("dl").alias("min_dl"))
            if merged.blockdf is None
            else merged.blockdf.drop("term_bucket")
            .groupBy("term", "doc_block")
            .agg(F.max("max_tf").alias("max_tf"), F.min("min_dl").alias("min_dl"))
        ),
    )
    write_segment(folded, path, out_name, n_buckets)


def score_query_inline(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """One-shot scoring without a prebuilt index (used by the oracle
    harness and small corpora): builds stats in the same DAG.  Returns
    every document with its (possibly 0.0) bm25 score — the dense shape
    hybrid fusion wants.
    """
    idx = build_index(docs, id_col, text_col)
    scores = score_query(idx, query, k1, b)
    return (
        docs.select(id_col)
        .join(scores, id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("bm25"), F.lit(0.0)).alias("bm25"))
    )
