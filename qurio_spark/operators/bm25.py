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

Every scorer — exhaustive, MaxScore/Block-Max, the per-row term-map
``score_expr`` and the batch hybrid's keyword side — builds its
per-posting expression with the one kernel :func:`impact`, and
filters postings and sidecars to the query terms with
:func:`prune_postings`, which also prunes term-bucket directories
whenever the frame is a persisted layout.  Segmented indexes are
scored by the same two scorers through :func:`segment_index`.
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
#: computable driver-side.
N_DOC_BLOCKS = 64


@dataclass
class BM25Index:
    """postings: (doc id cols..., term, tf, df); doclen: (doc id, dl);
    stats: ONE-ROW frame (n, avgdl) kept lazy so building the index
    schedules no job — the scalars enter query plans via a broadcast
    cross join (scalar-subquery shape), not driver literals.

    ``blockmax``: (term, doc_block, block_max) — each term's maximum
    per-document BM25 contribution within each doc-block under the
    index's frozen stats, the Block-Max refinement that prunes INSIDE a
    long postings list (:func:`score_query_maxscore`); <= |vocab| x
    ``N_DOC_BLOCKS`` rows, a sidecar written by :func:`write_index`."""

    postings: DataFrame
    doclen: DataFrame
    stats: DataFrame
    id_col: str
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
    # blockmax deliberately stays None here: on an in-memory index a
    # lazy blockmax would re-run the whole tokenize/join pipeline for
    # one extra aggregation per query — costing more than the block
    # pruning saves (measured ~2x on bm25_maxscore at sf0.1).  The
    # sidecar is materialized once at write_index time; persisted
    # indexes get Block-Max, throwaway in-memory ones get MaxScore.
    return BM25Index(postings, doclen, stats, id_col)


def impact(
    tf: Column | float,
    dl: Column | float,
    df: Column | float,
    n: Column | float,
    avgdl: Column | float,
    k1: float = K1,
    b: float = B,
) -> Column:
    """The BM25 kernel: one posting's contribution ``idf(df, n) *
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with the Lucene idf of
    the module doc.  Every argument is a Column or a driver-side float
    (a literal); every scorer builds its per-posting expression here."""

    def dbl(x: Column | float) -> Column:
        return x.cast("double") if isinstance(x, Column) else F.lit(float(x))

    tf, dl, df = dbl(tf), dbl(dl), dbl(df)
    n = n if isinstance(n, Column) else F.lit(float(n))
    idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _impact_expr(k1: float = K1, b: float = B) -> Column:
    """:func:`impact` over the columns (tf, dl, df, n, avgdl)."""
    return impact(*(F.col(c) for c in ("tf", "dl", "df", "n", "avgdl")), k1, b)


def sum_impacts(
    matched: DataFrame, index: BM25Index, keys: list[str], k1: float = K1, b: float = B
) -> DataFrame:
    """-> (keys..., bm25): the summed impacts of ``matched`` postings
    rows per key group, with N/avgdl from the index's one-row stats
    (broadcast cross join).  dl rides on the postings rows of indexes
    built by build_index; other postings fall back to the doclen join."""
    if "dl" not in matched.columns:
        matched = matched.join(index.doclen, index.id_col)
    return (
        matched.crossJoin(F.broadcast(index.stats))
        .withColumn("s", _impact_expr(k1, b))
        .groupBy(*keys)
        .agg(F.sum("s").alias("bm25"))
    )


def doc_block(col: Column, n_blocks: int = N_DOC_BLOCKS) -> Column:
    """Engine-portable doc -> block map (md5 ``hash64`` mod n, mirrored
    driver-side by :func:`doc_block_py`, which tests use to place docs
    in chosen blocks)."""
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


def _in_blocks(
    postings: DataFrame, id_col: str, alive: list[int] | None
) -> DataFrame:
    """Postings restricted to the ``alive`` doc-blocks (all of them
    when ``alive`` is None)."""
    if alive is None:
        return postings
    return _with_doc_block(postings, id_col).filter(F.col("doc_block").isin(alive))


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
    total = F.lit(0.0)
    for term, df in term_df.items():
        tf = F.try_element_at(F.col("tf"), F.lit(term))
        per_term = impact(tf, F.col("dl"), df, n_docs, avgdl, k1, b)
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
        prune_postings(blockmax, terms)
        .groupBy("doc_block")
        .agg(F.sum("block_max").alias("ub"))
        .collect()
    )
    alive = sorted(int(r["doc_block"]) for r in rows if float(r["ub"]) >= theta)
    return None if len(alive) == len(rows) else alive


def _no_matches(index: BM25Index) -> DataFrame:
    """The empty (id_col, bm25) result of a query with no keyword
    evidence in the index."""
    return index.doclen.select(index.id_col, F.lit(0.0).alias("bm25")).limit(0)


def score_query(
    index: BM25Index, query: str, k1: float = K1, b: float = B
) -> DataFrame:
    """-> (id_col, bm25) for documents matching >= 1 query term.

    The query-term filter (:func:`prune_postings`) is pushed to the
    postings scan — on a persisted index it also prunes term-bucket
    directories; the single groupBy(doc) is the only shuffle.
    """
    terms = tokenize_query(query)
    if not terms:
        # empty query -> no keyword evidence; all-zero frame
        return _no_matches(index)
    matched = prune_postings(index.postings, terms)
    return sum_impacts(matched, index, [index.id_col], k1, b)


def term_bucket(col: Column, n_buckets: int = N_TERM_BUCKETS) -> Column:
    """Engine-portable term -> bucket map (md5-based ``hash64`` mod n,
    NOT Spark's murmur ``hash()``: the same bucket must be computable
    driver-side in ``term_bucket_py`` to build the pruning predicate)."""
    return F.pmod(hash64(col), F.lit(n_buckets)).cast("int")


def term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    return hash64_py(term) % n_buckets


def prune_postings(frame: DataFrame, terms: list[str]) -> DataFrame:
    """The query-term filter of every postings/sidecar scan: ``term IN
    (...)``, preceded on persisted layouts (frames carrying the
    ``term_bucket`` partition column) by ``term_bucket IN (...)`` over
    the terms' driver-side buckets — directory pruning to <= |terms|
    of ``N_TERM_BUCKETS``, then a pushed row filter inside them."""
    terms = list(terms)
    if "term_bucket" in frame.columns:
        buckets = sorted({term_bucket_py(t) for t in terms})
        frame = frame.filter(F.col("term_bucket").isin(buckets))
    return frame.filter(F.col("term").isin(terms))


def _write_by_term_bucket(frame: DataFrame, path: str) -> None:
    """Persist ``frame`` partitioned by its terms' ``term_bucket`` —
    the directory layout :func:`prune_postings` prunes."""
    frame.withColumn("term_bucket", term_bucket(F.col("term"))).write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(path)


def write_index(index: BM25Index, path: str) -> None:
    """Persist the index — the 'build once per corpus version' half of
    the scale design in the module doc.

    Layout: ``postings/`` parquet partitioned by ``term_bucket`` (query
    terms hash to buckets driver-side, so a q-term query reads <= q of
    ``N_TERM_BUCKETS`` directories — directory-level partition pruning,
    not just row-group skipping); ``doclen/`` and the 1-row ``stats/``
    alongside.  df/N/avgdl are frozen at write time, exactly the
    semantics of a Lucene-style segment snapshot."""
    # doc_block rides on the stored postings rows, sorted within each
    # term bucket, so a block-max ``doc_block IN (...)`` predicate
    # skips whole parquet row groups inside a hot term's list — the
    # on-disk analogue of BMW's block skipping
    (
        _with_doc_block(index.postings, index.id_col)
        .withColumn("term_bucket", term_bucket(F.col("term")))
        .repartition("term_bucket")
        .sortWithinPartitions("term", "doc_block")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(f"{path}/postings")
    )
    index.doclen.write.mode("overwrite").parquet(f"{path}/doclen")
    index.stats.write.mode("overwrite").parquet(f"{path}/stats")
    # per-(term, doc-block) bound sidecar — Block-Max refinement
    bm = (
        index.blockmax
        if index.blockmax is not None
        else term_block_max_impacts(index)
    )
    _write_by_term_bucket(bm, f"{path}/blockmax")


def read_index(spark: SparkSession, path: str, id_col: str = "doc_id") -> BM25Index:
    """Open a persisted index; partition pruning on ``term_bucket``
    happens in the scorers' query-term filter (:func:`prune_postings`)."""
    return BM25Index(
        postings=spark.read.parquet(f"{path}/postings"),
        doclen=spark.read.parquet(f"{path}/doclen"),
        stats=spark.read.parquet(f"{path}/stats"),
        id_col=id_col,
        blockmax=spark.read.parquet(f"{path}/blockmax"),
    )


# -- MaxScore / WAND top-k pruning -------------------------------------------
#
# score_query aggregates EVERY matched posting; for a query mixing one
# rare term with a stopword-class term (df ~ N) that is O(N) scoring
# work for a top-k answer the rare list almost determines.  MaxScore
# (Turtle & Flood; the max-impact half of WAND) makes the hot-term work
# proportional to the CANDIDATES instead:
#
#   1. per-term upper bound UB(t) = max per-doc contribution (the
#      rank-1 impact of the term's own postings);
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
    (<= q x topk impact values), the same literal
    contract as the probe-label ANN paths.

    ``prune_stats`` (tests/diagnostics): filled with theta, the term
    split, and matched-vs-scored posting counts (costs extra count
    jobs — leave None in production)."""
    terms = list(dict.fromkeys(tokenize_query(query)))
    if not terms:
        return _no_matches(index)

    # ONE bounded driver round trip for the bounds AND theta (r15,
    # guide §5 "the driver should do almost no data work"): the
    # per-term top-``topk`` exact impacts of the query terms' postings
    # — rank <= topk per term (WindowGroupLimit keeps it a partial
    # top-k, never a full per-term sort), <= q x topk rows collected.
    # Each term's rank-1 impact IS its max_impact, and the topk-th
    # impact of the highest-bound term is theta — so the postings
    # pipeline is touched ONCE for ubs, theta and the split.
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
    flt = prune_postings(index.postings, terms).persist()

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
        return _no_matches(index)
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
    # Block-Max refinement: discard whole doc-blocks whose summed
    # per-term block maxima cannot reach theta — this prunes INSIDE
    # the essential lists too (where the global split cannot), and on
    # persisted indexes the doc_block IN predicate skips row groups.
    # Engaged only when the blockmax SIDECAR exists (persisted /
    # explicitly attached): computing it on the fly would re-scan the
    # postings pipeline and cost more than the pruning saves.
    alive = (
        _alive_blocks(index.blockmax, terms, theta)
        if non_essential and index.blockmax is not None
        else None
    )
    # with no non-essential term, full scoring runs straight off the
    # cached slice — the same rows and the same expression as
    # score_query over this index, so the result is identical while
    # the corpus pipeline is not re-run
    matched = flt
    if non_essential:
        ess = _in_blocks(flt.filter(F.col("term").isin(essential)), index.id_col, alive)
        matched = _in_blocks(matched, index.id_col, alive)
        # candidates are SMALL by construction — they come from the
        # essential (high-impact, therefore rare) lists; when every
        # list is hot, theta never demotes a term and the full path
        # runs with no join at all.  Broadcast makes the hot-postings
        # filter a map-side semi join instead of shuffling the hot list.
        cand = ess.select(index.id_col).distinct()
        matched = matched.join(F.broadcast(cand), index.id_col, "left_semi")
    if prune_stats is not None:
        prune_stats.update(
            theta=theta,
            essential=essential,
            non_essential=non_essential,
            alive_blocks=alive,
            postings_matched=flt.count(),
            postings_scored=matched.count(),
        )
    out = sum_impacts(matched, index, [index.id_col], k1, b)
    attach_caches(out, [flt])
    return out


# -- incremental / segmented index maintenance ------------------------------
#
# The monolithic index above freezes df/N/avgdl at write time, so
# appending documents means a full rebuild — wrong at 100 TB where a
# daily delta is ~0.1% of the corpus.  The segmented layout is the
# Lucene segment model: each ingest batch becomes an immutable
# SEGMENT (postings WITHOUT denormalized df + a small per-term df
# sidecar + 1-row additive stats).  Global stats are ADDITIVE:
# df(t) = sum over segments, N = sum n, avgdl = sum dl / N — so a
# merge is a union plus two tiny aggregations at query time, never a
# rewrite of old postings.


@dataclass
class BM25SegmentedIndex:
    """postings: (id, term, tf, dl) — segment-local df is deliberately
    NOT carried (it is meaningless after a merge); termdf: (term, df)
    additive partials; stats: 1-row-per-segment (n, sumdl) additive
    partials.  Scorers see it through :func:`segment_index`."""

    postings: DataFrame
    termdf: DataFrame
    stats: DataFrame
    id_col: str


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
    termdf = postings.groupBy("term").agg(F.count("*").alias("df"))
    stats = doclen.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("dl").cast("double").alias("sumdl"),
    )
    return BM25SegmentedIndex(postings, termdf, stats, id_col)


def merge_segments(segments: list[BM25SegmentedIndex]) -> BM25SegmentedIndex:
    """Union segments into one logical index — no shuffle, no rewrite;
    the additive stats are combined lazily at query time."""
    if not segments:
        raise ValueError("no segments")
    first = segments[0]
    postings = first.postings
    termdf = first.termdf
    stats = first.stats
    for s in segments[1:]:
        postings = postings.unionByName(s.postings)
        termdf = termdf.unionByName(s.termdf)
        stats = stats.unionByName(s.stats)
    return BM25SegmentedIndex(postings, termdf, stats, first.id_col)


def segment_index(index: BM25SegmentedIndex, query: str) -> BM25Index:
    """Open a segmented index as a :class:`BM25Index` for ``query``'s
    terms, so :func:`score_query` and :func:`score_query_maxscore`
    serve it unchanged: postings pruned to the terms and joined with
    their df summed across segments (<= q terms x n_segments rows,
    broadcast back), one stats row (N = sum n, avgdl = sum dl / N),
    and doclen.  Built per query so the postings and termdf frames are
    filtered to the query's terms (:func:`prune_postings`) before the
    df sum.  Scores equal a monolithic build over the union'd corpus
    (pinned in tests/test_bm25_segments.py)."""
    terms = tokenize_query(query)
    df_q = (
        prune_postings(index.termdf, terms)
        .groupBy("term")
        .agg(F.sum("df").cast("double").alias("df"))
    )
    return BM25Index(
        postings=prune_postings(index.postings, terms).join(F.broadcast(df_q), "term"),
        doclen=index.postings.select(index.id_col, "dl").distinct(),
        stats=index.stats.agg(
            F.sum("n").alias("n"), (F.sum("sumdl") / F.sum("n")).alias("avgdl")
        ),
        id_col=index.id_col,
    )


def score_query_segmented(
    index: BM25SegmentedIndex, query: str, k1: float = K1, b: float = B
) -> DataFrame:
    """:func:`score_query` over a segmented index."""
    return score_query(segment_index(index, query), query, k1, b)


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
