"""Dedup-ladder queries: exact, MinHash(+LSH), n-gram Jaccard,
SimHash, embedding near-dup."""

from __future__ import annotations

from pyspark.sql import functions as F

from qurio_spark.functions.numeric import stable_round
from qurio_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from qurio_spark.operators.similarity import embedding_near_dup_pairs

from . import indexes
from .common import _events, _t


def _prepared_signatures(spark, sf_dir, table):
    """The prepared dedup ``table`` (simhash, minhash or shingles), or
    None when this process prepared no dedup index."""
    h = indexes.prepared(spark, sf_dir, "dedup")
    return None if h is None else h[table]


def q_exact_dedup(spark, sf_dir):
    """Exact dedup over a corpus with synthetic duplicates (the corpus
    unioned with re-keyed copies of itself; originals must win)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    return exact_dedup(d.unionAll(dup)).select("doc_id")


def q_minhash(spark, sf_dir):
    """MinHash signatures (4 portable universal-hash permutations).
    Reads the persisted signature table when bench prepared one (the
    deterministic twin of the in-DAG build, same as minhash_lsh)."""
    sig = _prepared_signatures(spark, sf_dir, "minhash")
    if sig is None:
        sig = minhash_signatures(_t(spark, sf_dir, "documents"), num_perm=4)
    return sig.select(
        "doc_id",
        *[F.col("signature")[i].alias(f"mh{i}") for i in range(4)],
    )


def q_ngram_jaccard(spark, sf_dir):
    """3-gram Jaccard near-dup pairs via shingle inverted-index join.
    Reads the persisted shingle index when bench prepared one."""
    sh = _prepared_signatures(spark, sf_dir, "shingles")
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, n=3, shingles=sh
    )


def q_ngram_jaccard_capped(spark, sf_dir):
    """q_ngram_jaccard with the stop-shingle cap active (max_df=3):
    shingles shared by more than 3 docs are dropped before the
    inverted-index self-join, bounding per-key join fan-out — the
    adversarial-boilerplate guard at 100 TB
    (operators/dedup.ngram_jaccard_pairs)."""
    sh = _prepared_signatures(spark, sf_dir, "shingles")
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, n=3, shingles=sh, max_df=3
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs: 2 bands x 2 rows over the 4-perm
    signature; candidates collide on a band slice, est_jaccard =
    matching-slot fraction (operators/dedup.minhash_lsh_pairs).  Reads
    the persisted signature table when bench prepared one."""
    from qurio_spark.operators.dedup import minhash_lsh_pairs

    sig = _prepared_signatures(spark, sf_dir, "minhash")
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_perm=4,
        bands=2,
        threshold=0.5,
        signatures=sig,
    )


def q_simhash(spark, sf_dir):
    """SimHash fingerprints; persisted-index read when available (the
    signature table IS this query's output, built by the same op)."""
    sig = _prepared_signatures(spark, sf_dir, "simhash")
    if sig is not None:
        return sig.select("doc_id", "simhash")
    return simhash64(_t(spark, sf_dir, "documents"))


def q_simhash_near(spark, sf_dir):
    """SimHash near-dup pairs: 15-bit-quarter banding for candidates,
    exact Hamming verify (bit_count of xor).  Reads the persisted
    signature table when bench prepared one (deterministic, so
    identical to the in-DAG build the oracle mirrors)."""
    from qurio_spark.operators.dedup import simhash_near_pairs

    sig = _prepared_signatures(spark, sf_dir, "simhash")
    return simhash_near_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=30, signatures=sig
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by cluster label."""
    pairs = embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.3)
    return pairs.select("id_a", "id_b", stable_round("sim", 4).alias("sim"))



def q_pagerank_centrality(spark, sf_dir):
    """Iterative graph analytics (operators/graph.pagerank): PageRank
    over the embedding near-dup graph — centrality picks the CANONICAL
    member of a duplicate neighborhood (the version the other copies
    drifted from), a better keep-rule than min-id when clusters are
    star-shaped.  Fixed 3 power-method iterations, damping 0.85, so
    the DuckDB oracle unrolls the exact same math as chained CTEs.

    Scale shape: the similarity self-join runs ONCE (checkpointed
    edge table); each iteration is one narrow rank-attach join + one
    groupBy(dst) partial-agg — |V|-sized frames throughout."""
    from qurio_spark.operators.graph import pagerank

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    verts = emb.select(F.col("vec_id").alias("id"))
    pr = pagerank(edges, verts, iters=3, damping=0.85, n_vertices=emb.count())
    # boundary-tolerant round: PageRank values are rationals over
    # N * 20^iters * degs whose decimal expansions land EXACTLY on
    # x.5 rounding boundaries (e.g. 0.001258375 at 1e8), where the
    # engines' different summation orders flip plain stable_round's
    # floor in opposite directions.  The 1e-6 bias (far above the
    # ~1e-11 scaled float noise, far below the value spacing) pushes
    # every boundary case up on BOTH engines; the SQL twin mirrors it.
    rounded = F.floor(F.col("pr") * F.lit(1e8) + F.lit(0.5 + 1e-6)) / F.lit(1e8)
    return pr.select(F.col("id").alias("vec_id"), rounded.alias("pr"))


def q_canonical_docs(spark, sf_dir):
    """The dedup keep-decision the graph module exists for: connected
    components label the duplicate clusters, PageRank ranks the
    members, and `canonical_pick` keeps the argmax-centrality member
    per cluster (ties to the lowest id) — on star-shaped clusters this
    keeps the CENTER (the version every copy drifted from) where the
    min-id rule would keep whichever drifted copy got the small id.
    -> (cluster_id, canonical_id, pr, n_members), one row per cluster
    incl. singletons.

    Same near-dup graph (threshold 0.3) feeds both algorithms, built
    once; CC is star-contraction (O(log n) rounds), PR is 3 fixed
    power iterations, the pick is one |V|-row join + one
    cluster-partitioned window.  The DuckDB oracle composes the
    recursive-CTE closure with the unrolled PR CTEs and the same
    argmax window; ranking uses the boundary-rounded pr on BOTH
    engines (see q_pagerank_centrality for the x.5 device)."""
    from qurio_spark.operators.dedup import connected_components
    from qurio_spark.operators.graph import canonical_pick, pagerank

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3)
    from qurio_spark.functions.checkpointing import checkpoint_df

    # both algorithms consume the pair set — cut the similarity
    # self-join diamond once
    pairs = checkpoint_df(pairs.select("id_a", "id_b"), eager=True)
    cc = connected_components(pairs, emb, id_col="vec_id")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    pr = pagerank(
        edges, emb.select(F.col("vec_id").alias("id")),
        iters=3, damping=0.85, n_vertices=emb.count(),
    )
    rounded = F.floor(F.col("pr") * F.lit(1e8) + F.lit(0.5 + 1e-6)) / F.lit(1e8)
    ranks = pr.select(F.col("id").alias("vec_id"), rounded.alias("pr"))
    return canonical_pick(cc, ranks, id_col="vec_id")


def q_line_dedup(spark, sf_dir):
    """Corpus-level duplicated-line removal
    (operators/dedup.remove_duplicate_lines — the CCNet/RefinedWeb
    boilerplate-cleanup step): each source's docs concatenate into one
    multi-line page (ordered by doc_id) with a shared BANNER line (the
    max-doc_id document's text) prepended to every page — the nav-bar
    shape.  The banner repeats across all pages, so it must vanish
    from every one (including its own source's body copy); all other
    lines are corpus-unique and survive in order.  One global
    trimmed-line count shuffle + an anti-join against the hot set —
    never a cross join."""
    from qurio_spark.operators.dedup import remove_duplicate_lines

    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "text")
    banner = (
        d.orderBy(F.col("doc_id").desc()).select("text").first()["text"]
    )
    pages = d.groupBy("source").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda x: x["text"],
            ),
        ).alias("body")
    ).select(
        "source",
        F.concat(F.lit(banner), F.lit("\n"), F.col("body")).alias("text"),
    )
    out = remove_duplicate_lines(pages, id_col="source", text_col="text")
    return out.select(
        "source",
        "n_kept",
        "n_removed",
        F.md5("text_clean").alias("clean_hash"),
    )


def q_fuzzy_join(spark, sf_dir):
    """Record-linkage fuzzy join (operators/fuzzy.fuzzy_join): a
    deterministically corrupted twin of every 7th customer name (one
    character deleted at position custkey % len) is matched back
    against ALL clean names within Levenshtein distance 1 via
    SymSpell symmetric-delete blocking — an equality join on the
    O(len) deletion neighborhood, never a cross join; exact
    ``levenshtein`` verify on the distinct candidate pairs.  The
    blocking is lossless for k=1, so the result equals the oracle's
    brute-force quadratic scan.  Beyond-reference extension (the
    reference has no fuzzy matching, SURVEY §2.7)."""
    from qurio_spark.operators.fuzzy import fuzzy_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty = cust.filter(F.col("c_custkey") % 7 == 3).select(
        F.col("c_custkey").alias("dirty_custkey"),
        F.concat(
            F.expr("substr(c_name, 1, c_custkey % length(c_name))"),
            F.expr("substr(c_name, c_custkey % length(c_name) + 2)"),
        ).alias("dirty_name"),
    )
    clean = cust.select(
        F.col("c_custkey").alias("clean_custkey"),
        F.col("c_name").alias("clean_name"),
    )
    return fuzzy_join(
        dirty, clean, "dirty_custkey", "dirty_name",
        "clean_custkey", "clean_name", max_dist=1,
    )


def q_span_dedup(spark, sf_dir):
    """Exact duplicate-substring removal (operators/dedup.
    remove_duplicate_spans): any 10-token gram occurring >= 2 times in
    the corpus has its covered positions dropped from every document
    (Lee et al. 2022 ExactSubstr at span granularity; the
    line-granularity twin is line_dedup).  One global gram-count
    shuffle + a semi-join of flagged starts — never a cross join."""
    from qurio_spark.operators.dedup import remove_duplicate_spans

    out = remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), k=10, min_count=2
    )
    return out.select(
        "doc_id", "n_kept", "n_removed", F.md5("text_clean").alias("clean_hash")
    )


def q_triangle_count(spark, sf_dir):
    """Global triangle census of the co-event graph (operators/graph.
    triangle_count): users are linked when they act in the same
    (event_type, hour) bucket; triangles + global clustering measure
    the burst-collusion structure curation cares about (bot rings
    co-fire in the same buckets).  Degree-ordered orientation keeps
    the wedge join arboricity-bounded — the hub-user explosion a
    naive wedge join suffers cannot happen; at corpus scale the
    bucket self-join gets the same max-bucket guard as the embedding
    block join.  The synthetic events saturate the pair space (few
    users, many buckets), so edges are THINNED 1-in-20 by a portable
    per-pair key both engines reproduce bit-identically: the md5-based
    hash64 is computed ONCE PER USER on the incidence frame (not once
    per candidate pair — md5 on the 22M joined rows was the hot spot),
    then mixed with the partner id as ((h_src % 20) * 31 + dst) % 20
    (reduced before the multiply — ANSI overflow), pure
    integer ops on the join output.  The filter is a deterministic
    function of the pair, so it sits BELOW the dedup shuffle
    (distinct(thinned) == thinned(distinct)) at 1/20th the exchange
    volume."""
    from qurio_spark.functions.hashing import hash64
    from qurio_spark.operators.graph import triangle_count

    ev = _events(spark, sf_dir)
    b = (
        ev.select(
            "event_type", F.date_trunc("hour", "ts").alias("h"), "user_id"
        )
        .distinct()
        .withColumn(
            "hu",
            hash64(F.concat(F.lit("tu:"), F.col("user_id").cast("string"))),
        )
    )
    x, y = b.alias("x"), b.alias("y")
    e = (
        x.join(y, ["event_type", "h"])
        .filter(F.col("x.user_id") < F.col("y.user_id"))
        .select(
            F.col("x.user_id").alias("src"),
            F.col("y.user_id").alias("dst"),
            F.col("x.hu").alias("hsrc"),
        )
        .filter(((F.col("hsrc") % 20) * 31 + F.col("dst")) % 20 == 0)
        .select("src", "dst")
        .distinct()
    )
    return triangle_count(e)


def q_fuzzy_join2(spark, sf_dir):
    """fuzzy_join at edit distance 2 (operators/fuzzy.symdelete_keys2):
    every 62nd customer name (odd custkeys, so each planted source
    stays in the reference set) is corrupted by TWO character deletions
    (positions custkey % len, then custkey % (len-1) of the shortened
    string) and matched back against all clean names within
    Levenshtein distance 2 (reference set = odd-custkey names) via
    the O(len^2/2) double-delete neighborhood — still an equality join, never a cross join; the
    oracle is the brute-force quadratic scan the lossless blocking
    must equal."""
    from qurio_spark.operators.fuzzy import fuzzy_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    once = F.concat(
        F.expr("substr(c_name, 1, c_custkey % length(c_name))"),
        F.expr("substr(c_name, c_custkey % length(c_name) + 2)"),
    )
    dirty = (
        cust.filter(F.col("c_custkey") % 62 == 3)
        .withColumn("_d1", once)
        .select(
            F.col("c_custkey").alias("dirty_custkey"),
            F.concat(
                F.expr("substr(_d1, 1, c_custkey % length(_d1))"),
                F.expr("substr(_d1, c_custkey % length(_d1) + 2)"),
            ).alias("dirty_name"),
        )
    )
    clean = cust.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("clean_custkey"),
        F.col("c_name").alias("clean_name"),
    )
    return fuzzy_join(
        dirty, clean, "dirty_custkey", "dirty_name",
        "clean_custkey", "clean_name", max_dist=2,
    )
