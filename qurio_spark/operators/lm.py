"""N-gram language-model quality scoring (the CCNet/RedPajama filter).

Training-data-pipeline extension: score every document by its
cross-entropy under a bigram language model trained on a reference
(clean) subset — the public CCNet recipe (Wenzek et al. 2020) scores
Common Crawl against a Wikipedia-trained KenLM and buckets documents
into head/middle/tail by perplexity.  The reference engine has no LM
scoring (SURVEY §2.7); this is a beyond-reference extension in the
text-analysis family (SURVEY §2.8) next to gopher_rules /
quality_scores.

Model: add-one-smoothed bigram LM over the shared alnum tokenizer
(``functions.text.tokenize`` — the same token rule every other text
operator and every SQL oracle uses), with the vocabulary capped to the
``max_vocab`` most frequent training unigrams (ties broken by token
string) and all other tokens mapped to ``<unk>``:

    p(w2 | w1) = (c2(m(w1), m(w2)) + 1) / (c1(m(w1)) + V)

where ``m`` is the vocab mapping, ``c2``/``c1`` are mapped train
bigram/unigram occurrence counts, and ``V`` = |selected vocab| + 1
(the ``<unk>`` bucket).  A document's score is reported EXACTLY, in
integer milli-nats:

    cost_millinats = sum over bigrams of
                     floor(1000 * (ln(c1 + V) - ln(c2 + 1)))

All inputs to ``ln`` are exact integers, so both engines evaluate the
same IEEE ops on the same values and the floor/sum pipeline is
order-invariant integer arithmetic — the r12 summation-order rule
(never round or sum derived doubles) holds by construction.
Perplexity per bigram is ``exp(cost_millinats / 1000 / n_bigrams)``,
derivable by the caller; bucketing into head/middle/tail is a
follow-on quantile over ``cost_millinats / n_bigrams``.

Scale shape (100 TB posture):
  - the corpus-side plan is: one token explode (map), a broadcast
    LEFT join against the <= max_vocab vocab rows for the OOV
    mapping, a pre-aggregation of the doc's bigrams to
    ``(doc, w1m, w2m, cnt)`` (map-side partials collapse each doc's
    repeats BEFORE any exchange — a doc's exploded bigrams never
    leave their partition unaggregated), the count joins, and the
    per-doc groupBy.
  - ``uni`` is bounded by construction (<= V+1 rows) and carries an
    explicit broadcast hint.  ``bi`` is bounded by the train corpus's
    DISTINCT mapped pairs — <= min(train bigram count, V^2), vocab-
    sized on natural text but NOT guaranteed broadcastable (V^2 =
    4.3e9 at the default 64k cap); when it exceeds the broadcast
    threshold the scoring join falls back to a shuffle on
    (w1m, w2m), and the r14 pre-aggregation is what keeps that
    fallback safe: a hot pair ("of the") contributes at most ONE row
    per document to the exchange, not one per occurrence.  Callers
    who need the all-broadcast plan bound ``bi`` directly by lowering
    ``max_vocab`` (bi <= V^2).  Skew evidence: SCALE.md "Round 14: lm_quality
    hot-bigram hardening" (planted Zipf bigrams, broadcast forced off).
  - training aggregations are map-side-partial groupBy counts over
    the train subset (vocab-sized results, not corpus-sized);
  - the top-K vocab selection is ``orderBy(...).limit(K)`` — Spark's
    distributed TakeOrdered, no single-partition global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from qurio_spark.functions.text import tokenize

UNK = "<unk>"


def _toks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col), tokenize(F.col(text_col)).alias("toks"))


def _bigrams(toked: DataFrame, id_col: str) -> DataFrame:
    """(id, w1, w2) for each adjacent token pair — pairs are built
    JVM-side inside one ``transform`` over the token array (0-based
    bracket indexing), then exploded once."""
    pairs = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
        " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
    )
    return toked.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def train_bigram_lm(
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 65536,
):
    """Fit the capped-vocab add-one bigram LM on ``train``.

    Returns ``(vocab, uni, bi, v_size)``: the vocab frame (``w``),
    mapped unigram counts (``w1m, c1``), mapped bigram counts
    (``w1m, w2m, c2``), and the smoothing denominator
    ``V = |vocab| + 1``.  ``v_size`` is the one driver-side scalar
    (a count over the <= max_vocab vocab rows).
    """
    toked = _toks(train, id_col, text_col)
    uni_raw = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    vocab = uni_raw.orderBy(F.desc("c"), F.asc("w")).limit(max_vocab).select("w")
    v_size = vocab.count() + 1  # + the <unk> bucket

    # Mapped unigram counts derive from uni_raw (vocab-sized rows —
    # sum the raw counts under the mapping) rather than re-exploding
    # the whole train corpus; the raw-count exchange is reused by the
    # vocab subtree, so the corpus is tokenized once for unigrams.
    uni = (
        uni_raw.alias("_uc")
        .join(
            F.broadcast(vocab.alias("_vw1")),
            F.col("_uc.w") == F.col("_vw1.w"),
            "left",
        )
        .select(F.coalesce(F.col("_vw1.w"), F.lit(UNK)).alias("w1m"), "c")
        .groupBy("w1m")
        .agg(F.sum("c").alias("c1"))
    )
    bi = (
        _bigrams(toked, id_col)
        .join(F.broadcast(vocab.alias("_vw1")), F.col("w1") == F.col("_vw1.w"), "left")
        .join(F.broadcast(vocab.alias("_vw2")), F.col("w2") == F.col("_vw2.w"), "left")
        .select(
            F.coalesce(F.col("_vw1.w"), F.lit(UNK)).alias("w1m"),
            F.coalesce(F.col("_vw2.w"), F.lit(UNK)).alias("w2m"),
        )
        .groupBy("w1m", "w2m")
        .agg(F.count("*").alias("c2"))
    )
    return vocab, uni, bi, v_size


def lm_cross_entropy(
    docs: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 65536,
) -> DataFrame:
    """Score every doc in ``docs`` under the bigram LM fit on
    ``train`` -> ``(id_col, n_bigrams, cost_millinats)``, exact
    integers (module doc).  Docs with fewer than 2 tokens score
    ``(0, 0)``."""
    vocab, uni, bi, v_size = train_bigram_lm(
        train, text_col=text_col, id_col=id_col, max_vocab=max_vocab
    )
    # Pre-aggregate each doc's bigrams to (id, w1m, w2m, cnt) BEFORE
    # the count joins (r14, VERDICT r13 #2): map-side partials collapse
    # a doc's repeated pairs inside its own partition (explode never
    # crosses partitions), so if ``bi`` ever exceeds the broadcast
    # threshold and the join degrades to a shuffle on (w1m, w2m), a hot
    # pair carries at most one row PER DOCUMENT — the per-occurrence
    # skew the module doc describes cannot reach a reducer.  The exact
    # integer pipeline is unchanged: cost-per-occurrence x cnt.
    scored = (
        _bigrams(_toks(docs, id_col, text_col), id_col)
        .join(F.broadcast(vocab.alias("_vw1")), F.col("w1") == F.col("_vw1.w"), "left")
        .join(F.broadcast(vocab.alias("_vw2")), F.col("w2") == F.col("_vw2.w"), "left")
        .select(
            id_col,
            F.coalesce(F.col("_vw1.w"), F.lit(UNK)).alias("w1m"),
            F.coalesce(F.col("_vw2.w"), F.lit(UNK)).alias("w2m"),
        )
        .groupBy(id_col, "w1m", "w2m")
        .agg(F.count("*").alias("_cnt"))
        .join(bi, ["w1m", "w2m"], "left")
        .join(F.broadcast(uni), ["w1m"], "left")
        .select(
            id_col,
            "_cnt",
            F.floor(
                F.lit(1000.0)
                * (
                    F.log(F.coalesce(F.col("c1"), F.lit(0)) + F.lit(v_size))
                    - F.log(F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
                )
            )
            .cast("long")
            .alias("_cost"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").cast("long").alias("n_bigrams"),
            F.sum(F.col("_cost") * F.col("_cnt")).alias("cost_millinats"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, [id_col], "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("cost_millinats", F.lit(0))
            .cast("long")
            .alias("cost_millinats"),
        )
    )


def lm_buckets(
    docs: DataFrame,
    train: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    max_vocab: int = 65536,
    exact: bool = True,
    approx_accuracy: int = 10000,
    persist: bool = True,
) -> DataFrame:
    """The CCNet selection step: rank every document by its LM
    cross-entropy WITHIN its source and split into ``n_buckets``
    equal-frequency buckets (bucket 1 = head = most target-like, the
    slice CCNet keeps; Wenzek et al. 2020 buckets per language
    snapshot the same way) -> ``(id_col, source_col, n_bigrams,
    cost_millinats, bucket)``.  Docs with no bigrams are dropped
    (nothing to score — the CCNet convention for empty docs).

    Determinism (exact path): the rank orders by the per-bigram ratio
    ``cost_millinats / n_bigrams`` — ONE IEEE division of two exact
    integers, bit-identical in any engine — with an ``id_col``
    tie-break, and ntile's remainder rule is the SQL standard both
    Spark and DuckDB implement.

    Scale (r14): NEITHER path serializes a dominant source through one
    reducer.  The exact default computes the per-source rank as a
    DISTRIBUTED prefix sum of 1s (operators/prefix — parallelism =
    sources x buckets) and derives ntile's SQL-standard remainder rule
    arithmetically from (rank, source size, n_buckets), so the output
    is still bit-identical to the window ntile and oracle-checkable.
    ``exact=False`` trades exact bucket sizes for per-source
    ``percentile_approx`` cutoffs broadcast back (bucket = one
    ``element_at`` comparison per cutoff per row — NOT a
    higher-order-function lambda, whose NamedLambdaVariable rebinding
    across duplicated lineage trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    on Spark 4.1, see operators/prefix — so the path is safe with
    ``persist=False`` too).  The only exchange past the scoring
    subtree is the cutoff aggregation itself, which carries one
    partial-agged sketch per (source, input partition) — the corpus
    rows never shuffle for bucketing (pinned by the plan assert in
    tests/test_textstats.py; planted approx==exact agreement at scale
    in SCALE.md "Round 15: planted approx==exact agreement at scale").
    The scored frame is persisted (narrow: id, source, 2 ints) —
    both paths consume it more than once, and re-deriving it would
    re-run LM training.  The cache is attached to the returned frame:
    release it deterministically with
    ``operators.cachectl.release_caches(result)`` after the consuming
    action (long sessions bucketing many corpora no longer need
    ``spark.catalog.clearCache()``).
    """
    scored = lm_cross_entropy(
        docs.select(id_col, text_col),
        train,
        text_col=text_col,
        id_col=id_col,
        max_vocab=max_vocab,
    )
    withsrc = (
        docs.select(id_col, source_col)
        .join(scored, [id_col])
        .filter(F.col("n_bigrams") > 0)
    )
    if persist:
        withsrc = withsrc.persist()
    ratio = F.col("cost_millinats") / F.col("n_bigrams")
    if exact:
        from qurio_spark.operators.prefix import distributed_rank

        ranked = distributed_rank(
            withsrc.withColumn("_ratio", ratio),
            part_col=source_col,
            order_cols=["_ratio", id_col],
            out_col="_rk",
            hash_col=id_col,
            # sizing count from the RAW docs table (row count upper-
            # bounds the scored frame's): a parquet-backed corpus
            # answers it from footer metadata, so the small-input
            # decision no longer pays a full LM-scoring pass before
            # the first real job (r15, guide §1.2)
            count_df=docs.select(id_col),
        )
        totals = withsrc.groupBy(source_col).agg(F.count("*").alias("_T"))
        # SQL-standard ntile remainder rule: with T rows and n buckets,
        # the first T % n buckets hold ceil(T/n) rows, the rest
        # floor(T/n) — identical to Spark's AND DuckDB's ntile, so the
        # oracle keeps using plain ntile().  q = floor(T/n), r = T % n;
        # the else branch never divides by zero: q = 0 implies
        # T = r < n, so every rank satisfies rk <= r * (q + 1).
        q = F.floor(F.col("_T") / n_buckets)
        r = F.col("_T") % n_buckets
        bucket = F.when(
            F.col("_rk") <= r * (q + F.lit(1)),
            F.floor((F.col("_rk") - 1) / (q + F.lit(1))) + F.lit(1),
        ).otherwise(
            r + F.floor((F.col("_rk") - 1 - r * (q + F.lit(1))) / q) + F.lit(1)
        )
        # long, matching the oracle's BIGINT ntile (the r13 typing
        # rule: integer output columns are int64 on both sides)
        from qurio_spark.operators.cachectl import propagate_caches as _prop

        out = _prop(
            ranked,
            ranked.join(F.broadcast(totals), [source_col]).withColumn(
                "bucket", bucket.cast("long")
            ),
        )
    else:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = withsrc.groupBy(source_col).agg(
            F.percentile_approx(ratio, probs, approx_accuracy).alias("_cuts")
        )
        # bucket = 1 + |{cutoffs < ratio}| as a plain sum of
        # element_at comparisons (percentile_approx with a list of
        # probs always returns exactly len(probs) elements) — no HOF
        # lambda, so duplicated lineage under persist=False is safe
        bucket = F.lit(1)
        for i in range(1, n_buckets):
            bucket = bucket + F.when(
                F.element_at("_cuts", i) < ratio, F.lit(1)
            ).otherwise(F.lit(0))
        out = withsrc.join(F.broadcast(cuts), [source_col]).withColumn(
            "bucket", bucket.cast("long")
        )
    from qurio_spark.operators.cachectl import attach_caches, propagate_caches

    sel = out.select(
        id_col, source_col, "n_bigrams", "cost_millinats", "bucket"
    )
    propagate_caches(out, sel)
    if persist:
        attach_caches(sel, [withsrc])
    return sel
