"""Product quantization (PQ) for compressed ANN — the memory/IO scale
path next to IVF (`similarity.py`).

A 100 TB embedding corpus is mostly vector bytes: 1B x 64-dim float32
is 256 GB of raw vectors, but PQ codes are a fraction of that.  Two
committed quantizer shapes:

  - m=16 subspaces x k=16 centroids: 16 4-bit codes, packed into ONE
    64-bit long (~32x scan-size cut) — the narrowest scan;
  - m=16 x k=256 (the FAISS PQ16x8 standard, and the default for the
    ann_pq/ann_ivfpq queries): 16 8-bit codes packed into TWO longs
    (~16x cut) — finer quantization, which is what lets the refine
    shortlist be SUBLINEAR in the corpus (see ``shortlist_for``).

``packed=False`` keeps the debuggable ``array<int>`` form.  Search
never touches raw vectors: the query builds an m x k lookup table of
partial dot products (driver-side, tiny), and each row's approximate
score is m array lookups + adds — pure column expressions inside
codegen (bit shift/mask extracts for the packed forms), no Python in
the scan.

Honesty note on packing: parquet's dictionary/RLE encoding already
bit-packs 0..15 ints to ~4 bits, so ON DISK the packed long and the
array<int> forms are nearly the same size (pinned in
tests/test_pq.py); the packed form's wins are the decoded columnar
width (8 B/row vs 16 unpacked 4-byte ints + offsets), no
per-element array traversal in the ADC expression, and a fixed-width
column.  The headline disk cut is vs the RAW VECTORS the codes
replace as the scan surface: measured ~46x on the test corpus.

Decomposition is exact for inner product: dot(q, dequant(codes)) =
sum_j dot(q_j, C_j[codes_j]) — the classic ADC (asymmetric distance
computation) of Jegou et al., "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011).

Determinism: codebooks are fit with numpy Lloyd's on a bounded
hash-ordered sample (the same md5-`hash64` device as `kmeans_fit` /
`ivf_build`) — no RNG, reproducible across runs and cluster sizes.
At 100 TB the fit sample stays O(sample_n x dim) on the driver while
encoding is one distributed map pass; this mirrors how FAISS trains
PQ on a sample then encodes the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from qurio_spark.functions.hashing import hash64


def shortlist_for(n_candidates: int, c: float = 6.0, min_n: int = 100) -> int:
    """ADC shortlist depth for a candidate set of ``n_candidates`` —
    SUBLINEAR in the corpus: ``max(min_n, ceil(c * sqrt(n)))``, capped
    at n.

    Three generations of this dial, each fixing the previous one's
    scale cliff:

    1. a CONSTANT depth was a recall cliff — at fixed quantization
       distortion the number of ADC-confusable vectors grows with the
       corpus (measured: recall@10 fell 1.0 -> 0.8 from n=500 to
       n=2000 at depth 100);
    2. a constant FRACTION (20%) fixed recall but made the shortlist
       LINEAR in n — at 1B vectors a 200M-row TakeOrdered merge and
       broadcast refine join are the bottleneck;
    3. the fix for BOTH is a finer quantizer: at m=16, k=256 (8-bit
       codes, 128-bit words — the FAISS PQ16x8 shape) the measured
       minimal depth for worst-case-over-50-queries recall@10 = 1.0
       is 33 at n=500 and 74 at n=2000 — a 2.2x depth for 4x corpus,
       i.e. ~sqrt growth — so a c*sqrt(n) depth holds recall with a
       >= 3x margin at every test SF (pinned in tests/test_pq.py and
       gated at the bench SF by the ``ann_pq_recall`` extra) while
       the refine traffic FRACTION decays as 1/sqrt(n): 27% at n=500,
       13% at n=2000, 0.6% at n=1e6, 0.02% at n=1e9 (~190k rows —
       trivially TakeOrdered-able and broadcast-able).

    The coarse m=16, k=16 (64-bit) codes stay supported for
    scan-width-critical corpora, but the committed ann_pq/ann_ivfpq
    config is the 8-bit quantizer precisely so this sizing can be
    sublinear.  Past ``pq_topk_refined``'s broadcast threshold the
    refine join switches to a shuffle hash join — no broadcast
    ceiling on the shortlist either."""
    import math

    return min(
        max(1, n_candidates),
        max(min_n, int(math.ceil(c * math.sqrt(max(0, n_candidates))))),
    )


def code_bits(k: int) -> int:
    """Bits per code for a k-centroid quantizer: 4-bit fields for
    k <= 16 (the coarse 64-bit-word config), 8-bit for k <= 256 (the
    FAISS-standard fine config).  Power-of-two widths keep every field
    inside one 64-bit word (64 % bits == 0 — no straddling)."""
    if k <= 16:
        return 4
    if k <= 256:
        return 8
    raise ValueError(f"packed codes need k <= 256, got {k}")


def _n_words(m: int, k: int) -> int:
    return (m * code_bits(k) + 63) // 64


def _code_expr(codes_col, j: int, k: int, packed: bool, m: int | None = None):
    """Subspace-j code as an int column from either representation.
    Packed forms: one 64-bit long when m*bits <= 64, else
    ``array<long>`` words — field j lives in word (j*bits) // 64
    (64 % bits == 0, so fields never straddle words).  ``m`` is
    required for packed extraction (it decides single- vs
    multi-word)."""
    if not packed:
        return F.element_at(codes_col, j + 1)
    bits = code_bits(k)
    word = codes_col
    if _n_words(m, k) > 1:
        word = F.element_at(codes_col, (j * bits) // 64 + 1)
    return (
        F.shiftrightunsigned(word.cast("long"), (j * bits) % 64)
        .bitwiseAND(F.lit((1 << bits) - 1))
        .cast("int")
    )


def pq_pack_expr(codes_col, m: int, k: int = 16):
    """``array<int>`` codes -> packed words (code_j in bits
    [j*bits, (j+1)*bits) of word (j*bits)//64).  One long when
    m*bits <= 64, else ``array<long>``.  Fields never overlap or
    straddle words, so the sum is a bitwise-or.  Pure column
    expression — packing happens inside the encode projection, never
    a second pass."""
    bits = code_bits(k)
    words = []
    per_word = 64 // bits
    for w in range(_n_words(m, k)):
        packed = F.lit(0).cast("long")
        for j in range(w * per_word, min(m, (w + 1) * per_word)):
            packed = packed + F.shiftleft(
                F.element_at(codes_col, j + 1).cast("long"), (j * bits) % 64
            )
        words.append(packed)
    return words[0] if len(words) == 1 else F.array(*words)


def pq_unpack_expr(packed_col, m: int, k: int = 16):
    """Packed word(s) -> ``array<int>`` codes (round-trip/debug
    surface).  For the multi-word form pass the ``array<long>``
    column."""
    return F.array(
        *[_code_expr(packed_col, j, k, True, m=m) for j in range(m)]
    )


def pq_fit(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 2048,
) -> list:
    """Fit per-subspace codebooks -> nested list (m, k, dim//m).

    The fit runs driver-side numpy Lloyd's over a deterministic
    hash-ordered sample of ``sample_n`` vectors (seeded by the first
    ``k`` sample rows; empty clusters keep their previous centroid) —
    the corpus itself is only ever touched by the distributed encode
    pass (:func:`pq_encode`)."""
    rows = (
        embeddings.select(
            F.col(vec_col), hash64(F.col(id_col).cast("string")).alias("_h")
        )
        .orderBy("_h")
        .limit(sample_n)
        .collect()
    )
    X = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m
    codebooks = []
    for j in range(m):
        Xj = X[:, j * ds : (j + 1) * ds]
        C = Xj[: min(k, n)].copy()
        if C.shape[0] < k:  # degenerate tiny corpus: pad by repetition
            C = np.vstack([C] * (k // C.shape[0] + 1))[:k]
        for _ in range(iters):
            # argmin over ||x-c||^2 = -2 x.c + ||c||^2 (+ ||x||^2,
            # constant per row) — (n, k) matmul instead of the
            # (n, k, ds) difference tensor; same argmin, ~k x faster
            # at k=256
            d2 = -2.0 * (Xj @ C.T) + (C * C).sum(axis=1)
            a = d2.argmin(axis=1)
            # vectorized centroid update: per-cluster sums via
            # np.add.at; empty clusters keep their previous centroid
            sums = np.zeros_like(C)
            np.add.at(sums, a, Xj)
            counts = np.bincount(a, minlength=k).astype(np.float64)
            nonempty = counts > 0
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
        codebooks.append(C.tolist())
    return codebooks


def pq_encode(
    embeddings: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    packed: bool = False,
) -> DataFrame:
    """Distributed encode: each vector -> ``codes`` (nearest centroid
    per subspace; Arrow-batched numpy argmin against the broadcast
    codebook tensor).  One map pass, no shuffle — the output table is
    the compact search surface.  ``packed=True`` emits one 64-bit long
    (4 bits per code, requires m <= 16 and k <= 16) instead of
    ``array<int>`` — ~32x smaller than the raw vectors on disk."""
    import pandas

    CB = np.asarray(codebooks, dtype=np.float64)  # (m, k, ds)
    m, k, ds = CB.shape
    if packed:
        code_bits(k)  # validates k <= 256
    cb_sq = (CB * CB).sum(axis=2)  # (m, k)

    def _encode(vecs):
        V = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, m*ds)
        n = V.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            Vj = V[:, j * ds : (j + 1) * ds]
            d = -2.0 * (Vj @ CB[j].T) + cb_sq[j]
            codes[:, j] = d.argmin(axis=1)
        return pandas.Series(list(codes))

    _encode.__annotations__ = {"vecs": pandas.Series, "return": pandas.Series}
    encode = F.pandas_udf("array<int>")(_encode)
    cols = [F.col(id_col)] + [F.col(c) for c in (keep_cols or [])]
    out = embeddings.select(*cols, encode(F.col(vec_col)).alias("codes"))
    if packed:
        out = out.withColumn("codes", pq_pack_expr(F.col("codes"), m, k))
    return out


def _codes_packed(codes_df: DataFrame) -> bool:
    """True when the ``codes`` column is a packed representation — a
    single long (m*bits <= 64) or ``array<long>`` words (the 8-bit
    multi-word form).  ``array<int>`` is the unpacked form.  The dtype
    IS the format marker — survives parquet round-trips."""
    dt = codes_df.schema["codes"].dataType
    if not dt.typeName().startswith("array"):
        return True
    return dt.elementType.typeName() in ("long", "bigint")


def pq_adc_score(codebooks: list, query_vec: list[float], packed: bool = False):
    """ADC score as a pure column expression over a ``codes`` column:
    the driver computes the m x k partial-dot lookup table once, then
    score = sum_j LUT[j, codes_j] via array element_at inside codegen —
    zero Python in the distributed scan.  For packed codes each
    codes_j is a shift+mask extract of the 64-bit word (still pure
    codegen; m fixed terms, fully unrolled)."""
    CB = np.asarray(codebooks, dtype=np.float64)  # (m, k, ds)
    m, k, ds = CB.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.size != m * ds:
        raise ValueError(f"query dim {q.size} != {m * ds}")
    lut = np.einsum("jkd,jd->jk", CB, q.reshape(m, ds))  # (m, k)
    score = F.lit(0.0)
    for j in range(m):
        # One LUT array per subspace, each referenced ONCE, built via a
        # single F.expr call.  Two driver-cost traps measured at k=256:
        # a shared F.array(*lits) column gets COPIED into all m sum
        # terms (m*k*m expression nodes -> ~5x query slowdown from
        # analysis alone), and F.lit(list)/F.array(*lits) per subspace
        # issues k py4j calls per array (m*k round-trips -> ~2.4s of
        # driver time per score build).  F.expr parses the k-element
        # literal JVM-side in one call; the optimizer constant-folds it.
        lut_j = F.expr(
            "array(" + ",".join(repr(float(v)) + "D" for v in lut[j]) + ")"
        )
        c = _code_expr(F.col("codes"), j, k, packed, m=m)
        score = score + F.element_at(lut_j, c + F.lit(1))
    return score


def pq_topk(
    codes_df: DataFrame,
    codebooks: list,
    query_vec: list[float],
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate inner-product top-k over PQ codes -> (id, score)
    ordered.  Plan shape: map-only scan of the codes table +
    TakeOrderedAndProject — same as ``brute_force_topk`` but reading
    ~32x fewer bytes and doing m adds per row instead of dim FMAs.
    Accepts either codes representation (dtype-detected)."""
    from qurio_spark.functions.numeric import stable_round

    score = pq_adc_score(codebooks, query_vec, packed=_codes_packed(codes_df))
    return (
        codes_df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc(stable_round(F.col("score"), 6)), F.asc(id_col))
        .limit(topk)
    )


#: Above this many shortlist ids the exact-refine join stops
#: broadcasting the candidate set and shuffles instead — broadcasts
#: have a hard size ceiling (8 GB) and a per-executor memory cost,
#: while a shuffle hash join on the id scales with partition count.
#: With the sublinear shortlist (c*sqrt(n)) this only triggers past
#: n ~ 10^11 vectors, but the guard means NO corpus size can push the
#: refine through a broadcast cliff.
REFINE_BROADCAST_MAX = 2_000_000


def _refine_join(
    embeddings: DataFrame, cand: DataFrame, id_col: str, shortlist: int
) -> DataFrame:
    """Join the raw-vector table to the shortlist ids: broadcast for
    normal shortlists (the raw vectors are read only where the pushed
    id filter matches), shuffle-hash past ``REFINE_BROADCAST_MAX`` —
    the shortlist side is always the (smaller) build side."""
    ids = cand.select(id_col)
    if shortlist <= REFINE_BROADCAST_MAX:
        return embeddings.join(F.broadcast(ids), id_col)
    return embeddings.join(ids.hint("shuffle_hash"), id_col)


def pq_topk_refined(
    codes_df: DataFrame,
    embeddings: DataFrame,
    codebooks: list,
    query_vec: list[float],
    topk: int = 10,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int | None = None,
) -> DataFrame:
    """Two-stage retrieve+refine (the production PQ pipeline): ADC over
    the compressed codes picks a shortlist of candidates, then ONLY
    those rows' raw vectors are fetched and exactly re-scored (dot).

    ``shortlist=None`` (default) sizes the shortlist ADAPTIVELY as a
    fraction of the candidate-set size (:func:`shortlist_for`) — a
    constant depth is a recall cliff one scale factor up (measured:
    recall@10 dropped 1.0 -> 0.8 from n=500 to n=2000 at a fixed 100).
    Pass ``n_candidates`` when the caller already knows the corpus
    count (e.g. from the source table's parquet stats) to avoid the
    count job over the codes lineage.

    Scale shape: stage 1 scans codes (~32x fewer bytes than vectors,
    map-only + TakeOrdered); stage 2 is a broadcast semi-join of the
    shortlist id set against the vector table — the corpus's raw
    vectors are read only where the join pushes the id filter, never
    scanned for scoring.  Final quality is exact-top-k restricted to
    the shortlist; recall 1.0 is gated at the bench SF by the
    ``ann_pq_recall`` extra and pinned in tests/test_pq.py."""
    from qurio_spark.functions.numeric import stable_round
    from qurio_spark.functions.vector import dot, literal_vector

    if shortlist is None:
        n = n_candidates if n_candidates is not None else codes_df.count()
        shortlist = shortlist_for(n)
    cand = pq_topk(codes_df, codebooks, query_vec, shortlist, id_col)
    refined = _refine_join(embeddings, cand, id_col, shortlist)
    score = dot(F.col(vec_col), literal_vector(query_vec))
    return (
        refined.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc(stable_round(F.col("score"), 6)), F.asc(id_col))
        .limit(topk)
    )


def _codes_to_np(series, m: int, k: int, packed: bool) -> np.ndarray:
    """A pandas Series of codes (packed long / array<long> words /
    array<int>) -> (n, m) int64 numpy codes — the Arrow-side twin of
    ``_code_expr`` for batch scoring."""
    bits = code_bits(k)
    if not packed:
        return np.stack(series.to_numpy()).astype(np.int64)
    first = series.iloc[0]
    if np.ndim(first) == 0:  # single packed long
        words = series.to_numpy().astype(np.uint64)[:, None]
    else:  # array<long> words
        words = np.stack(series.to_numpy()).astype(np.uint64)
    per_word = 64 // bits
    j = np.arange(m)
    w_idx = (j * bits) // 64
    shift = ((j * bits) % 64).astype(np.uint64)
    mask = np.uint64((1 << bits) - 1)
    return ((words[:, w_idx] >> shift) & mask).astype(np.int64)


def pq_topk_batch(
    codes_df: DataFrame,
    embeddings: DataFrame,
    codebooks: list,
    queries: DataFrame,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
    n_candidates: int | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """A TABLE of queries served against ONE scan of the compressed
    codes — the batch twin of ``pq_topk_refined`` and the PQ analogue
    of the batch hybrid search.  -> (query_id, vec_id, score) with
    ``topk`` exact-dot rows per query.

    Per-query literal score expressions would repeat the single-query
    plan Q times (the expression-bloat trap measured at k=256), so the
    ADC stage is ONE Arrow ``mapInPandas`` over the codes table with
    the (Q, m, k) LUT tensor in the closure: each input batch scores
    all queries as numpy gathers, and each PARTITION emits only its
    local top-``shortlist`` ids per query (a superset of every global
    shortlist by construction) — the shuffle moves parts x Q x
    shortlist tiny rows, never the corpus.  A window rank then cuts
    the global per-query shortlist, the refine joins raw vectors once
    for ALL queries' candidates (queries broadcast), and a final
    per-query window returns the exact top-k.

    ``queries`` is collected driver-side (a serving batch is bounded —
    same contract as probe-label literals).  Recall follows the same
    sublinear ``shortlist_for`` law as the single-query path."""
    import pandas

    from qurio_spark.functions.numeric import stable_round
    from qurio_spark.functions.vector import dot
    from pyspark.sql.window import Window

    CB = np.asarray(codebooks, dtype=np.float64)  # (m, k, ds)
    m, k, ds = CB.shape
    qrows = queries.select(query_id_col, qvec_col).collect()
    qids = [r[query_id_col] for r in qrows]
    Q = np.stack([np.asarray(r[qvec_col], dtype=np.float64) for r in qrows])
    # (Q, m, k) partial-dot LUT tensor — tiny, ships in the closure
    LUT = np.einsum("jkd,qjd->qjk", CB, Q.reshape(len(qids), m, ds))
    packed = _codes_packed(codes_df)
    if shortlist is None:
        n = n_candidates if n_candidates is not None else codes_df.count()
        shortlist = shortlist_for(n)

    def score_partition(batches):
        # RUNNING per-query top-``shortlist`` across Arrow batches:
        # peak memory is O(Q x (shortlist + arrow_batch)), never
        # O(Q x n_partition) — a partition of any size streams through
        # in bounded space (the fix for the unbounded (Q, n_part)
        # float64 score matrix this stage used to materialize).
        best_s = best_i = None  # (Q, <=shortlist) running top
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _codes_to_np(pdf["codes"], m, k, packed)  # (b, m)
            s = np.zeros((len(LUT), len(codes)))
            for j in range(m):
                s += LUT[:, j, :][:, codes[:, j]]  # (Q, b) gather
            ids = pdf[id_col].to_numpy()
            i = np.broadcast_to(ids, (len(LUT), len(ids)))
            if best_s is not None:
                s = np.concatenate([best_s, s], axis=1)
                i = np.concatenate([best_i, i], axis=1)
            depth = min(s.shape[1], shortlist)
            idx = np.argpartition(-s, depth - 1, axis=1)[:, :depth]
            best_s = np.take_along_axis(s, idx, axis=1)
            best_i = np.take_along_axis(i, idx, axis=1)
        if best_s is None:
            return
        depth = best_s.shape[1]
        yield pandas.DataFrame(
            {
                "query_id": np.repeat(np.asarray(qids), depth),
                "vec_id": best_i.ravel(),
                "_adc": best_s.ravel(),
            }
        )

    # stage schema DERIVED from the input frames (query/vector id
    # columns keep their real types — integer query ids used to fail
    # the Arrow cast against a hardcoded "query_id string")
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    vid_t = codes_df.schema[id_col].dataType.simpleString()
    cand = codes_df.select(F.col(id_col), F.col("codes")).mapInPandas(
        score_partition, f"query_id {qid_t}, vec_id {vid_t}, _adc double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(stable_round(F.col("_adc"), 6)), F.asc("vec_id")
    )
    short = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= shortlist)
        .select("query_id", "vec_id")
    )
    refined = (
        embeddings.withColumnRenamed(id_col, "vec_id")
        .join(short, "vec_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"), F.col(qvec_col)
                )
            ),
            "query_id",
        )
        .select(
            "query_id", "vec_id",
            dot(F.col(vec_col), F.col(qvec_col)).alias("score"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc(stable_round(F.col("score"), 6)), F.asc("vec_id")
    )
    return (
        refined.withColumn("_rn", F.row_number().over(wf))
        .filter(F.col("_rn") <= topk)
        .select("query_id", "vec_id", "score")
    )


def write_pq_index(
    codes_df: DataFrame, codebooks: list, path: str
) -> None:
    """Persist codes + codebooks — 'encode once per corpus version'.
    The codebook table is (subspace, code, centroid) rows, m*k of
    them; the codes table is the compact scan surface."""
    spark = codes_df.sparkSession
    codes_df.write.mode("overwrite").parquet(f"{path}/codes")
    rows = [
        (j, c, [float(x) for x in cent])
        for j, book in enumerate(codebooks)
        for c, cent in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def read_pq_index(spark, path: str):
    """-> (codes_df, codebooks nested list) as written above."""
    codes = spark.read.parquet(f"{path}/codes")
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    books: list = [[None] * k for _ in range(m)]
    for r in rows:
        books[r["subspace"]][r["code"]] = [float(x) for x in r["centroid"]]
    return codes, books


# ---------------------------------------------------------------------------
# IVF x PQ (IVF-ADC): coarse partition pruning x compressed scan — the
# two ANN axes composed, which is the actual 100 TB serving plan
# (FAISS's IndexIVFPQ shape): probe prunes to nprobe label directories,
# the ADC scan reads only those partitions' packed codes, and the exact
# refine touches raw vectors for the shortlist alone.
# ---------------------------------------------------------------------------


def write_ivfpq_index(
    embeddings: DataFrame,
    codebooks: list,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    packed: bool = True,
) -> None:
    """Persist the composed index: packed PQ codes written PARTITIONED
    BY the coarse IVF label (``embeddings`` must already carry
    ``label_col`` — from the table's own assignment or
    ``similarity.assign_labels``), plus the fine codebooks.  A probe's
    ``label IN (...)`` literal prunes to nprobe directories of
    ~32x-compressed codes — both axes multiply."""
    codes = pq_encode(
        embeddings, codebooks, id_col, vec_col, keep_cols=[label_col],
        packed=packed,
    )
    codes.write.mode("overwrite").partitionBy(label_col).parquet(f"{path}/codes")
    spark = embeddings.sparkSession
    rows = [
        (j, c, [float(x) for x in cent])
        for j, book in enumerate(codebooks)
        for c, cent in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def ivfpq_topk(
    codes_df: DataFrame,
    embeddings: DataFrame,
    codebooks: list,
    query_vec: list[float],
    probe_labels: list[int],
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    shortlist: int | None = None,
    n_candidates: int | None = None,
) -> DataFrame:
    """IVF-ADC probe: restrict BOTH stages to ``probe_labels`` — the
    ADC scan reads only the probed label partitions of the codes table
    (literal IN -> PartitionFilters on a label-partitioned index), and
    the exact refine's raw-vector fetch carries the same label filter
    so an embeddings table laid out by label prunes identically.

    The shortlist is sized sublinearly against the PROBED candidate
    count (``shortlist_for(n, min_n=50)`` — c*sqrt(n) with a lower
    floor, since a pruned partition is small; recall 1.0 verified at
    every test SF and gated at the bench SF by the
    ``ann_ivfpq_recall`` extra)."""
    from qurio_spark.functions.numeric import stable_round
    from qurio_spark.functions.vector import dot, literal_vector

    pruned = codes_df.filter(F.col(label_col).isin(probe_labels))
    if shortlist is None:
        n = n_candidates if n_candidates is not None else pruned.count()
        shortlist = shortlist_for(n, min_n=50)
    cand = pq_topk(pruned, codebooks, query_vec, shortlist, id_col)
    refined = _refine_join(
        embeddings.filter(F.col(label_col).isin(probe_labels)),
        cand, id_col, shortlist,
    )
    score = dot(F.col(vec_col), literal_vector(query_vec))
    return (
        refined.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc(stable_round(F.col("score"), 6)), F.asc(id_col))
        .limit(topk)
    )
