"""Product quantization (operators/pq.py): codebook determinism,
encode/index round-trip, 4-bit packing, ADC correctness against a
numpy reference, the ADAPTIVE shortlist-recall pin that justifies
ann_pq's exact-dot oracle, and the IVF x PQ composition."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from qurio_spark.operators.pq import (
    ivfpq_topk,
    pq_adc_score,
    pq_encode,
    pq_fit,
    pq_pack_expr,
    pq_topk,
    pq_topk_refined,
    pq_unpack_expr,
    read_pq_index,
    shortlist_for,
    write_ivfpq_index,
    write_pq_index,
)
from qurio_spark.operators.similarity import brute_force_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def fitted(emb):
    books = pq_fit(emb, m=16, k=16, iters=10)
    codes = pq_encode(emb, books)
    return books, codes


def test_fit_shape_and_determinism(emb):
    b1 = pq_fit(emb, m=8, k=16, iters=3)
    b2 = pq_fit(emb, m=8, k=16, iters=3)
    assert len(b1) == 8 and all(len(book) == 16 for book in b1)
    assert all(len(c) == 8 for book in b1 for c in book)  # 64 dim / 8
    assert b1 == b2  # hash-sample seeding, no RNG anywhere


def test_dim_not_divisible_raises(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=7, k=4, iters=1)


def test_adc_matches_numpy_reference(emb, fitted):
    """The column-expression ADC score must equal LUT-gather numpy."""
    books, codes = fitted
    q = [float(x) for x in emb.filter("vec_id = 1").first()["embedding"]]
    CB = np.asarray(books)
    m, k, ds = CB.shape
    lut = np.einsum("jkd,jd->jk", CB, np.asarray(q).reshape(m, ds))
    got = {
        r["vec_id"]: r["s"]
        for r in codes.select(
            "vec_id", pq_adc_score(books, q).alias("s")
        ).collect()
    }
    for r in codes.collect():
        want = float(sum(lut[j, c] for j, c in enumerate(r["codes"])))
        assert got[r["vec_id"]] == pytest.approx(want, rel=1e-12)


def test_sublinear_shortlist_sizing():
    """The depth must grow SLOWER than the corpus: c*sqrt(n), floored
    and capped at n.  A constant was the round-6 recall cliff; a
    constant fraction (round 7) fixed recall but made the TakeOrdered
    merge and refine broadcast linear in the corpus."""
    assert shortlist_for(500) == 135         # ceil(6*sqrt(500))
    assert shortlist_for(2000) == 269
    assert shortlist_for(1_000_000) == 6000
    assert shortlist_for(10**9) == 189_737   # trivially broadcastable
    assert shortlist_for(50) == 50           # capped at n, floor above n
    assert shortlist_for(218, min_n=50) == 89  # ivfpq partition sizing
    # the FRACTION strictly decays as n grows (the sublinearity claim)
    fracs = [shortlist_for(n) / n for n in (10**4, 10**5, 10**6, 10**7)]
    assert fracs == sorted(fracs, reverse=True)


@pytest.fixture(scope="module")
def fitted256(emb):
    """The committed ann_pq/ann_ivfpq quantizer: m=16, k=256 (8-bit
    codes, two packed words) — fine enough that the sqrt shortlist
    holds recall 1.0."""
    books = pq_fit(emb, m=16, k=256, iters=10)
    return books, pq_encode(emb, books, packed=True)


def test_shortlist_recall_pin(emb, fitted256):
    """The committed ann_pq config (m=16, k=256, SUBLINEAR shortlist)
    must keep the exact top-10 inside the ADC shortlist — this is the
    fact that makes the exact-dot oracle valid for the approximate
    query.  The same pin at the bench SF is the ann_pq_recall extra.
    Beyond recall at the sized depth, the MEASURED minimal depth must
    sit >= 3x under it (the safety margin the sqrt constant buys)."""
    books, codes = fitted256
    n = emb.count()
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    depth = shortlist_for(n)
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, 10, metric="dot").collect()]
    ranked = [
        r["vec_id"] for r in pq_topk(codes, books, q, depth).collect()
    ]
    assert set(exact) <= set(ranked)  # recall@10 == 1.0 at sized depth
    need = max(ranked.index(e) for e in exact) + 1
    assert need * 3 <= depth, f"margin eroded: need {need}, sized {depth}"
    refined = [
        r["vec_id"]
        for r in pq_topk_refined(codes, emb, books, q, 10, n_candidates=n).collect()
    ]
    assert refined == exact


def test_recall_fraction_decays_across_corpus_sizes(spark):
    """The committed fraction-vs-n curve: at the fine quantizer the
    minimal recall-1.0 depth grows ~sqrt(n), so the required FRACTION
    of the corpus strictly DECREASES from the n=500 tables to the
    n=2000 table — the round-7 design (constant fraction) assumed the
    opposite.  Measured over the worst of 20 query vectors per SF."""
    import numpy as np

    fracs = {}
    for path in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        e = spark.read.parquet(f"{path}/embeddings.parquet")
        books = pq_fit(e, m=16, k=256, iters=10)
        rows = sorted(
            e.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"]
        )
        E = np.stack([np.asarray(r["embedding"]) for r in rows])
        codes = {
            r["vec_id"]: r["codes"] for r in pq_encode(e, books).collect()
        }
        C = np.stack([codes[r["vec_id"]] for r in rows])
        CB = np.asarray(books)
        m, k, ds = CB.shape
        n = len(rows)
        worst = 0
        for qi in range(20):
            q = E[qi]
            exact = set(np.argsort(-(E @ q), kind="stable")[:10])
            lut = np.einsum("jkd,jd->jk", CB, q.reshape(m, ds))
            s = lut[np.arange(m)[None, :], C].sum(axis=1)
            pos = {v: i for i, v in enumerate(np.argsort(-s, kind="stable"))}
            worst = max(worst, max(pos[x] for x in exact) + 1)
        assert worst <= shortlist_for(n), (n, worst)
        fracs[n] = worst / n
    assert fracs[2000] < fracs[500], fracs  # sublinear in practice

    # one more decade, beyond the real SFs: a deterministic hard
    # augmentation of the n=2000 corpus (rotated mixtures + small
    # offsets keep near-neighbor structure non-trivial) to n=8000.
    # Measured min depth 33 -> 65 -> ~110 for 500 -> 2000 -> 8000 —
    # the ~sqrt growth regime the shortlist law assumes — with the
    # sized shortlist holding a >= 3x margin.
    e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    rows = sorted(
        e.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"]
    )
    X0 = np.stack([np.asarray(r["embedding"]) for r in rows])
    parts = [X0]
    for r in range(1, 4):
        parts.append(
            np.roll(X0, r, axis=0) * 0.6
            + np.roll(X0, 7 * r, axis=0) * 0.4
            + 0.003 * r
        )
    X = np.vstack(parts)
    n = len(X)
    books = pq_fit(
        _np_frame(spark, X), m=16, k=256, iters=10
    )
    codes = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(_np_frame(spark, X), books).collect()
    }
    C = np.stack([codes[i] for i in range(n)])
    CB = np.asarray(books)
    m, k, ds = CB.shape
    worst = 0
    for qi in range(20):
        q = X[qi]
        exact = set(np.argsort(-(X @ q), kind="stable")[:10])
        lut = np.einsum("jkd,jd->jk", CB, q.reshape(m, ds))
        s = lut[np.arange(m)[None, :], C].sum(axis=1)
        pos = {v: i for i, v in enumerate(np.argsort(-s, kind="stable"))}
        worst = max(worst, max(pos[x] for x in exact) + 1)
    assert worst * 3 <= shortlist_for(n), (n, worst, shortlist_for(n))
    assert worst / n < fracs[2000]  # the fraction keeps decaying


def _np_frame(spark, X):
    """(n, dim) float array -> (vec_id, embedding) frame."""
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )


def test_refine_switches_to_shuffle_past_broadcast_max(
    emb, fitted256, monkeypatch
):
    """Past REFINE_BROADCAST_MAX ids the refine join must not
    broadcast (broadcasts have a hard ceiling); the shuffle-hash path
    returns identical results."""
    import qurio_spark.operators.pq as pqmod
    from tools.plan_audit import audit

    books, codes = fitted256
    n = emb.count()
    q = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    want = [
        r["vec_id"]
        for r in pq_topk_refined(codes, emb, books, q, 10, n_candidates=n).collect()
    ]
    monkeypatch.setattr(pqmod, "REFINE_BROADCAST_MAX", 10)
    shuffled = pq_topk_refined(codes, emb, books, q, 10, n_candidates=n)
    assert [r["vec_id"] for r in shuffled.collect()] == want
    a = audit(shuffled)
    assert a["bhj"] == 0, a["plan"]  # no broadcast join anywhere
    assert a["bnlj"] == 0, a["plan"]


def test_packed_codes_roundtrip_and_adc_parity(emb, fitted):
    """pack -> unpack is the identity, and the packed-form ADC score
    equals the array-form ADC score bit-for-bit (same LUT, same adds,
    just shift/mask extracts instead of element_at)."""
    books, codes = fitted
    m = len(books)
    packed = codes.withColumn("packed", pq_pack_expr(F.col("codes"), m))
    rt = packed.select(
        "vec_id", "codes", pq_unpack_expr(F.col("packed"), m).alias("back")
    )
    assert rt.filter("codes <> back").count() == 0

    q = [float(x) for x in emb.filter("vec_id = 2").first()["embedding"]]
    arr_scores = {
        r["vec_id"]: r["s"]
        for r in codes.select(
            "vec_id", pq_adc_score(books, q).alias("s")
        ).collect()
    }
    packed_only = packed.select("vec_id", F.col("packed").alias("codes"))
    packed_scores = {
        r["vec_id"]: r["s"]
        for r in packed_only.select(
            "vec_id", pq_adc_score(books, q, packed=True).alias("s")
        ).collect()
    }
    assert packed_scores == arr_scores


def test_multiword_pack_roundtrip_and_adc_parity(emb, fitted256):
    """The 8-bit form (m=16, k=256 -> two 64-bit words as array<long>):
    pack -> unpack is the identity and packed ADC == array ADC
    bit-for-bit, including codes >= 128 in the top field of a word
    (sign bit set — extraction must stay unsigned)."""
    books, packed = fitted256
    codes = pq_encode(emb, books)
    m, k = 16, 256
    rt = {
        r["vec_id"]: list(r["back"])
        for r in packed.select(
            "vec_id", pq_unpack_expr(F.col("codes"), m, k).alias("back")
        ).collect()
    }
    want = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert rt == want
    assert any(c >= 128 for cs in want.values() for c in cs)  # sign-bit case real
    q = [float(x) for x in emb.filter("vec_id = 2").first()["embedding"]]
    arr_scores = {
        r["vec_id"]: r["s"]
        for r in codes.select("vec_id", pq_adc_score(books, q).alias("s")).collect()
    }
    packed_scores = {
        r["vec_id"]: r["s"]
        for r in packed.select(
            "vec_id", pq_adc_score(books, q, packed=True).alias("s")
        ).collect()
    }
    assert packed_scores == arr_scores


def test_packed_encode_matches_array_encode(emb, fitted):
    """pq_encode(packed=True) emits exactly the packed form of the
    array codes — one projection, not a different quantization."""
    books, codes = fitted
    m = len(books)
    want = {
        (r["vec_id"], r["p"])
        for r in codes.select(
            "vec_id", pq_pack_expr(F.col("codes"), m).alias("p")
        ).collect()
    }
    got = {
        (r["vec_id"], r["codes"])
        for r in pq_encode(emb, books, packed=True).collect()
    }
    assert got == want


def test_packed_index_disk_shrink(spark, emb, fitted, tmp_path):
    """Bytes-on-disk facts for the packed representation, measured on
    the codes/embedding COLUMN CHUNKS (footers dwarf 500 rows of data):

    - packed is a fixed 8 B/row (64 random bits, incompressible) —
      >= 16x smaller than the raw embedding column it replaces as the
      scan surface (measured ~46x: ~376 B/row of floats).
    - vs the array<int> form the DISK delta is small — parquet's
      dictionary/RLE encoding already bit-packs 0..15 ints to ~4 bits
      — so packed must merely never be LARGER; the packing win vs the
      array form is decode/memory width (one long vs 16 unpacked
      4-byte ints + offsets in the columnar batch), not parquet bytes.
    """
    import os

    books, codes = fitted
    arr_path, packed_path = str(tmp_path / "arr"), str(tmp_path / "packed")
    write_pq_index(codes, books, arr_path)
    write_pq_index(pq_encode(emb, books, packed=True), books, packed_path)

    def col_bytes(root, prefix):
        import pyarrow.parquet as pq

        if os.path.isfile(root):
            files = [root]
        else:
            files = [
                os.path.join(r, f)
                for r, _, fs in os.walk(root)
                for f in fs
                if f.endswith(".parquet")
            ]
        total = 0
        for path in files:
            md = pq.ParquetFile(path).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    if col.path_in_schema.startswith(prefix):
                        total += col.total_compressed_size
        return total

    packed_b = col_bytes(f"{packed_path}/codes", "codes")
    n = emb.count()
    assert packed_b / n <= 9.0  # fixed-width long + page overhead
    assert col_bytes(f"{arr_path}/codes", "codes") >= packed_b
    emb_src = emb.inputFiles()[0].removeprefix("file:")
    assert col_bytes(emb_src, "embedding") >= 16 * packed_b
    # and the packed index round-trips through read -> search identically
    codes2, books2 = read_pq_index(spark, packed_path)
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    got = [r["vec_id"] for r in pq_topk(codes2, books2, q, 10).collect()]
    want = [r["vec_id"] for r in pq_topk(codes, books, q, 10).collect()]
    assert got == want
    # and the packed index round-trips through read -> search identically
    codes2, books2 = read_pq_index(spark, packed_path)
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    got = [r["vec_id"] for r in pq_topk(codes2, books2, q, 10).collect()]
    want = [r["vec_id"] for r in pq_topk(codes, books, q, 10).collect()]
    assert got == want


def test_ivfpq_matches_label_restricted_exact(emb, fitted):
    """The composed probe (label pruning x packed ADC x exact refine)
    returns the exact dot top-10 of the probed partition — the fact
    that makes ann_ivfpq's label-restricted oracle valid."""
    books, _ = fitted
    codes = pq_encode(emb, books, keep_cols=["label"], packed=True)
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    label = int(emb.filter("vec_id = 0").first()["label"])
    part = emb.filter(F.col("label") == label)
    got = [
        r["vec_id"]
        for r in ivfpq_topk(
            codes, emb, books, q, probe_labels=[label], topk=10,
            n_candidates=part.count(),
        ).collect()
    ]
    want = [
        r["vec_id"] for r in brute_force_topk(part, q, 10, metric="dot").collect()
    ]
    assert got == want


def test_ivfpq_persisted_probe_plan(spark, emb, fitted, tmp_path):
    """Probing the persisted IVF x PQ index: the ADC stage's scan must
    carry a label PartitionFilter (coarse pruning reaches the file
    listing), stay zero-Python, and the only join is the broadcast
    refine — both compression axes visible in one physical plan."""
    from tools.plan_audit import audit

    books, _ = fitted
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, books, path)
    codes = spark.read.parquet(f"{path}/codes")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    label = int(emb.filter("vec_id = 0").first()["label"])
    a = audit(
        ivfpq_topk(
            codes, emb, books, q, probe_labels=[label], topk=10,
            n_candidates=codes.filter(F.col("label") == label).count(),
        )
    )
    assert a["partition_filters"] >= 1, a["plan"]
    assert a["python_stages"] == 0, a["plan"]
    assert a["shuffles"] == 0, a["plan"]
    assert a["bhj"] == 1 and a["smj"] == a["bnlj"] == 0, a["plan"]


def test_index_roundtrip(spark, emb, fitted, tmp_path):
    books, codes = fitted
    path = str(tmp_path / "pq_index")
    write_pq_index(codes, books, path)
    codes2, books2 = read_pq_index(spark, path)
    assert books2 == [[list(map(float, c)) for c in book] for book in books]
    assert codes2.count() == codes.count()
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    got = [r["vec_id"] for r in pq_topk(codes2, books2, q, 10).collect()]
    want = [r["vec_id"] for r in pq_topk(codes, books, q, 10).collect()]
    assert got == want


def test_adc_scan_stays_jvm_side(spark, emb, fitted, tmp_path):
    """Searching a persisted codes table is map-only JVM work: no
    Python stage, no join, no shuffle before TakeOrdered."""
    from tools.plan_audit import audit

    books, codes = fitted
    path = str(tmp_path / "pq_plan")
    write_pq_index(codes, books, path)
    codes2, books2 = read_pq_index(spark, path)
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    a = audit(pq_topk(codes2, books2, q, 10))
    assert a["python_stages"] == 0, a["plan"]
    assert a["shuffles"] == 0, a["plan"]
    assert a["smj"] == a["bhj"] == a["bnlj"] == 0, a["plan"]


class TestBatchPq:
    def test_batch_equals_per_query_refined(self, spark, emb, fitted256):
        """One Arrow scan for a query TABLE == the single-query
        refine path per query, for every codes representation."""
        books, packed = fitted256
        arr_codes = pq_encode(emb, books)
        from qurio_spark.operators.pq import pq_topk_batch

        n = emb.count()
        qrows = [
            (f"q{r['vec_id']}", list(r["embedding"]))
            for r in emb.filter(F.col("vec_id").isin([0, 3, 7])).collect()
        ]
        queries = spark.createDataFrame(
            qrows, "query_id string, qvec array<double>"
        )
        want = {}
        for qid, qv in qrows:
            want[qid] = [
                r["vec_id"]
                for r in pq_topk_refined(
                    packed, emb, books, qv, 10, n_candidates=n
                ).collect()
            ]
        for codes in (packed, arr_codes):
            got = {}
            out = pq_topk_batch(
                codes, emb, books, queries, topk=10, n_candidates=n
            )
            for r in out.collect():
                got.setdefault(r["query_id"], []).append(r["vec_id"])
            assert got == want

    def test_batch_plan_shape(self, spark, emb, fitted256, tmp_path):
        """Against a PERSISTED codes table (the serving shape): one
        Python (Arrow) stage for the ADC scan; the rest is windows +
        one refine join — no nested-loop joins."""
        from tools.plan_audit import audit

        from qurio_spark.operators.pq import pq_topk_batch

        books, packed = fitted256
        path = str(tmp_path / "batchpq")
        write_pq_index(packed, books, path)
        codes, books2 = read_pq_index(spark, path)
        queries = spark.createDataFrame(
            [("a", [0.1] * 64)], "query_id string, qvec array<double>"
        )
        a = audit(
            pq_topk_batch(codes, emb, books2, queries, 5, n_candidates=500)
        )
        assert a["python_stages"] == 1, a["plan"]
        assert a["bnlj"] == 0, a["plan"]
        assert a["shuffles"] <= 4, a["plan"]

    def test_batch_integer_query_ids(self, spark, emb, fitted256):
        """The ADC stage schema derives from the input frames: integer
        query ids work end-to-end (the hardcoded "query_id string"
        used to fail the Arrow cast)."""
        from qurio_spark.operators.pq import pq_topk_batch

        books, packed = fitted256
        n = emb.count()
        qrows = [
            (int(r["vec_id"]), list(r["embedding"]))
            for r in emb.filter(F.col("vec_id").isin([0, 7])).collect()
        ]
        queries = spark.createDataFrame(
            qrows, "query_id long, qvec array<double>"
        )
        out = pq_topk_batch(packed, emb, books, queries, topk=5, n_candidates=n)
        got = {}
        for r in out.collect():
            got.setdefault(r["query_id"], []).append(r["vec_id"])
        assert set(got) == {0, 7}
        # self is its own nearest neighbor under exact-dot refine
        assert got[0][0] == 0 and got[7][0] == 7

    def test_batch_running_shortlist_across_arrow_batches(
        self, spark, emb, fitted256
    ):
        """Tiny Arrow batches force the per-partition RUNNING top-
        shortlist merge (memory O(Q x shortlist), never O(Q x n_part))
        — results must be identical to the one-big-batch path."""
        from qurio_spark.operators.pq import pq_topk_batch

        books, packed = fitted256
        n = emb.count()
        qrows = [
            (f"q{r['vec_id']}", list(r["embedding"]))
            for r in emb.filter(F.col("vec_id").isin([0, 3, 7])).collect()
        ]
        queries = spark.createDataFrame(
            qrows, "query_id string, qvec array<double>"
        )

        def run():
            out = pq_topk_batch(
                packed, emb, books, queries, topk=10, n_candidates=n
            )
            return sorted(
                (r["query_id"], r["vec_id"], round(r["score"], 9))
                for r in out.collect()
            )

        want = run()
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        spark.conf.set(key, "7")
        try:
            assert run() == want
        finally:
            spark.conf.set(key, prev)
