"""The prepared-index registry: which persisted index a query reads,
and whether the query may build it.

An index is built once per corpus version and many queries are served
from it.  ``prepare_indexes`` builds every kind in ``KINDS`` (bench.py
calls it outside the timed region) and opens each once: a serving
system keeps the handle (a DataFrame over the persisted layout plus
metadata held in this process, such as the IVF codebook), so no query
pays the parquet-footer reads again.  A query asks for an index in
one of two ways:

- ``prepared``: the handle when this process prepared that kind, else
  ``None`` and the caller builds in-DAG.  A correctness run that never
  calls ``prepare_indexes`` keeps these queries on their in-DAG plans;
  the builds are deterministic (md5-seeded k-means, hash-sampled PQ fit,
  md5 term buckets), so both paths return the same rows.
- ``handle``: builds and persists on first use, then opens once — for
  the queries whose point is the persisted layout (``bm25_prebuilt``,
  ``bm25_blockmax``, ``lsh_prebuilt``, ``lsh_multiprobe``).

BM25 has two kinds because its statistics (df/N/avgdl) are frozen over
the scored corpus: the pure-keyword queries score ``documents``, the
hybrid family scores documents JOIN embeddings, and at sf0.1 those
differ (5000 vs 2000 docs) — one shared index would silently change
hybrid scores.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import functions as F

from qurio_spark.operators import bm25 as bm25_op
from qurio_spark.operators.dedup import (
    minhash_signatures,
    shingle_docs,
    simhash64,
)
from qurio_spark.operators.similarity import (
    ivf_build,
    read_ivf_index,
    read_lsh_index,
    write_ivf_index,
    write_lsh_index,
)

from .common import _docs_with_vecs, _qvec, _t


def _build_bm25_documents(spark, sf_dir, path):
    corpus = _t(spark, sf_dir, "documents")
    bm25_op.write_index(bm25_op.build_index(corpus), path)


def _build_bm25_joined(spark, sf_dir, path):
    corpus = _docs_with_vecs(spark, sf_dir).select("doc_id", "text")
    bm25_op.write_index(bm25_op.build_index(corpus), path)


def _build_ivf(spark, sf_dir, path):
    emb = _docs_with_vecs(spark, sf_dir).select("doc_id", "embedding")
    # k=16: finer codebook than the in-DAG default (8) — per-query
    # probe fraction drops to 3/16 and the probed-label union stays
    # well under the full corpus; verified recall 1.0 against the
    # dense oracle at sf0.001/0.01/0.1
    labeled, centroids = ivf_build(
        emb, k=16, iters=3, id_col="doc_id", fit_sample_mod=4
    )
    write_ivf_index(labeled, centroids, path)


def _open_ivf(spark, path):
    """(labeled, centroids, codebook rows); the codebook (k x dim
    floats) is held in this process — it's index metadata, the moral
    equivalent of BM25's 1-row stats."""
    labeled, centroids = read_ivf_index(spark, path)
    codebook = [
        (int(r["label"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()
    ]
    return labeled, centroids, codebook


def _build_dedup(spark, sf_dir, path):
    """The dedup signature tables (simhash fingerprints, minhash
    signatures, 3-gram shingles)."""
    d = _t(spark, sf_dir, "documents")
    simhash64(d).write.mode("overwrite").parquet(f"{path}/simhash")
    minhash_signatures(d, num_perm=4).write.mode("overwrite").parquet(
        f"{path}/minhash"
    )
    shingle_docs(d, n=3).write.mode("overwrite").parquet(f"{path}/shingles")


def _open_dedup(spark, path):
    return {
        t: spark.read.parquet(f"{path}/{t}")
        for t in ("simhash", "minhash", "shingles")
    }


def _build_lsh(spark, sf_dir, path):
    emb = _t(spark, sf_dir, "embeddings")
    write_lsh_index(emb, path, dim=len(_qvec(spark, sf_dir)), n_planes=3)


def _build_pq(spark, sf_dir, path):
    """ONE IVF x PQ index — packed codes partitioned by the embeddings
    table's coarse label, codebooks alongside — serves all three PQ
    queries: ann_pq and batch_ann_pq scan every label directory (plain
    PQ), ann_ivfpq prunes to the probe labels."""
    from qurio_spark.operators.pq import pq_fit, write_ivfpq_index

    emb = _t(spark, sf_dir, "embeddings")
    write_ivfpq_index(emb, pq_fit(emb, m=16, k=256, iters=10), path)


def _open_pq(spark, path):
    """(codes, codebooks, total_n, per_label_counts); the counts are
    index metadata the adaptive shortlist sizing needs, computed once
    at open instead of per query."""
    from qurio_spark.operators.pq import read_pq_index

    codes, books = read_pq_index(spark, path)
    counts = {
        int(r["label"]): int(r["n"])
        for r in codes.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    return codes, books, sum(counts.values()), counts


class Kind(NamedTuple):
    build: Callable  # (spark, sf_dir, path): write the index under path
    open: Callable  # (spark, path) -> the handle queries read


KINDS: dict[str, Kind] = {
    "bm25_documents": Kind(_build_bm25_documents, bm25_op.read_index),
    "bm25_joined": Kind(_build_bm25_joined, bm25_op.read_index),
    "ivf": Kind(_build_ivf, _open_ivf),
    "dedup": Kind(_build_dedup, _open_dedup),
    "lsh": Kind(_build_lsh, read_lsh_index),
    "pq": Kind(_build_pq, _open_pq),
}

# Both keyed by (kind, sf_dir): where each index was persisted, and its
# opened handle.
_DIRS: dict[tuple[str, str], str] = {}
_HANDLES: dict[tuple[str, str], object] = {}


def handle(spark, sf_dir: str, kind: str):
    """The opened ``kind`` index over ``sf_dir``, built and persisted
    on first use."""
    key = (kind, sf_dir)
    if key not in _HANDLES:
        if key not in _DIRS:
            path = tempfile.mkdtemp(prefix=f"qurio-{kind}-idx-")
            KINDS[kind].build(spark, sf_dir, path)
            _DIRS[key] = path
        _HANDLES[key] = KINDS[kind].open(spark, _DIRS[key])
    return _HANDLES[key]


def prepared(spark, sf_dir: str, kind: str):
    """The opened ``kind`` index if this process prepared it, else
    ``None`` (the caller builds in-DAG)."""
    return handle(spark, sf_dir, kind) if (kind, sf_dir) in _DIRS else None


def prepare_indexes(spark, sf_dir: str) -> None:
    """Build and open every index kind over ``sf_dir``."""
    for kind in KINDS:
        handle(spark, sf_dir, kind)
