"""Driver-resident search tier: the serving snapshot held in NumPy
arrays on the driver and scored there, with no Spark job.

A ``qurio_search`` over a few thousand chunks spends nearly all of its
Spark-path time on fixed job overhead and per-query code generation;
the scoring itself is microseconds of arithmetic.  So below a memory
ceiling the serving engine (``api.Engine``) collects its prepared
snapshot once (``DataFrame.toArrow``) and keeps it here: every column
of the chunk frame, the BM25 ``dl`` per chunk, the embeddings as a
float64 matrix, and the ``tf`` maps as a term -> (row, tf) posting
list.  ``hybrid.hybrid_search`` and ``pages.read_page`` accept the
snapshot in place of the DataFrame.

The driver kernel (:meth:`ResidentSnapshot.top_k`) is bit-identical to
the Spark path of ``hybrid_search``: the same candidate statistics (N,
integer dl sum / count, df over the F1 candidates), and the same
floating-point operations in the same order as ``bm25.impact``,
``bm25.score_expr`` (terms in sorted order, added one at a time),
``vector.dot`` / ``vector.norm`` (one dimension at a time, float32
widened to float64) and ``hybrid._minmax``, with Spark's ``log``
(``numeric.strict_log``).  No BLAS product or pairwise ``np.sum``
touches a score, as either would reassociate the sums.  A search the
snapshot cannot answer exactly — a filter on a column that is not a
string column here, or a query vector of another dimension than the
stored embeddings — runs on the Spark path over ``frame``.

What does not depend on the query is computed once, when the snapshot
is built: the unfiltered ``avgdl``, each posting's ``dl`` and its
unfiltered BM25 impact (its term's idf over all rows — one vectorised
``strict_log`` over the vocabulary — times the ``bm25.impact`` factor,
the same operations in the same order), each row's embedding norm, and
whether every stored embedding value is finite.  An unfiltered search
then only adds each matched term's span of impacts into the BM25
column, in sorted term order.  A filtered search has its own N, avgdl
and dfs, so it scores its candidates' postings itself, with one
vectorised ``strict_log`` over its matched terms' dfs.  A string
filter compares integer codes, built per column on its first use, with
one ``==``.  The kernel then keeps each element's operations and their
order, and only drops work whose result is known: an unfiltered search
indexes no candidate copy of any array; when every stored value is
finite, the dot product skips the query's zero dimensions (the sum
starts at +0.0 and never becomes -0.0, so adding ``x * 0.0`` cannot
change it); and the top-k sorts only the rows whose key reaches the
k-th largest (ties included), found with ``np.partition``.

The top-k comes back as a :class:`TopK` of plain dicts (``rows``), the
shape the serving engine formats; its ``collect()`` builds ``Row``s
from them, as a DataFrame's would be.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, Row, functions as F
from pyspark.sql import types as T

from qurio_spark.functions.numeric import strict_log
from qurio_spark.operators.bm25 import B, K1, tokenize_query
from qurio_spark.operators.pages import READ_PAGE_CHUNK_LIMIT

#: Arrow byte widths of the fixed-width Spark types (others: 8).
_WIDTH = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
}


def _arrow_bytes(c: Column, t: T.DataType) -> Column:
    """Approximate Arrow size of one value: data plus 4-byte offsets
    for variable-width values, validity bits ignored."""
    if isinstance(t, (T.StringType, T.BinaryType)):
        return F.coalesce(F.octet_length(c), F.lit(0)).cast("long") + 4
    if isinstance(t, T.ArrayType):
        if type(t.elementType) in _WIDTH:
            each = F.size(c) * _WIDTH[type(t.elementType)]
        else:
            each = F.aggregate(
                c, F.lit(0).cast("long"), lambda acc, x: acc + _arrow_bytes(x, t.elementType)
            )
        return F.coalesce(each.cast("long"), F.lit(0).cast("long")) + 4
    if isinstance(t, T.MapType):
        each = F.aggregate(
            F.map_entries(c), F.lit(0).cast("long"),
            lambda acc, e: acc + _arrow_bytes(e["key"], t.keyType)
            + _arrow_bytes(e["value"], t.valueType),
        )
        return F.coalesce(each, F.lit(0).cast("long")) + 4
    return F.lit(_WIDTH.get(type(t), 8)).cast("long")


def snapshot_bytes(schema: T.StructType) -> Column:
    """Aggregate: the approximate Arrow size of a frame with ``schema``,
    i.e. of what ``toArrow`` would ship to the driver."""
    row = F.lit(0).cast("long")
    for f in schema.fields:
        row = row + _arrow_bytes(F.col(f"`{f.name}`"), f.dataType)
    return F.coalesce(F.sum(row), F.lit(0).cast("long"))


class TopK:
    """A top-k computed on the driver: ``rows`` holds each row as a
    dict, and ``collect()``, the one DataFrame method the search callers
    use, gives them as ``Row``s."""

    def __init__(self, rows: list[dict]):
        self.rows = rows

    def collect(self) -> list[Row]:
        return [Row(**r) for r in self.rows]


def _minmax(x: np.ndarray, lo: float, hi: float) -> np.ndarray:
    """``hybrid._minmax`` over an array: constant -> 0."""
    return (x - lo) / (hi - lo) if hi > lo else np.zeros_like(x)


def _impacts(idf, tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Each posting's ``bm25.impact``: the operations of
    ``bm25.score_expr``, in its order."""
    return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _avgdl(dl: np.ndarray, valid: np.ndarray) -> float:
    """Spark's ``avg(dl)`` over rows: the integer sum over the count."""
    return int(dl[valid].sum()) / int(valid.sum())


class ResidentSnapshot:
    """The prepared chunk frame as driver arrays (module doc).

    ``table``: the collected frame, carrying ``tf`` / ``dl``
    (``bm25.with_term_freqs``), ``id_col`` and ``vec_col``.  ``frame``:
    the same rows as a DataFrame, which serves the searches this
    snapshot cannot answer exactly."""

    def __init__(self, table: pa.Table, frame, id_col: str = "chunk_id",
                 vec_col: str = "embedding"):
        self.frame = frame
        self.id_col, self.vec_col = id_col, vec_col
        self.n = n = table.num_rows
        skip = {"tf", "dl", vec_col}
        self.values = {
            name: table.column(name).to_pylist() for name in table.column_names
            if name not in skip
        }
        self.string_cols = {
            name for name in self.values if pa.types.is_string(table.schema.field(name).type)
        }
        # column -> (value -> code, each row's code), built on first use
        self._codes: dict[str, tuple[dict, np.ndarray]] = {}
        ids = self.values[id_col]
        order = sorted(range(n), key=lambda i: (ids[i] is not None, ids[i] or ""))
        self.id_rank = np.empty(n, dtype=np.int64)
        self.id_rank[order] = np.arange(n)

        dl = table.column("dl").combine_chunks()
        self.dl_valid = ~dl.is_null().to_numpy(zero_copy_only=False)
        self.dl = pc.fill_null(dl, 0).to_numpy().astype(np.int64)
        self.avgdl = _avgdl(self.dl, self.dl_valid) if self.dl_valid.any() else None
        self._postings(table.column("tf").combine_chunks())
        self._embeddings(table.column(vec_col).combine_chunks())
        self._pages()

    def _postings(self, tf: pa.MapArray) -> None:
        """term -> (rows, tf, dl) as one CSR: ``term_ids[t]`` indexes
        ``post_off``, whose span selects ``post_rows`` / ``post_tf`` /
        ``post_dl`` / ``post_impact``, each posting's BM25 over all rows
        (its term's idf over all rows and the unfiltered ``avgdl``)."""
        off = tf.offsets.to_numpy()
        parent = np.repeat(np.arange(self.n), np.diff(off))
        keep = ~tf.is_null().to_numpy(zero_copy_only=False)[parent]
        keys = pc.dictionary_encode(tf.keys.slice(off[0], off[-1] - off[0]))
        tid = keys.indices.to_numpy()[keep]
        tfs = tf.items.slice(off[0], off[-1] - off[0]).to_numpy()[keep]
        by_term = np.argsort(tid, kind="stable")
        terms = keys.dictionary.to_pylist()
        self.term_ids = dict(zip(terms, range(len(terms))))
        self.post_off = np.concatenate(
            ([0], np.cumsum(np.bincount(tid, minlength=len(terms))))
        )
        self.post_rows = parent[keep][by_term]
        self.post_tf = tfs[by_term].astype(np.float64)
        self.post_dl = self.dl[self.post_rows].astype(np.float64)
        counts = np.diff(self.post_off)
        df = counts.astype(np.float64)
        idf = strict_log(1.0 + (float(self.n) - df + 0.5) / (df + 0.5))
        if self.avgdl is None:  # no row has a dl, so no row has a term
            self.post_impact = np.zeros(len(self.post_rows))
        else:
            self.post_impact = _impacts(
                np.repeat(idf, counts), self.post_tf, self.post_dl, self.avgdl
            )

    def _embeddings(self, emb: pa.ListArray) -> None:
        """``emb_t`` (dim x n float64) and each row's ``emb_norm``, summed
        one dimension at a time as ``vector.norm`` does; ``emb_live``:
        a valid row of nonzero norm; ``finite``: every stored value is
        finite.  ``dim`` is None when the rows' lengths differ or an
        element is NULL (then no search is served here)."""
        lens = pc.fill_null(pc.list_value_length(emb), -1).to_numpy()
        self.emb_valid = lens >= 0
        flat = pc.list_flatten(emb)
        dims = set(lens[self.emb_valid].tolist())
        self.dim, self.finite = None, False
        if len(dims) > 1 or flat.null_count:
            return
        self.dim = dims.pop() if dims else 0
        mat = np.zeros((self.n, self.dim), dtype=np.float64)
        mat[self.emb_valid] = flat.to_numpy().reshape(int(self.emb_valid.sum()), self.dim)
        self.emb_t = np.ascontiguousarray(mat.T)
        self.finite = bool(np.isfinite(self.emb_t).all())
        acc = np.zeros(self.n)
        for x in self.emb_t:
            acc = acc + x * x
        self.emb_norm = np.sqrt(acc)
        self.emb_live = self.emb_valid & (self.emb_norm > 0)

    def _pages(self) -> None:
        """url -> row indices by ``chunk_index`` (the first
        READ_PAGE_CHUNK_LIMIT), the order ``pages.read_page`` reads."""
        urls, idx = self.values.get("url"), self.values.get("chunk_index")
        self.pages: dict[str, list[int]] = {}
        if urls is None or idx is None:
            return
        for i in range(self.n):
            if urls[i] is not None:
                self.pages.setdefault(urls[i], []).append(i)
        for u, rows in self.pages.items():
            rows.sort(key=lambda i: (idx[i] is not None, idx[i] or 0))
            del rows[READ_PAGE_CHUNK_LIMIT:]

    def page_rows(self, url: str, cols: list[str]) -> list[tuple]:
        """The ``cols`` of ``url``'s chunks in ``chunk_index`` order."""
        vals = [self.values[c] for c in cols]
        return [tuple(v[i] for v in vals) for i in self.pages.get(url, [])]

    def serves(self, filters: dict | None, query_vec, id_col: str, vec_col: str,
               cols: list[str]) -> bool:
        """Whether :meth:`top_k` answers this search exactly."""
        return (
            self.dim == len(query_vec)
            and (id_col, vec_col) == (self.id_col, self.vec_col)
            and all(c in self.values for c in cols)
            and all(
                k in self.string_cols for k, v in (filters or {}).items() if isinstance(v, str)
            )
        )

    def _equals(self, col: str, value: str) -> np.ndarray:
        """The rows whose string ``col`` equals ``value``."""
        if col not in self._codes:
            index: dict = {}
            codes = [index.setdefault(v, len(index)) for v in self.values[col]]
            self._codes[col] = (index, np.array(codes, dtype=np.int64))
        index, codes = self._codes[col]
        return codes == index.get(value, -1)

    def top_k(self, query_text: str, query_vec, a: float, k: int,
              filters: dict | None, cols: list[str]) -> TopK:
        """``hybrid_search``'s top-k on the driver: rows of (``id_col``,
        bm25_norm, vec_norm, score, ``cols``...).  Unfiltered, the
        candidates are all rows and every array is read in place."""
        mask = None
        for c, v in (filters or {}).items():
            if isinstance(v, str):
                hit = self._equals(c, v)
                mask = hit if mask is None else mask & hit
        cand = None if mask is None else np.flatnonzero(mask)
        size = self.n if cand is None else len(cand)
        if not size:
            return TopK([])

        def at(x: np.ndarray) -> np.ndarray:
            """``x`` over the candidates."""
            return x if cand is None else x[cand]

        terms = [
            tid for tid in map(self.term_ids.get, sorted(set(tokenize_query(query_text))))
            if tid is not None
        ]
        bm25 = np.zeros(self.n)
        if mask is None:
            for tid in terms:
                span = slice(self.post_off[tid], self.post_off[tid + 1])
                bm25[self.post_rows[span]] += self.post_impact[span]
        else:
            matched = []
            for tid in terms:
                span = slice(self.post_off[tid], self.post_off[tid + 1])
                rows = self.post_rows[span]
                hit = mask[rows]
                if hit.any():
                    matched.append((rows[hit], self.post_tf[span][hit], self.post_dl[span][hit]))
            if matched:
                avgdl = _avgdl(self.dl[cand], self.dl_valid[cand])
                df = np.array([float(len(rows)) for rows, *_ in matched])
                idf = strict_log(1.0 + (float(size) - df + 0.5) / (df + 0.5))
                for (rows, tf, dl), w in zip(matched, idf):
                    bm25[rows] += _impacts(w, tf, dl, avgdl)
        bm25 = at(bm25)

        q = [float(v) for v in query_vec]
        qq = 0.0
        for v in q:
            qq = qq + v * v
        qn = math.sqrt(qq)
        # x * 0.0 is +-0.0 for a finite x, which leaves the sum as it is
        dims = [d for d, v in enumerate(q) if v != 0.0] if self.finite else range(len(q))
        en = at(self.emb_norm)
        live = at(self.emb_live) & (qn > 0)
        dot = np.zeros(size)
        with np.errstate(divide="ignore", invalid="ignore"):
            for d in dims:
                dot += at(self.emb_t[d]) * q[d]
            cos = np.where(live, dot / (en * qn), 0.0)

        bn = _minmax(bm25, bm25.min(), bm25.max())
        vn = _minmax(cos, cos.min(), cos.max())
        score = a * vn + (1.0 - a) * bn
        key = -np.floor(score * 1e6 + 0.5)  # -stable_round(score, 6), unscaled
        rank = at(self.id_rank)
        if k < size and not np.isnan(key).any():
            # every row whose key reaches the k-th, ties with it included
            near = np.flatnonzero(key <= np.partition(key, k - 1)[k - 1])
            top = near[np.lexsort((rank[near], key[near]))[:k]]
        else:
            top = np.lexsort((rank, key))[:k]
        picked = top if cand is None else cand[top]
        ids = self.values[self.id_col]
        extra = [(c, self.values[c]) for c in cols]
        out = []
        for i, b, v, sc in zip(picked.tolist(), bn[top].tolist(), vn[top].tolist(),
                               score[top].tolist()):
            row = {self.id_col: ids[i], "bm25_norm": b, "vec_norm": v, "score": sc}
            for c, vals in extra:
                row[c] = vals[i]
            out.append(row)
        return TopK(out)
