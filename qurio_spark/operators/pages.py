"""Page reconstruction (operator Q5, ``qurio_read_page``).

The reference fetches all chunks ``where url == X`` ordered by
``chunkIndex`` (limit 1000) and stitches them back into one document,
giving code chunks a ``--- Code (lang) ---`` header
(retrieval/service.go:139-151, store.go:311-405, mcp/handler.go:490-545).

Spark shape: groupBy(page) + collect_list(struct(order, content)) +
array_sort + concat — one shuffle keyed by the page, each group small
(<= 1000 chunks by the reference's own limit), so no skew concern.

``read_page`` reads one page from a chunk DataFrame (a filtered,
ordered, limited collect: one Spark job) or from the serving engine's
driver-resident snapshot (``resident.ResidentSnapshot``, which keeps
each URL's rows in ``chunk_index`` order: no Spark job).  Both go
through one formatter, :func:`format_page`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: store.go:334 — page reconstruction reads at most 1000 chunks.
READ_PAGE_CHUNK_LIMIT = 1000


def reconstruct_pages(
    chunks: DataFrame,
    page_col: str = "url",
    order_col: str = "chunk_index",
    content_col: str = "content",
    separator: str = "\n\n",
) -> DataFrame:
    """-> (page, n_chunks, full_text): every page stitched from its
    chunks in ``order_col`` order.  Oracle-checkable twin of read_page
    (plain separator join)."""
    return (
        chunks.groupBy(F.col(page_col).alias("page"))
        .agg(
            F.count("*").alias("n_chunks"),
            F.array_sort(
                F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(content_col).alias("c")))
            ).alias("parts"),
        )
        .select(
            "page",
            "n_chunks",
            F.array_join(F.transform("parts", lambda s: s["c"]), separator).alias(
                "full_text"
            ),
        )
    )


def read_page(
    chunks,
    url: str,
    url_col: str = "url",
    order_col: str = "chunk_index",
    content_col: str = "content",
    type_col: str = "type",
    lang_col: str = "language",
) -> str:
    """Single-page reconstruction with the reference's code-chunk
    formatting (:func:`format_page`).

    ``chunks``: a chunk DataFrame (the per-URL filter is
    partition-prunable when chunks are partitioned by source) or a
    ``ResidentSnapshot``, whose page index is keyed by ``url`` and
    ordered by ``chunk_index``."""
    cols = [content_col, type_col, lang_col]
    if not isinstance(chunks, DataFrame):
        if (url_col, order_col) != ("url", "chunk_index"):
            raise ValueError("a resident snapshot indexes pages by url and chunk_index")
        return format_page(chunks.page_rows(url, cols))
    rows = (
        chunks.filter(F.col(url_col) == url)
        .orderBy(F.asc(order_col))
        .limit(READ_PAGE_CHUNK_LIMIT)
        .select(*cols)
        .collect()
    )
    return format_page(tuple(r) for r in rows)


def format_page(rows) -> str:
    """(content, type, language) rows, in page order -> the page text
    (mcp/handler.go:490-545): code/config/cmd/api chunks are introduced
    by ``--- Code (lang) ---`` headers, chunks are joined by a blank
    line."""
    parts = []
    for content, kind, lang in rows:
        if kind in ("code", "config", "cmd", "api"):
            parts.append(f"--- Code ({lang or kind}) ---\n{content}")
        else:
            parts.append(content)
    return "\n\n".join(parts)
