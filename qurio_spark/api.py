"""MCP-shaped API surface (SURVEY §2.6).

A thin JSON-RPC 2.0 dispatch layer mapping the reference's four MCP
tools onto the engine (features/mcp/handler.go:100-597):

    qurio_search(query, alpha?, limit?, source_id?, filters?)
    qurio_list_sources()
    qurio_list_pages(source_id)
    qurio_read_page(url)

plus ``initialize`` / ``notifications/initialized`` / ``tools/list``
and the JSON-RPC error codes (handler.go:90-96).  The HTTP transport
(handler.go:568-597) lives in :mod:`qurio_spark.api_http` — a stdlib
``socketserver`` layer over this dispatch, exercised by a live-socket
e2e test; online serving remains a test/demo surface per BASELINE.json.

The engine serves a prepared snapshot of the chunk frame it was given:
the first search (or page read) builds ``chunks`` with each chunk's id
and BM25 term statistics (:func:`prepare_chunks`), and every search
runs against that snapshot.  Assigning a new frame to ``Engine.chunks``
releases the snapshot at the next call, which prepares the new frame.

The snapshot lives in one of two tiers, chosen once per frame by
:func:`resident_tier`:

* resident: when its Arrow size fits ``spark.driver.maxResultSize``
  (the bound Spark puts on collecting it; 0 means unlimited), the
  snapshot is collected to the driver (job ``qurio_search:snapshot``)
  as a ``resident.ResidentSnapshot``.  Searches and page reads then
  run no Spark job, with results bit-identical to the Spark tier.
* Spark: otherwise the snapshot stays a persisted DataFrame.  A search
  runs three Spark actions, none of which shuffles the corpus,
  labelled ``qurio_search:stats``, ``qurio_search:bm25_range`` and
  ``qurio_search:topk``; a page read is one job over ``chunks``.

``Engine.on_driver()`` says which tier the current ``chunks`` is on
(False before its snapshot is prepared).  The HTTP transport reads it
to choose how to run a connection: a resident search holds the GIL
from start to end, a Spark-tier search spends most of its time waiting
on the JVM with the GIL released.

Preparing logs the chosen tier, the row count and the snapshot bytes
(logger ``qurio_spark.api``, level INFO).
"""

from __future__ import annotations

import json
import logging
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from qurio_spark.functions.embedder import Embedder, HashingEmbedder
from qurio_spark.functions.jobs import job_description
from qurio_spark.operators import bm25 as bm25_op
from qurio_spark.operators.catalog import QueryLogger, list_sources
from qurio_spark.operators.hybrid import hybrid_search
from qurio_spark.operators.pages import read_page
from qurio_spark.operators.rerank import IdentityReranker, Reranker, apply_rerank
from qurio_spark.operators.resident import ResidentSnapshot, snapshot_bytes

_log = logging.getLogger(__name__)

# JSON-RPC error codes (mcp/handler.go:90-96)
ERR_PARSE = -32700
ERR_INVALID_REQUEST = -32600
ERR_METHOD_NOT_FOUND = -32601
ERR_INVALID_PARAMS = -32602
ERR_INTERNAL = -32603

PROTOCOL_VERSION = "2024-11-05"
SERVER_NAME = "qurio-spark"

TOOLS = [
    {
        "name": "qurio_search",
        "description": "Hybrid keyword+vector search over indexed chunks",
    },
    {"name": "qurio_list_sources", "description": "List indexed sources"},
    {"name": "qurio_list_pages", "description": "List pages of a source"},
    {"name": "qurio_read_page", "description": "Read a full reconstructed page"},
]


def resident_tier(spark, n_bytes: int) -> bool:
    """The tier choice: whether a snapshot of ``n_bytes`` (its Arrow
    size) is served from the driver.  The ceiling is Spark's own bound
    on collecting it, ``spark.driver.maxResultSize`` (0: unlimited)."""
    conf = spark.sparkContext.getConf().get("spark.driver.maxResultSize", "1g")
    cap = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    return cap == 0 or n_bytes <= cap


def prepare_chunks(chunks: DataFrame) -> DataFrame | ResidentSnapshot:
    """The snapshot searches run against: every chunk column (results
    and filterable metadata) plus ``chunk_id`` (``url#chunk_index``)
    and the BM25 ``tf``/``dl`` columns.

    One aggregate (job ``qurio_search:prepare``) materializes the frame,
    persisted and coalesced to the default parallelism, and measures
    its rows and Arrow bytes.  On the resident tier the frame is then
    collected (``qurio_search:snapshot``) into a ``ResidentSnapshot``
    and unpersisted; on the Spark tier, or when the collect outgrows
    ``spark.driver.maxResultSize`` after all, the persisted frame is
    returned."""
    spark = chunks.sparkSession
    prepared = (
        bm25_op.with_term_freqs(
            chunks.withColumn("chunk_id", F.concat_ws("#", "url", "chunk_index")), "content"
        )
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    with job_description(spark, "qurio_search:prepare"):
        n_rows, n_bytes = prepared.agg(
            F.count("*"), snapshot_bytes(prepared.schema)
        ).collect()[0]
    tier = "spark"
    if resident_tier(spark, n_bytes):
        try:
            with job_description(spark, "qurio_search:snapshot"):
                table = prepared.toArrow()
        except Exception as e:  # the size estimate fell short: Spark tier
            if "maxResultSize" not in str(e):
                raise
        else:
            prepared.unpersist()
            prepared = ResidentSnapshot(table, prepared)
            tier = "resident"
    _log.info("qurio_search snapshot: tier=%s rows=%d bytes=%d", tier, n_rows, n_bytes)
    return prepared


@dataclass
class Engine:
    """Bundles the engine state the tools need."""

    chunks: DataFrame
    sources: DataFrame | None = None
    pages: DataFrame | None = None
    settings: dict | None = None
    embedder: Embedder = field(default_factory=HashingEmbedder)
    reranker: Reranker = field(default_factory=IdentityReranker)
    logger: QueryLogger | None = None
    # (source frame, its prepared snapshot), built on the first call
    _prepared: tuple[DataFrame, DataFrame | ResidentSnapshot] | None = field(
        default=None, init=False, repr=False, compare=False
    )
    _prepare_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def _search_frame(self) -> DataFrame | ResidentSnapshot:
        """The prepared snapshot of ``self.chunks``.  Built once under a
        lock, so concurrent first calls share one build; rebuilt, and
        the old snapshot released, once ``chunks`` is reassigned."""
        with self._prepare_lock:
            if self._prepared is not None and self._prepared[0] is not self.chunks:
                self._release()
            if self._prepared is None:
                self._prepared = (self.chunks, prepare_chunks(self.chunks))
            return self._prepared[1]

    def on_driver(self) -> bool:
        """Whether searches of ``chunks`` run on the driver: its prepared
        snapshot exists and is resident."""
        prepared = self._prepared
        return (
            prepared is not None
            and prepared[0] is self.chunks
            and isinstance(prepared[1], ResidentSnapshot)
        )

    def _release(self) -> None:
        if self._prepared is not None and isinstance(self._prepared[1], DataFrame):
            self._prepared[1].unpersist()
        self._prepared = None

    def close(self) -> None:
        """Release the prepared snapshot; a later call prepares anew."""
        with self._prepare_lock:
            self._release()

    # -- tool implementations ------------------------------------------

    def search(
        self,
        query: str,
        alpha: float | None = None,
        limit: int | None = None,
        source_id: str | None = None,
        filters: dict | None = None,
    ) -> list[dict]:
        """qurio_search: Q1 embed -> F1/F2 filter -> Q2 hybrid -> Q4
        rerank -> Q6 title backfill (mcp/handler.go:252-339), over the
        prepared snapshot of ``chunks``."""
        t0 = time.time()
        filters = dict(filters or {})
        if source_id:  # F2 sugar (handler.go:270-275)
            filters["source_id"] = source_id
        qvec = self.embedder.embed_query(query)
        frame = self._search_frame()
        res = hybrid_search(
            frame,
            query,
            qvec,
            alpha=alpha,
            limit=limit,
            filters=filters,
            settings=self.settings,
            id_col="chunk_id",
            text_col="content",
            vec_col="embedding",
            extra_cols=["content", "source_id", "source_name", "url", "title",
                        "chunk_index", "type", "language"],
            job_label="qurio_search",
        )
        if isinstance(res, DataFrame):
            with job_description(self.chunks.sparkSession, "qurio_search:topk"):
                rows = [r.asDict() for r in res.collect()]
        else:  # a resident TopK: its rows are dicts already
            rows = res.rows
        for r in rows:
            r["score"] = float(r["score"])
        rows = apply_rerank(rows, query, self.reranker)
        if self.logger:
            self.logger.log(query, len(rows), (time.time() - t0) * 1000.0)
        return rows

    def tool_search_text(self, rows: list[dict]) -> str:
        """Result formatting (handler.go:289-326)."""
        if not rows:
            return "No results found."
        out = []
        for i, r in enumerate(rows):
            block = f"Result {i + 1} (Score: {r['score']:.2f}):\n"
            for label, key in (
                ("Title", "title"), ("Source", "source_name"), ("URL", "url"),
                ("Type", "type"), ("Language", "language"), ("SourceID", "source_id"),
            ):
                if r.get(key):
                    block += f"{label}: {r[key]}\n"
            block += f"Content:\n```\n{r['content']}\n```\n\n---\n"
            out.append(block)
        return (
            "".join(out)
            + '\nUse qurio_read_page(url="...") to read the full content of any result.\n'
        )

    # -- JSON-RPC dispatch ---------------------------------------------

    def process_request(self, req: dict) -> dict | None:
        rid = req.get("id")
        method = req.get("method")
        if req.get("jsonrpc") != "2.0" or not method:
            return _err(rid, ERR_INVALID_REQUEST, "Invalid Request")
        if method == "initialize":
            return _ok(rid, {
                "protocolVersion": PROTOCOL_VERSION,
                "capabilities": {"tools": {}},
                "serverInfo": {"name": SERVER_NAME, "version": "0.1.0"},
            })
        if method == "notifications/initialized":
            return None  # notification: no response (handler.go:118-121)
        if method == "tools/list":
            return _ok(rid, {"tools": TOOLS})
        if method != "tools/call":
            return _err(rid, ERR_METHOD_NOT_FOUND, f"Method not found: {method}")

        params = req.get("params") or {}
        name = params.get("name")
        args = params.get("arguments") or {}
        if isinstance(args, str):
            try:
                args = json.loads(args)
            except json.JSONDecodeError:
                return _err(rid, ERR_INVALID_PARAMS, "Invalid arguments")

        try:
            if name == "qurio_search":
                return self._tool_search(rid, args)
            if name == "qurio_list_sources":
                return self._tool_list_sources(rid)
            if name == "qurio_list_pages":
                return self._tool_list_pages(rid, args)
            if name == "qurio_read_page":
                return self._tool_read_page(rid, args)
        except Exception as e:  # handler returns ErrInternal on engine errors
            return _err(rid, ERR_INTERNAL, f"Tool failed: {e}")
        return _err(rid, ERR_METHOD_NOT_FOUND, f"Unknown tool: {name}")

    def _tool_search(self, rid, args):
        query = args.get("query", "")
        if not query:
            return _err(rid, ERR_INVALID_PARAMS, "Query is required")
        alpha = args.get("alpha")
        if alpha is not None and not 0.0 <= float(alpha) <= 1.0:
            return _err(rid, ERR_INVALID_PARAMS, "Alpha must be between 0.0 and 1.0")
        rows = self.search(
            query,
            alpha=alpha,
            limit=args.get("limit"),
            source_id=args.get("source_id"),
            filters={
                k: v for k, v in (args.get("filters") or {}).items()
                if isinstance(v, str)  # F1: non-strings silently dropped
            },
        )
        return _tool_text(rid, self.tool_search_text(rows))

    def _tool_list_sources(self, rid):
        if self.sources is None:
            return _tool_text(rid, "No sources configured.")
        rows = list_sources(self.sources).collect()
        if not rows:
            return _tool_text(rid, "No sources found.")
        lines = [
            f"- {r['name']} ({r['id']}): {r['url']} [{r['status']}]" for r in rows
        ]
        return _tool_text(rid, "\n".join(lines))

    def _tool_list_pages(self, rid, args):
        sid = args.get("source_id")
        if not sid:
            return _err(rid, ERR_INVALID_PARAMS, "source_id is required")
        if self.pages is None:
            return _tool_text(rid, "No pages found.")
        rows = (
            self.pages.filter(F.col("source_id") == sid)
            .orderBy("url")
            .collect()
        )
        if not rows:
            return _tool_text(rid, "No pages found.")
        lines = [f"- {r['url']} [{r['status']}] depth={r['depth']}" for r in rows]
        return _tool_text(rid, "\n".join(lines))

    def _tool_read_page(self, rid, args):
        url = args.get("url")
        if not url:
            return _err(rid, ERR_INVALID_PARAMS, "url is required")
        frame = self._search_frame()
        text = read_page(frame if isinstance(frame, ResidentSnapshot) else self.chunks, url)
        return _tool_text(rid, text if text else "No content found for this URL.")


def _ok(rid, result) -> dict:
    return {"jsonrpc": "2.0", "id": rid, "result": result}


def _err(rid, code, message) -> dict:
    return {"jsonrpc": "2.0", "id": rid, "error": {"code": code, "message": message}}


def _tool_text(rid, text: str) -> dict:
    return _ok(rid, {"content": [{"type": "text", "text": text}]})
