"""End-to-end ingestion DAG (SURVEY §3.2 re-expressed as one batch
plan) and the search entry over the built index.

Reference topology: NSQ queues fan pages through clean -> chunk ->
embed -> store with 50-way consumers (M7).  Spark-native shape: the
queue hops collapse into stage boundaries of ONE declarative job —

    documents_raw (success rows)
      -> chunk_documents: mapInPandas over chunk_markdown,
         which cleans (F10, clean_markdown_noise), then
         chunks (T1-T4) and drops noise chunks (F9)    [map-only]
      -> contextual prefix (T5, concat exprs)          [map-only]
      -> embedder pandas UDF (T6, Arrow-batched)       [map-only]
      -> write chunks partitioned by source_id

so there is NO shuffle anywhere in ingest except the final write's
optional repartition by partition key.  Idempotent re-ingest (M1
delete-before-insert, result_consumer.go:141-147) maps to dynamic
partition overwrite: rewriting a source's partition atomically replaces
its chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from qurio_spark.functions.embedder import Embedder, HashingEmbedder
from qurio_spark.functions.text import contextual_prefix
from qurio_spark.operators.chunker import chunk_documents


def build_chunks(
    docs_raw: DataFrame,
    embedder: Embedder | None = None,
    source_names: dict[str, str] | None = None,
) -> DataFrame:
    """documents_raw -> chunks rows (schemas.CHUNKS shape).

    The contextual string (T5) feeds ONLY the embedder; stored content
    is the bare chunk (embedder_consumer.go:50-60).
    """
    embedder = embedder or HashingEmbedder()
    ok = docs_raw.filter(F.col("status") == "success")

    name_map = F.create_map(
        *[F.lit(x) for kv in (source_names or {}).items() for x in kv]
    )
    with_name = ok.withColumn(
        "source_name",
        F.coalesce(name_map[F.col("source_id")], F.col("source_id"))
        if source_names
        else F.col("source_id"),
    )

    chunked = chunk_documents(
        with_name,
        content_col="content",
        keep_cols=["source_id", "source_name", "url", "title", "path", "metadata"],
    )
    ctx = contextual_prefix(
        F.col("source_name"), F.col("title"), F.col("path"), F.col("content")
    )
    return (
        chunked.withColumn("embedding", embedder.udf()(ctx))
        .select(
            "source_id",
            "source_name",
            "url",
            "chunk_index",
            "content",
            "type",
            "language",
            "title",
            F.col("metadata.author").alias("author"),
            F.col("metadata.created_at").alias("created_at"),
            F.coalesce(F.col("metadata.pages"), F.lit(0)).alias("page_count"),
            "embedding",
        )
    )


def write_chunks(chunks: DataFrame, path: str) -> None:
    """M1/M2: idempotent store.  Dynamic partition overwrite = the
    reference's delete-chunks-then-insert per re-ingested source, as
    one atomic partition swap; at 100 TB only touched source_id
    partitions are rewritten."""
    (
        chunks.repartition("source_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source_id")
        .parquet(path)
    )


def read_chunks(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """``merge_schema=True`` is the additive-evolution read: partitions
    written before a column existed surface it as NULL — the analog of
    the reference's ensure-properties Weaviate migration
    (internal/vector/schema.go:82-99), with parquet mergeSchema doing
    the reconciliation instead of an ALTER."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def split_unchanged(
    docs_raw: DataFrame,
    prior: DataFrame,
    url_col: str = "url",
    content_col: str = "content",
) -> tuple[DataFrame, DataFrame]:
    """body_hash change detection (SURVEY §4 'cheap win'): the reference
    RECORDS page body hashes (result_consumer.go:195-198) but rewrites
    chunks unconditionally; here the hash gates the rewrite.

    ``prior``: (url_col, body_hash) from the previous ingest.  Returns
    ``(changed, unchanged)`` — ``changed`` keeps all docs_raw columns
    plus the fresh ``body_hash`` (new pages count as changed),
    ``unchanged`` is (url_col, body_hash) for pages whose content is
    byte-identical and whose chunk/embedding work can be skipped
    entirely.  One broadcast-or-shuffle hash join on the page key; the
    sha256 is computed map-side."""
    hashed = docs_raw.withColumn("body_hash", F.sha2(F.col(content_col), 256))
    joined = hashed.join(
        prior.select(url_col, F.col("body_hash").alias("_prior_hash")),
        url_col,
        "left",
    )
    changed = joined.filter(
        F.col("_prior_hash").isNull() | (F.col("_prior_hash") != F.col("body_hash"))
    ).drop("_prior_hash")
    unchanged = joined.filter(F.col("_prior_hash") == F.col("body_hash")).select(
        url_col, "body_hash"
    )
    return changed, unchanged


def apply_incremental(
    existing_chunks: DataFrame, new_chunks: DataFrame, changed_keys: DataFrame
) -> DataFrame:
    """Per-page delete-before-insert (M1, result_consumer.go:141-147)
    as a pure-frame combinator: drop the changed pages' old chunks
    (anti-join on the page key) and append their rebuilt chunks.
    Unchanged pages' rows flow through untouched — with a partitioned
    store only partitions containing changed pages get rewritten."""
    key_cols = changed_keys.columns
    return existing_chunks.join(
        changed_keys, key_cols, "left_anti"
    ).unionByName(new_chunks)


def ingest(
    spark: SparkSession,
    docs_raw: DataFrame,
    chunks_path: str,
    embedder: Embedder | None = None,
    source_names: dict[str, str] | None = None,
) -> DataFrame:
    """Full ingest: build + write + return the stored chunks."""
    chunks = build_chunks(docs_raw, embedder, source_names)
    write_chunks(chunks, chunks_path)
    return read_chunks(spark, chunks_path)
