"""Catalog / control-plane operators: source CRUD + status machine
(M3), failed-row quarantine with retry (M5), SQL counts (Q9), stats
fan-in (Q10), query logging (Q11), settings (Q3 backing store).

The reference keeps this state in Postgres; here it is DataFrame-backed
tables (Parquet in practice).  Every mutation is expressed as a
DataFrame-to-DataFrame transform so the caller owns persistence —
idempotent rewrites of small control tables, never row-at-a-time
updates (the Spark-native shape for catalog state; data-plane deletes
use partition overwrite, see plans/pipeline.py).
"""

from __future__ import annotations

import json
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from qurio_spark.schemas import FAILED_ROWS, QUERY_LOG, SOURCES


def _now():
    return datetime.now(timezone.utc).replace(tzinfo=None)


def new_source_row(
    url: str,
    type_: str = "web",
    name: str | None = None,
    max_depth: int = 0,
    exclusions: list[str] | None = None,
) -> dict:
    """M3 Create: identity hash = sha256(url) (source/source.go:96-98);
    initial status 'in_progress' with a depth-0 seed page implied."""
    import hashlib

    now = _now()
    return {
        "id": str(uuid.uuid4()),
        "type": type_,
        "url": url,
        "name": name or url,
        "content_hash": hashlib.sha256(url.encode()).hexdigest(),
        "body_hash": None,
        "status": "in_progress",
        "max_depth": max_depth,
        "exclusions": exclusions or [],
        "deleted_at": None,
        "created_at": now,
        "updated_at": now,
    }


def create_source(
    spark: SparkSession, sources: DataFrame, row: dict
) -> tuple[DataFrame, bool]:
    """Dedup-checked insert: EXISTS(content_hash=? AND deleted_at IS
    NULL) blocks duplicates (source/source.go:96-112, F6).  Returns
    (new_sources, created?)."""
    dup = (
        sources.filter(
            (F.col("content_hash") == row["content_hash"])
            & F.col("deleted_at").isNull()
        ).limit(1).count()
        > 0
    )
    if dup:
        return sources, False
    new = spark.createDataFrame([tuple(row[f.name] for f in SOURCES.fields)], SOURCES)
    return sources.unionByName(new), True


def list_sources(sources: DataFrame) -> DataFrame:
    """S7 List: non-deleted, newest first (source/repo.go:40-57)."""
    return sources.filter(F.col("deleted_at").isNull()).orderBy(
        F.desc("created_at")
    )


def soft_delete_source(sources: DataFrame, source_id: str) -> DataFrame:
    """M3 SoftDelete: stamp deleted_at; chunk purge is the data-plane
    partition drop handled by the pipeline (F5/M1)."""
    now = _now()
    hit = F.col("id") == source_id
    return sources.withColumn(
        "deleted_at", F.when(hit, F.lit(now)).otherwise(F.col("deleted_at"))
    ).withColumn(
        "updated_at", F.when(hit, F.lit(now)).otherwise(F.col("updated_at"))
    )


def update_source_status(sources: DataFrame, status_by_id: DataFrame) -> DataFrame:
    """M3/M6: merge derived per-source statuses (from
    crawl.source_completion) into the catalog."""
    return (
        sources.alias("s")
        .join(
            status_by_id.select(
                F.col("source_id").alias("id"), F.col("status").alias("new_status")
            ),
            "id",
            "left",
        )
        .withColumn("status", F.coalesce("new_status", "status"))
        .drop("new_status")
    )


# -- failed-row quarantine (M5) ---------------------------------------------


def quarantine_failures(
    spark: SparkSession, docs: DataFrame, handler: str = "ingestion-worker"
) -> DataFrame:
    """Failed ingestion rows -> failed_rows table (the DLQ).  Payload
    keeps the original task JSON so retry can re-run it
    (features/job/job.go:8-17, result_consumer.go:114-128)."""
    failed = docs.filter(F.col("status") == "failed")
    now = _now()
    return failed.select(
        F.expr("uuid()").alias("id"),
        "source_id",
        F.lit(handler).alias("handler"),
        F.to_json(F.struct("source_id", "url", "depth")).alias("payload"),
        F.coalesce("error", F.lit("unknown")).alias("error"),
        F.lit(0).alias("retries"),
        F.lit(now).alias("created_at"),
    )


def retry_payloads(failed_rows: DataFrame, ids: list[str] | None = None) -> list[dict]:
    """M5 retry: re-materialize original task payloads (driver-side —
    the retry list is human-scale, job/service.go:31-80)."""
    df = failed_rows if ids is None else failed_rows.filter(F.col("id").isin(ids))
    return [json.loads(r["payload"]) for r in df.select("payload").collect()]


def clear_retried(failed_rows: DataFrame, ids: list[str]) -> DataFrame:
    return failed_rows.filter(~F.col("id").isin(ids))


# -- counts / stats / logging (Q9, Q10, Q11) --------------------------------


def stats(sources: DataFrame, chunks: DataFrame, failed_rows: DataFrame) -> dict:
    """Q10 /stats fan-in: three counts in one response
    (features/stats/handler.go:40-77)."""
    return {
        "sources": sources.filter(F.col("deleted_at").isNull()).count(),
        "documents": chunks.count(),
        "failed_jobs": failed_rows.count(),
    }


class QueryLogger:
    """Q11: append-mode query log (retrieval/logger.go:13-58's JSONL,
    as a table)."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        self._rows: list[tuple] = []

    def log(self, query: str, num_results: int, latency_ms: float) -> None:
        self._rows.append((_now(), query, num_results, float(latency_ms)))

    def flush(self) -> DataFrame:
        df = self.spark.createDataFrame(self._rows, QUERY_LOG)
        if self.path:
            df.write.mode("append").parquet(self.path)
        self._rows = []
        return df


def timed(fn, *args, **kwargs):
    t0 = time.time()
    out = fn(*args, **kwargs)
    return out, (time.time() - t0) * 1000.0


def empty_failed_rows(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], FAILED_ROWS)
