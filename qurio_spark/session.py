"""SparkSession bootstrap.

Replaces the reference's process topology (Go API + Python workers + NSQ +
Weaviate + Postgres, docker-compose.yml:1-120) with a single Spark app.
Concurrency knobs in the reference (50-way consumers, 8-way crawl
semaphore — internal/config/config.go:32, ingestion-worker/config.py:11)
map to Spark task parallelism; we tune the session for that instead.

Scale posture (targets a 1000-executor cluster on ~100 TB even though
tests run local[32]):
  - AQE on, incl. skew-join handling and partition coalescing, so runtime
    stats re-plan shuffles instead of us hand-tuning them per dataset.
  - Arrow enabled for the few pandas-UDF paths (embedder, chunker) so
    Python exchange is columnar, never row-at-a-time pickling.
  - shuffle partitions default to cluster parallelism locally; on a real
    cluster AQE coalesces, so a high initial number is safe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Environment knobs honored by the driver harness.
ENV_CPUS = "SPARK_GRAFT_CPUS"
ENV_SF_DIR = "SPARK_GRAFT_SF_DIR"

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

#: The directory holding the ``qurio_spark`` package.  Python workers
#: import the engine's UDF code from it, whatever the driver's working
#: directory is.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get(ENV_CPUS, "0") or 0) or (os.cpu_count() or 8)


def get_spark(
    app_name: str = "qurio-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Every config here is cluster-safe: nothing pins local mode except the
    master default, which callers override in production.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle coalescing + skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Columnar Python exchange for pandas UDFs (embedder/chunker).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Keep scan partitions memory-bounded at high SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dims (nation/region/settings/query terms)
        # should always broadcast; 64 MB is safe with 4 GB+ executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    # executors import qurio_spark for pandas/Arrow UDFs: put the
    # package's parent first on their PYTHONPATH
    pythonpath = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, pythonpath) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def sf_dir() -> str:
    """Scale-factor data directory the driver points us at."""
    return os.environ.get(ENV_SF_DIR, DEFAULT_SF_DIR)
