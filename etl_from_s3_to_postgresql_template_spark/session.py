"""SparkSession factory with engine defaults.

Config derives from reference behavior (SURVEY.md §4.4):

- UTC session timezone — the reference pins UTC when parsing CLI dates
  (reference etl_pipeline.py:682,690), and the DuckDB oracle compares
  timestamps as UTC-naive.
- ANSI mode off — preserves the reference's coerce-to-null semantics for
  bad casts (reference etl_pipeline.py:438, ``errors='coerce'``).
- AQE on — runtime coalescing, skew-join splitting, broadcast demotion;
  this is the knob that lets the same plans survive a 100x scale-up.
- Dynamic partition overwrite — day-level idempotent re-runs (the
  reference append-only double-loads on re-run; we fix rather than copy).
- A generated-class cache that holds the engine's warm working set
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps 100 compiled classes by default
  and evicts the least recently used; one warm ``corpus_pack`` op (the
  Bloom funnel plus the hashed CCNet buckets) cycles through ~145, so at
  the default every warm op recompiled 132–141 classes with Janino and
  handed the JIT cold code; at 2048 it compiles none. Over the 46 queries of ``bench.py`` at sf0.01 a cold
  pass compiles 802 classes; later passes compiled 1048–1059 at the
  default size and 8–16 with an unbounded cache. 2048 is a power of two
  with headroom over ~800. Keeping the classes costs less Metaspace than
  evicting them: after three such passes the driver JVM held 191.5 MB at
  2048 and 207.4 MB at 100, where each eviction is compiled again into a
  new class.
- Driver memory sized from the host (``driver_memory``): half the physical
  memory, capped at 48 GB. A fixed 48 GB let two sessions on a 16 GB host
  grow until the kernel killed one.

At 100 TB the same session settings hold except ``shuffle.partitions``
(driven by AQE's advisory partition size) and executor sizing, which are
cluster-submit concerns, not code concerns.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

__all__ = ["driver_memory", "get_spark", "s3a_conf"]

#: spark.sql.codegen.cache.maxEntries: generated classes kept compiled
#: (module docstring)
CODEGEN_CACHE_ENTRIES = 2048
#: the largest default driver heap, in MB
_MAX_DRIVER_MB = 48 * 1024


def driver_memory(env: Mapping[str, str] | None = None, phys_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEM`` if set, else half the
    host's physical memory in MB, capped at 48 GB."""
    e = os.environ if env is None else env
    if e.get("SPARK_DRIVER_MEM"):
        return e["SPARK_DRIVER_MEM"]
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys_bytes // 2 // 2**20, _MAX_DRIVER_MB)}m"


def s3a_conf(env: Mapping[str, str] | None = None) -> dict[str, str]:
    """Env-driven S3A endpoint seam, mirroring the ``JDBC_URL`` seam in
    sinks/base.py: point ``S3_ENDPOINT_URL`` at a MinIO-style object store
    and every ``s3a://`` read/write in the engine (ingest listing, parquet
    scans, sinks) runs against it UNMODIFIED — the container has no S3, so
    this is how the real S3A code path gets exercised. Uses the standard
    public names: ``S3_ENDPOINT_URL``, ``AWS_ACCESS_KEY_ID``,
    ``AWS_SECRET_ACCESS_KEY``; ``S3_PATH_STYLE_ACCESS`` defaults to true
    (MinIO's addressing) once an endpoint is set. Without
    ``S3_ENDPOINT_URL`` the dict is empty and AWS-default resolution
    (instance profile, region endpoints) applies untouched."""
    e = os.environ if env is None else env
    endpoint = e.get("S3_ENDPOINT_URL")
    if not endpoint:
        return {}
    conf = {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.path.style.access": e.get("S3_PATH_STYLE_ACCESS", "true"),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(
            endpoint.startswith("https")
        ).lower(),
    }
    if e.get("AWS_ACCESS_KEY_ID"):
        conf["spark.hadoop.fs.s3a.access.key"] = e["AWS_ACCESS_KEY_ID"]
    if e.get("AWS_SECRET_ACCESS_KEY"):
        conf["spark.hadoop.fs.s3a.secret.key"] = e["AWS_SECRET_ACCESS_KEY"]
    return conf


def get_spark(
    app_name: str = "etl_from_s3_to_postgresql_template_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local testing;
    on a real cluster, pass ``None`` with a cluster-configured
    ``spark-submit`` and the builder respects the submitted master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Fixture events.parquet stores TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read as long nanos and convert at the
        # source (sources/registry.py) — micro-truncation matches how
        # micro-resolution engines (and DuckDB) read the same file.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in s3a_conf().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
