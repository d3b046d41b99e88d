"""Small-file compaction: rewrite a parquet dataset into target-size files.

The 100 TB failure mode this prevents: streaming ingest and per-day
pipelines produce directories with thousands of KB-scale files (one per
microbatch task). Every downstream scan then pays file-open + footer-read
+ scheduler overhead per file, and the NameNode/listing layer degrades
long before the data does. The fix is periodic compaction to files near
the scan-optimal size (128-1024 MB on object stores; small here only
because fixtures are small).

Why this shape:
- File count comes from MEASURED bytes (sum of actual file sizes via the
  `_metadata` hidden column), not a rows-based guess — compressed width
  varies 10x across schemas and a guess misses by the same factor.
- The rewrite is one `repartition(n)` — a full shuffle, deliberately:
  compaction's job is to break the correlation between historical arrival
  order and file layout. For sorted/clustered layouts, pass `sort_by` to
  get `repartitionByRange` + `sortWithinPartitions` (range-partitioned
  files => min/max footer stats become selective => downstream scans
  prune files, the poor man's Z-order on one key set).
- Partitioned datasets compact per partition directory (the unit of
  overwrite-idempotence), never across partitions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.sinks.rowgroups import bounded
from etl_from_s3_to_postgresql_template_spark.sinks.swap import recover, swap_in

__all__ = ["CompactionReport", "compact_parquet"]


@dataclass
class CompactionReport:
    files_before: int
    files_after: int
    bytes_total: int
    target_file_bytes: int


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> CompactionReport:
    """Rewrite the parquet dataset at ``path`` into ``ceil(total_bytes /
    target_file_bytes)`` files (at least 1). Returns a before/after report.

    Reads happen once: the byte total comes from the `_metadata` column of
    the same scan lineage. The rewrite goes to a sibling temp dir first and
    moves into place only after success (sinks/swap.py) — a failed
    compaction must never destroy the input."""
    root = path.rstrip("/")
    tmp, bak = root + ".compact.tmp", root + ".compact.bak"
    recover(spark, root, bak)
    df = spark.read.parquet(path)
    stats = (
        df.select(F.col("_metadata.file_path").alias("fp"), F.col("_metadata.file_size").alias("sz"))
        .groupBy("fp")
        .agg(F.first("sz").alias("sz"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("sz").alias("total_bytes"),
        )
        .collect()[0]
    )
    n_files, total_bytes = int(stats["n_files"]), int(stats["total_bytes"])
    n_out = max(1, -(-total_bytes // target_file_bytes))

    if sort_by:
        compacted = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        compacted = df.repartition(n_out)

    # explicit row-group bound (sinks/rowgroups.py): compaction exists to
    # fix layout — it must never emit a file that scans as one task
    bounded(compacted.write.mode("overwrite")).parquet(tmp)
    swap_in(spark, root, tmp, bak)

    after = (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("fp"))
        .distinct()
        .count()
    )
    return CompactionReport(
        files_before=n_files,
        files_after=int(after),
        bytes_total=total_bytes,
        target_file_bytes=target_file_bytes,
    )
