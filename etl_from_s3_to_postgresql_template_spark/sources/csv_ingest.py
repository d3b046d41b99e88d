"""CSV/CSV.gz ingest source: listing, filename-date pruning, scan.

Replaces the reference's LIST -> regex-filter -> per-file download ->
pandas-read pipeline (reference ``etl_pipeline.py:287-406``) with:

- **Listing** (S1): driver-side enumeration of (path, mtime, size). On a real
  deployment this is the Hadoop FileSystem API against ``s3a://bucket/prefix``
  (the S3A connector lists via the same paginated ListObjectsV2 the reference
  calls through boto3); locally it walks the filesystem. Listing stays on the
  driver deliberately — it is metadata, and pruning *before* the scan is the
  reference's one real optimization (prune-before-read,
  ``etl_pipeline.py:314-324``), which we preserve exactly.
- **Pruning** (S6/F1): filter the path list by filename-extracted date using
  the same pattern library the in-plan expressions use. Files never read =
  the cheapest possible predicate pushdown. At 100 TB with a
  ``dt=YYYY-MM-DD/`` layout this becomes Catalyst partition pruning instead;
  both paths are supported.
- **Scan** (S3/S4/S5): one ``spark.read.csv`` over the pruned path list.
  Hadoop auto-decompresses ``.gz`` by extension; the reference's temp-file
  download dance (S2, ``etl_pipeline.py:359-365``) disappears — executors
  stream splits directly. Schema is either inferred (reference parity:
  ``pd.read_csv(low_memory=False)``, ``etl_pipeline.py:371,374``) or an
  explicit StructType (production mode — one less full pass over the data).

Scale note: a ``.csv.gz`` file is not splittable — one file = one task. The
reference processed files serially; here a day of N files runs N-wide. For
100 TB, prefer uncompressed/zstd-seekable CSV or convert to parquet on first
touch.
"""

from __future__ import annotations

import datetime as dt
import glob as _glob
import os
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_from_s3_to_postgresql_template_spark.functions.dates import extract_date_str_col

__all__ = [
    "FileInfo",
    "list_files",
    "probe_headers",
    "prune_paths_by_date",
    "read_csv_auto",
    "file_listing_df",
]

CSV_SUFFIXES = (".csv", ".csv.gz")


@dataclass(frozen=True)
class FileInfo:
    path: str
    mtime: dt.datetime
    size: int

    @property
    def name(self) -> str:
        return os.path.basename(self.path)


def list_files(
    root: str, pattern: str = "*", spark: SparkSession | None = None
) -> list[FileInfo]:
    """Enumerate files under ``root`` (S1).

    Scheme-qualified roots (``s3a://bucket/prefix``, ``hdfs://``,
    ``file://``) go through the Hadoop FileSystem ``globStatus`` API — the
    S3A connector lists via the same paginated ListObjectsV2 the reference
    calls through boto3 (``etl_pipeline.py:287-302``) — and need ``spark``
    for the JVM gateway. Bare local paths walk the filesystem directly.
    Both branches return identical (path, mtime, size) tuples, which is the
    whole point: callers never know which listing ran."""
    if "://" in root:
        if spark is None:
            raise ValueError(f"listing {root!r} requires a SparkSession for the Hadoop FS API")
        return _list_files_hadoop(spark, root, pattern)
    out: list[FileInfo] = []
    for p in sorted(_glob.glob(os.path.join(root, pattern))):
        if os.path.isfile(p):
            st = os.stat(p)
            out.append(
                FileInfo(p, dt.datetime.fromtimestamp(st.st_mtime, tz=dt.timezone.utc), st.st_size)
            )
    return out


def _list_files_hadoop(spark: SparkSession, root: str, pattern: str) -> list[FileInfo]:
    """Hadoop FileSystem globStatus listing (driver-side metadata, same as
    the reference's paginated LIST — prune-before-read needs the names on
    the driver either way)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    glob_path = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + pattern)
    fs = glob_path.getFileSystem(hconf)
    statuses = fs.globStatus(glob_path)
    out: list[FileInfo] = []
    for st in statuses or []:
        if st.isFile():
            out.append(
                FileInfo(
                    st.getPath().toString(),
                    dt.datetime.fromtimestamp(
                        st.getModificationTime() / 1000.0, tz=dt.timezone.utc
                    ),
                    st.getLen(),
                )
            )
    return sorted(out, key=lambda f: f.path)


def _extract_date_driver(spark: SparkSession, names: list[str]) -> list[str | None]:
    """Run the pattern cascade over a (small) list of filenames.

    Uses the exact same Column expressions as the in-plan path so driver-side
    pruning and in-plan filtering can never disagree. A listing is metadata
    (thousands to millions of rows, not billions), so one local job is fine.
    """
    if not names:
        return []
    df = spark.createDataFrame([Row(fn=n) for n in names])
    rows = df.select(extract_date_str_col("fn").alias("d")).collect()
    return [r["d"] for r in rows]


def prune_paths_by_date(
    spark: SparkSession, files: list[FileInfo], day: str
) -> list[FileInfo]:
    """Prune-before-read (S6/F1): keep files whose filename date == day."""
    dates = _extract_date_driver(spark, [f.name for f in files])
    return [f for f, d in zip(files, dates) if d == day]


def probe_headers(
    spark: SparkSession, files: list[FileInfo], on_error: str = "fail"
) -> tuple[list[tuple[str, list[FileInfo]]], list[FileInfo]]:
    """Group files by their header line, reading headers on EXECUTORS.

    Each file's first line comes from a ``spark.read.text(path).head(1)``
    job: LocalLimit(1) short-circuits the scan after the first row of the
    first split, so only the leading block of each file moves — never the
    file. Jobs are submitted concurrently from a thread pool (Spark's
    scheduler interleaves them), so wall-clock is O(files / parallelism)
    with zero driver file I/O and zero driver GET requests — the reference
    opened every object on the driver (and a driver-side loop is the one
    thing that cannot scale past ~10^5 objects).

    ``on_error='skip'``: unreadable files (bad gzip, encoding, truncation)
    are returned separately instead of failing the day — the reference's
    skip-and-continue (``etl_pipeline.py:404-406``), but *counted*, not
    silent. Returns ([(header, files)], skipped).
    """
    from concurrent.futures import ThreadPoolExecutor

    def head(fi: FileInfo) -> str:
        rows = spark.read.text(fi.path).head(1)
        header = rows[0]["value"] if rows else ""
        if "�" in header:
            # text source replaces undecodable bytes instead of raising; a
            # replacement char in a supposed CSV header = corrupt input.
            # Applies to plain .csv too — the reference opened every file
            # with strict utf-8 (etl_pipeline.py:368-374), so undecodable
            # plain CSVs failed there as well; grouping them under a
            # mojibake header would silently load garbage columns.
            raise ValueError(f"undecodable header in {fi.path}")
        return header

    groups: dict[str, list[FileInfo]] = defaultdict(list)
    skipped: list[FileInfo] = []
    with ThreadPoolExecutor(max_workers=16) as pool:
        for fi, res in zip(files, pool.map(lambda f: _try(head, f), files)):
            if isinstance(res, Exception):
                if on_error != "skip":
                    raise res
                skipped.append(fi)
            else:
                groups[res].append(fi)
    return list(groups.items()), skipped


def _try(fn, *args):
    try:
        return fn(*args)
    except Exception as e:  # noqa: BLE001 — per-file fault isolation
        return e


def read_csv_auto(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType | None = None,
    with_source_file: bool = True,
) -> DataFrame:
    """Scan CSV/CSV.gz (S3/S4/S5) with header; inferred or explicit schema.

    ``with_source_file`` adds the provenance column (P2) from
    ``input_file_name()`` — basename only, matching the reference
    (``etl_pipeline.py:388-389``).
    """
    paths = [p for p in paths if p.endswith(CSV_SUFFIXES)]  # S5 format dispatch
    reader = spark.read.option("header", "true")
    if schema is None:
        reader = reader.option("inferSchema", "true")
    else:
        reader = reader.schema(schema)
    df = reader.csv(paths)
    if with_source_file:
        df = df.withColumn("source_file", F.element_at(F.split(F.input_file_name(), "/"), -1))
    return df


def file_listing_df(spark: SparkSession, files: list[FileInfo]) -> DataFrame:
    """Listing as a DataFrame with extracted ``src_date`` — the input to the
    bucket-profiling aggregations (analyze_dates, SURVEY §3.2)."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("filename", T.StringType()),
            T.StructField("last_modified", T.TimestampType()),
            T.StructField("size", T.LongType()),
        ]
    )
    rows = [Row(path=f.path, filename=f.name, last_modified=f.mtime, size=f.size) for f in files]
    df = spark.createDataFrame(rows, schema=schema)
    return df.withColumn("src_date", extract_date_str_col("filename"))
