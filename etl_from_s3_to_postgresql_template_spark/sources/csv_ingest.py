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

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
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


def prune_paths_by_date(
    spark: SparkSession, files: list[FileInfo], day: str
) -> list[FileInfo]:
    """Prune-before-read (S6/F1): keep files whose filename date == day.

    A filter on :func:`file_listing_df`, so pruning and the in-plan date
    extraction use the same Column expression and can never disagree. The
    listing frame is a local relation: Spark evaluates the filter on the
    driver and the ``collect`` runs no job."""
    kept = {
        r["path"]
        for r in file_listing_df(spark, files).where(F.col("src_date") == day).select("path").collect()
    }
    return [f for f in files if f.path in kept]


def probe_headers(
    spark: SparkSession, files: list[FileInfo], on_error: str = "fail"
) -> tuple[list[tuple[str, list[FileInfo]]], list[FileInfo]]:
    """Group files by their header line, read on the driver through the
    Hadoop FileSystem API (the one ``_list_files_hadoop`` uses), so every
    scheme Spark can read works here too and no Spark job runs.

    Each file is opened, wrapped in the codec its extension names (``.gz``,
    as Spark's text source does), and only its first line is read with
    Hadoop's ``LineReader`` (LF, CR or CRLF, the splitter Spark uses). The
    line decodes as strict UTF-8 with a leading BOM dropped, as Spark drops
    it; undecodable bytes raise, as the reference's strict-utf-8 open did
    (``etl_pipeline.py:368-374``). An empty file has header ``""``.

    ``on_error='skip'``: unreadable files (bad gzip, encoding, truncation)
    are returned separately instead of failing the day — the reference's
    skip-and-continue (``etl_pipeline.py:404-406``), but *counted*, not
    silent. Returns ([(header, files)], skipped).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(hconf)
    groups: dict[str, list[FileInfo]] = defaultdict(list)
    skipped: list[FileInfo] = []
    for fi in files:
        try:
            header = _first_line(jvm, hconf, codecs, fi.path)
        except Exception:  # noqa: BLE001 — per-file fault isolation
            if on_error != "skip":
                raise
            skipped.append(fi)
        else:
            groups[header].append(fi)
    return list(groups.items()), skipped


def _first_line(jvm, hconf, codecs, path: str) -> str:
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    stream = hpath.getFileSystem(hconf).open(hpath)
    try:
        codec = codecs.getCodec(hpath)
        if codec is not None:
            stream = codec.createInputStream(stream)
        line = jvm.org.apache.hadoop.io.Text()
        jvm.org.apache.hadoop.util.LineReader(stream).readLine(line)
        raw = line.copyBytes()
    finally:
        stream.close()
    try:
        return raw.decode("utf-8-sig")
    except UnicodeDecodeError as e:
        raise ValueError(f"undecodable header in {path}") from e


def read_csv_auto(
    spark: SparkSession, paths: list[str], schema: T.StructType | None = None
) -> DataFrame:
    """Scan CSV/CSV.gz (S3/S4/S5) with header; inferred or explicit schema.
    Adds the provenance column (P2) ``source_file`` from
    ``input_file_name()`` — basename only, matching the reference
    (``etl_pipeline.py:388-389``).
    """
    reader = spark.read.option("header", "true")
    if schema is None:
        reader = reader.option("inferSchema", "true")
    else:
        reader = reader.schema(schema)
    df = reader.csv(paths)
    return df.withColumn("source_file", F.element_at(F.split(F.input_file_name(), "/"), -1))


def file_listing_df(spark: SparkSession, files: list[FileInfo]) -> DataFrame:
    """Listing as a DataFrame with extracted ``src_date`` — the input to
    filename-date pruning and the bucket-profiling aggregations
    (analyze_dates, SURVEY §3.2). Built from an Arrow table, so the frame is
    a local relation on the driver."""
    table = pa.table(
        {
            "path": pa.array([f.path for f in files], pa.string()),
            "filename": pa.array([f.name for f in files], pa.string()),
            "last_modified": pa.array([f.mtime for f in files], pa.timestamp("us", tz="UTC")),
            "size": pa.array([f.size for f in files], pa.int64()),
        }
    )
    return spark.createDataFrame(table).withColumn("src_date", extract_date_str_col("filename"))
