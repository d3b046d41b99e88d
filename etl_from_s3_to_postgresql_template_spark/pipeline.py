"""Day-level ingest pipeline: the reference's three entry points, Spark-first.

Maps SURVEY §3 onto lazy plans:

- :func:`process_day` = ``process_single_day`` (reference
  ``etl_pipeline.py:252-545``): LIST -> prune-by-filename-date -> per-group
  CSV scan -> clean names + provenance -> union-by-name -> epoch->ts ->
  drop-empty-cols -> dedup -> metadata -> sink + audit row. The audit
  row's count comes from the write itself (a ``DataFrame.observe`` metric
  on the frame the sink writes), not from a second pass over the day.
- :func:`process_range` = the day loop (``:716-722``).
- :func:`analyze_dates` = ``--analyze-dates`` bucket profiling
  (``:599-657``).

Execution differences from the reference (the HOW we deliberately replace):
stages 5-8 are ONE plan — no per-file materialization, no full-day RAM
spike; files read in parallel across executors; the only passes before the
write are schema inference (without an explicit schema) and the null-column
aggregate, and the only wide operations are that aggregate, the dedup
hash-aggregate and the final write fan-in. Failure unit stays the
day (exceptions propagate; per-file read errors surface instead of being
silently skipped — auditable beats lossy).

Schema drift: the reference reads each file with its own inferred schema and
lets ``pd.concat`` align names. Per-file reads don't scale to millions of
files, so files are grouped by their *header line* and each group is read as
one distributed scan; groups then ``unionByName`` with null-fill. One group
== one schema == exact reference semantics at any file count.

The day's metadata stays on the driver and runs no Spark job: pruning is a
filter on the Arrow-built listing frame (sources/csv_ingest.file_listing_df),
the header probe reads each file's first line through the Hadoop FileSystem
API, and the audit row is built from an Arrow table.

No value that changes per run or per day reaches the generated code of the
day's heavy stages: the metadata columns are joined in from a one-row Arrow
frame after the dedup (operators/cleanse.add_metadata_columns), so every day
of the same shape reuses the code compiled for the first.
"""

from __future__ import annotations

import csv
import datetime as dt
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_from_s3_to_postgresql_template_spark.operators.cleanse import (
    DEFAULT_EPOCH_COLUMNS,
    add_metadata_columns,
    clean_column_names,
    clean_name,
    dedup_exact,
    drop_all_null_columns,
    epoch_to_timestamp,
    union_by_name,
)
from etl_from_s3_to_postgresql_template_spark.sinks.base import Sink
from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import (
    CSV_SUFFIXES,
    FileInfo,
    file_listing_df,
    list_files,
    probe_headers,
    prune_paths_by_date,
    read_csv_auto,
)


class NoReadableFilesError(ValueError):
    """Every file matching a day was unreadable (probe_headers skipped all)."""

    def __init__(self, day: str, skipped: list[FileInfo]):
        self.day = day
        self.skipped = skipped
        super().__init__(f"no readable files for {day}")


@dataclass
class PipelineConfig:
    source_dir: str
    epoch_columns: tuple[str, ...] = DEFAULT_EPOCH_COLUMNS
    table_name: str = "table_name"
    # "skip": unreadable files are dropped with a warning and counted out of
    # files_processed (reference behavior, etl_pipeline.py:404-406);
    # "fail": propagate — auditable pipelines usually want this.
    on_error: str = "fail"
    # Explicit schema (production mode): skips the inference pass — one
    # less full read of every file. None = per-header-group inference
    # (reference parity: pd.read_csv(low_memory=False)). SURVEY §1.2 asks
    # for both modes. Columns a group lacks are null-filled by
    # union-by-name as usual.
    schema: "T.StructType | None" = None


@dataclass
class DayResult:
    day: str
    files_found: int
    files_processed: int
    total_rows: int
    column_count: int
    columns: list[str] = field(default_factory=list)
    skipped_files: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.files_processed > 0


def _project_schema(schema: T.StructType, header: str) -> T.StructType:
    """The explicit schema laid onto one header group, POSITIONALLY: one
    output field per header column, always — dropping a field would shift
    every later column's data into the wrong name. Header names are parsed
    as CSV (a quoted name may hold a comma). Types come from the schema,
    matched on the cleaned name; columns the schema doesn't know load as
    strings."""
    types = {clean_name(f.name): f.dataType for f in schema.fields}
    names = [clean_name(c) for c in next(csv.reader([header]))]
    return T.StructType([T.StructField(c, types.get(c, T.StringType())) for c in names])


def ingest_day_plan(
    spark: SparkSession, config: PipelineConfig, files: list[FileInfo], day: str
) -> tuple[DataFrame, list[FileInfo]]:
    """Build the day's plan for pruned ``files``: one scan per header group,
    clean names + provenance, union-by-name, epoch->ts, drop-empty-cols and
    dedup, then the metadata columns. Runs the null-column aggregate (and,
    without an explicit schema, CSV schema inference); the dedup and
    everything after it stay lazy. Returns (plan, skipped_files)."""
    groups, skipped = probe_headers(spark, files, config.on_error)
    if not groups:
        raise NoReadableFilesError(day, skipped)
    dfs = [
        clean_column_names(
            read_csv_auto(
                spark,
                [fi.path for fi in group],
                schema=None if config.schema is None else _project_schema(config.schema, header),
            )
        )
        for header, group in groups
    ]
    merged = epoch_to_timestamp(union_by_name(dfs), config.epoch_columns)
    # The metadata columns are constant within a day, so deduping before
    # they are attached keeps the same rows and leaves them out of the
    # dedup's shuffle keys.
    merged = dedup_exact(drop_all_null_columns(merged))  # one aggregate pass
    # files_merged counts FILES (reference: len(merged_dataframes), one df
    # per file), not header groups.
    n_files_read = sum(len(group) for _, group in groups)
    return add_metadata_columns(merged, day, files_merged=n_files_read), skipped


def process_day(spark: SparkSession, config: PipelineConfig, day: str, sink: Sink) -> DayResult:
    """Run one day end-to-end: write the data and one audit row to ``sink``
    and return the audit-shaped result. ``total_rows`` is observed on the
    write itself, so the day's data is read once after the null-column
    check."""
    all_files = [
        f for f in list_files(config.source_dir, spark=spark) if f.path.endswith(CSV_SUFFIXES)
    ]
    matching = prune_paths_by_date(spark, all_files, day)
    if not matching:
        return DayResult(day, 0, 0, 0, 0)

    try:
        merged, skipped = ingest_day_plan(spark, config, matching, day)
    except NoReadableFilesError as e:
        # on_error='skip' skip-and-counted every file: the day FAILS
        # (ok=False, reference returns False at etl_pipeline.py:411) but
        # the range keeps going — one rotten day must not kill a backfill.
        if config.on_error == "skip":
            return DayResult(day, len(matching), 0, 0, 0, [], [f.name for f in e.skipped])
        raise
    skipped_set = set(skipped)
    processed = [f for f in matching if f not in skipped_set]

    obs = Observation()
    sink.write_day(merged.observe(obs, F.count(F.lit(1)).alias("rows")), day)
    # Blocks until the listener bus delivers the metric, which can land
    # just after the write returns.
    total_rows = obs.get["rows"]
    audit = spark.createDataFrame(
        pa.table(
            {
                "date_processed": [dt.datetime.now(dt.timezone.utc)],
                "date_of_data": [dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc)],
                "files_processed": [len(processed)],
                "files_merged": [len(processed)],
                "table_name": [config.table_name],
                "total_row_count": [total_rows],
                "column_count": [len(merged.columns)],
                "source_files": [", ".join(f.name for f in processed)],
            }
        ),
        "date_processed timestamp, date_of_data timestamp, files_processed int, "
        "files_merged int, table_name string, total_row_count long, "
        "column_count int, source_files string",
    )
    sink.write_audit(audit)
    return DayResult(
        day,
        len(matching),
        len(processed),
        total_rows,
        len(merged.columns),
        merged.columns,
        [f.name for f in skipped],
    )


def process_range(
    spark: SparkSession, config: PipelineConfig, start_day: str, end_day: str, sink: Sink
) -> list[DayResult]:
    """The reference's day loop (etl_pipeline.py:716-722): one day after
    another, in day order."""
    start = dt.date.fromisoformat(start_day)
    end = dt.date.fromisoformat(end_day)
    if start > end:
        raise ValueError(f"start {start_day} after end {end_day}")
    return [
        process_day(spark, config, (start + dt.timedelta(days=i)).isoformat(), sink)
        for i in range((end - start).days + 1)
    ]


def recent_runs(spark: SparkSession, lake_path: str, n: int = 10) -> DataFrame:
    """README monitoring query parity (README.md:213-216): last n pipeline
    runs from the audit log, newest first."""
    log = spark.read.parquet(f"{lake_path}/data_processing_log")
    return log.orderBy(F.desc("date_processed")).limit(n)


def rows_per_source_date(spark: SparkSession, lake_path: str, table: str = "merged") -> DataFrame:
    """README monitoring query parity (README.md:218-222): loaded rows per
    source day, newest first — reads only partition metadata + counts."""
    df = spark.read.parquet(f"{lake_path}/{table}")
    return df.groupBy("dt").agg(F.count(F.lit(1)).alias("row_count")).orderBy(F.desc("dt"))


def analyze_dates(spark: SparkSession, config: PipelineConfig) -> DataFrame:
    """Bucket profiling (reference --analyze-dates, etl_pipeline.py:599-657):
    per-extracted-date file counts plus listing metadata, as one DataFrame —
    the A4/A5/A6 aggregations compose on top of it."""
    listing = file_listing_df(spark, list_files(config.source_dir, spark=spark))
    return (
        listing.groupBy("src_date")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.min("last_modified").alias("min_modified"),
            F.max("last_modified").alias("max_modified"),
        )
        .orderBy("src_date")
    )
