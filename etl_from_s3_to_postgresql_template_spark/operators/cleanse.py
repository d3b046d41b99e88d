"""Cleanse / merge operators: the reference's TRANSFORM+CLEANSE stages.

Maps SURVEY.md §2.3/2.6/2.7 (reference ``etl_pipeline.py:348-483``) onto lazy
DataFrame ops. Everything here is a plan fragment — nothing materializes
until the caller acts — except the three functions that need a data pass and
say so: ``null_column_counts`` and ``duplicate_count`` return aggregates, and
``drop_all_null_columns`` runs one aggregate to choose the columns it drops.

Scale notes:

- ``union_by_name`` is a zero-shuffle plan union; Spark concatenates
  partition lists. The reference's ``pd.concat`` materialized a whole day in
  driver RAM (``etl_pipeline.py:417``) — here a day is just more partitions.
- ``dedup_exact`` (full-row ``dropDuplicates``) is one hash-aggregate
  shuffle on all columns with map-side partial aggregation; AQE coalesces
  the post-shuffle partitions. For 100 TB, prefer dedup on a content hash
  (see operators/dedup.py) so the shuffle carries 8-byte keys, not rows.
- ``drop_all_null_columns`` needs a data pass by definition (the reference
  also did one, ``etl_pipeline.py:453``); we do it in ONE aggregate over all
  columns instead of pandas' per-column ``isnull().all()``.
"""

from __future__ import annotations

import datetime as dt
import functools
import re

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

__all__ = [
    "clean_name",
    "clean_column_names",
    "union_by_name",
    "dedup_exact",
    "duplicate_count",
    "epoch_to_timestamp",
    "add_metadata_columns",
    "null_column_counts",
    "drop_all_null_columns",
    "rows_per_file",
]

# Reference default: convert these columns from epoch seconds if numeric
# (etl_pipeline.py:431-441).
DEFAULT_EPOCH_COLUMNS = (
    "date_time_column1",
    "date_time_column2",
    "date_time_column3",
    "date_time_column4",
)


def clean_name(name: str) -> str:
    """P1: strip ``{`` ``}`` and surrounding whitespace from a column name
    (reference ``etl_pipeline.py:381-386``)."""
    return re.sub(r"[{}]", "", name).strip()


def clean_column_names(df: DataFrame) -> DataFrame:
    """P1 over every column. Names are metadata — this is a driver-side
    rename, zero data movement."""
    return df.toDF(*[clean_name(c) for c in df.columns])


def union_by_name(dfs: list[DataFrame]) -> DataFrame:
    """U1: vertical concat aligning on column names, null-filling columns a
    file lacks (reference ``pd.concat(..., sort=False)``,
    ``etl_pipeline.py:413-418``). First-seen column order is preserved by
    ``unionByName``'s left-side ordering, matching pandas.

    Improvement over the reference: pandas null-fill erodes int columns to
    float64 (NaN is a float); Spark keeps nullable LongType.
    """
    if not dfs:
        raise ValueError("union_by_name: empty input")
    return functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """U2: drop exact duplicate rows (reference ``drop_duplicates()``,
    ``etl_pipeline.py:479-483``). Full-row by default; ``subset`` keeps an
    arbitrary survivor per key (order-nondeterministic, same as pandas
    ``keep='first'`` under a nondeterministic input order)."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def duplicate_count(df: DataFrame) -> int:
    """A2: number of rows beyond the first occurrence (reference
    ``duplicated().sum()``, ``etl_pipeline.py:457-458``). One aggregation:
    group on all columns, sum(count-1) — not the two full passes
    (count + distinct-count) of the naive form."""
    per_key = df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("cnt"))
    row = per_key.agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("dups")).collect()[0]
    return int(row["dups"])


def epoch_to_timestamp(df: DataFrame, columns: tuple[str, ...] = DEFAULT_EPOCH_COLUMNS) -> DataFrame:
    """P3: for each configured column that exists AND is numeric, add
    ``{col}_datetime = timestamp_seconds(col)`` keeping the original
    (reference ``etl_pipeline.py:431-441``). Non-numeric or missing columns
    are skipped — a schema check, free at plan time. Invalid/overflow values
    coerce to NULL (ANSI off), matching ``errors='coerce'``."""
    out = df
    for c in columns:
        if c in df.columns and isinstance(df.schema[c].dataType, NumericType):
            out = out.withColumn(f"{c}_datetime", F.timestamp_seconds(F.col(c)))
    return out


def add_metadata_columns(df: DataFrame, source_date: str, files_merged: int) -> DataFrame:
    """P4: audit metadata columns (reference ``etl_pipeline.py:443-446``):
    ``processed_date`` (the driver's UTC clock at this call), ``source_date``
    (UTC midnight of ``source_date``) and ``files_merged_count``, appended
    last.

    The values come from a one-row Arrow frame joined in by broadcast, not
    from literals: Spark inlines timestamp and int literals into its
    generated code, so a literal that changes per run or per day would make
    every stage it reaches compile anew. Through the join, every day's plan
    compiles to the same code."""
    meta = df.sparkSession.createDataFrame(
        pa.table(
            {
                "processed_date": [dt.datetime.now(dt.timezone.utc)],
                "source_date": [dt.datetime.fromisoformat(source_date).replace(tzinfo=dt.timezone.utc)],
                "files_merged_count": [files_merged],
            }
        ),
        "processed_date timestamp NOT NULL, source_date timestamp, files_merged_count int NOT NULL",
    )
    return df.crossJoin(F.broadcast(meta))


def null_column_counts(df: DataFrame) -> dict[str, int]:
    """A3/P5 detection: non-null count per column in ONE aggregate pass
    (``count(col)`` skips nulls). Driver gets |columns| longs, not data."""
    row = df.agg(*[F.count(F.col(c)).alias(c) for c in df.columns]).collect()[0]
    return row.asDict()


def drop_all_null_columns(df: DataFrame) -> DataFrame:
    """P5: drop columns where every value is NULL (reference
    ``etl_pipeline.py:453-455,473-477``). Data-dependent → requires one
    aggregation, which also counts the rows: a frame with no rows keeps
    every column (a header-only day would otherwise lose all of them). The
    drop itself is plan-time column pruning."""
    row = df.agg(F.count(F.lit(1)), *[F.count(F.col(c)) for c in df.columns]).first()
    empty = [c for c, n in zip(df.columns, row[1:]) if n == 0] if row[0] else []
    return df.drop(*empty) if empty else df


def rows_per_file(df: DataFrame, source_col: str = "source_file") -> DataFrame:
    """A1: rows per source file, descending (reference ``value_counts()``,
    ``etl_pipeline.py:421-425``)."""
    return df.groupBy(source_col).agg(F.count(F.lit(1)).alias("row_count")).orderBy(
        F.desc("row_count"), source_col
    )
