"""Cleanse/merge operator semantics vs pandas ground truth (SURVEY §5.2-4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators.cleanse import (
    add_metadata_columns,
    clean_column_names,
    dedup_exact,
    drop_all_null_columns,
    duplicate_count,
    epoch_to_timestamp,
    null_column_counts,
    rows_per_file,
    union_by_name,
)


def test_clean_column_names(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["{a}", " b ", "{ c }"])
    assert clean_column_names(df).columns == ["a", "b", "c"]


def test_union_by_name_null_fill_and_order(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "name"])
    b = spark.createDataFrame([(2.5, 2)], ["amount", "id"])
    out = union_by_name([a, b])
    # first-seen column order (pandas concat sort=False parity)
    assert out.columns == ["id", "name", "amount"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["amount"] is None and rows[1]["name"] == "x"
    assert rows[2]["name"] is None and rows[2]["amount"] == 2.5


def test_union_by_name_matches_pandas_concat(spark):
    pdf_a = pd.DataFrame({"id": [1, 2], "v": [10.0, 20.0]})
    pdf_b = pd.DataFrame({"id": [3], "w": ["z"]})
    expected = pd.concat([pdf_a, pdf_b], ignore_index=True, sort=False)
    out = union_by_name([spark.createDataFrame(pdf_a), spark.createDataFrame(pdf_b)])
    got = out.toPandas().sort_values("id", ignore_index=True)
    assert list(got.columns) == list(expected.columns)
    assert got["id"].tolist() == expected["id"].tolist()
    # pandas erodes int+NaN to float; Spark keeps values — compare non-null
    assert got["w"].iloc[2] == "z" and pd.isna(got["w"].iloc[0])


def test_dedup_and_duplicate_count(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    assert dedup_exact(df).count() == 2
    assert duplicate_count(df) == 2  # pandas duplicated().sum() parity


def test_epoch_to_timestamp_guards(spark):
    df = spark.createDataFrame(
        [Row(date_time_column1=1700000000, date_time_column2="not numeric", other=1)]
    )
    out = epoch_to_timestamp(df)
    # numeric column converted, string column skipped (reference dtype guard)
    assert "date_time_column1_datetime" in out.columns
    assert "date_time_column2_datetime" not in out.columns
    r = out.collect()[0]
    assert r["date_time_column1_datetime"].year == 2023


def test_null_column_detection_and_drop(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (2, None, None)], "a int, empty string, half string"
    )
    counts = null_column_counts(df)
    assert counts == {"a": 2, "empty": 0, "half": 1}
    assert drop_all_null_columns(df).columns == ["a", "half"]


def test_metadata_columns(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    framed = add_metadata_columns(df, "2025-02-03", 4)
    out = framed.collect()[0]
    assert out["files_merged_count"] == 4
    assert out["source_date"].date().isoformat() == "2025-02-03"
    assert out["processed_date"] is not None
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in framed.schema.fields] == [
        ("x", "bigint", True),
        ("processed_date", "timestamp", False),
        ("source_date", "timestamp", True),
        ("files_merged_count", "int", False),
    ]


def test_rows_per_file(spark):
    df = spark.createDataFrame(
        [("f1",), ("f1",), ("f2",)], ["source_file"]
    )
    rows = rows_per_file(df).collect()
    assert [(r["source_file"], r["row_count"]) for r in rows] == [("f1", 2), ("f2", 1)]
