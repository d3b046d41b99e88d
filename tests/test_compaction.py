"""Small-file compaction: file counts, data preservation, sorted layout."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_from_s3_to_postgresql_template_spark.sinks.compact import compact_parquet


def _fragmented(spark, tmp_path, n_rows=2000, n_files=40):
    path = str(tmp_path / "frag")
    spark.range(n_rows).withColumn("v", F.col("id") * 2).repartition(n_files).write.parquet(path)
    return path


def test_compact_reduces_file_count_preserves_rows(spark, tmp_path):
    path = _fragmented(spark, tmp_path)
    before = spark.read.parquet(path)
    before_sum = before.agg(F.sum("v")).collect()[0][0]
    report = compact_parquet(spark, path, target_file_bytes=10**9)
    assert report.files_before == 40
    assert report.files_after == 1
    after = spark.read.parquet(path)
    assert after.count() == 2000
    assert after.agg(F.sum("v")).collect()[0][0] == before_sum


def test_compact_target_size_splits_files(spark, tmp_path):
    path = _fragmented(spark, tmp_path)
    report = compact_parquet(spark, path, target_file_bytes=max(1, report_bytes(spark, path) // 4))
    assert 2 <= report.files_after <= 8  # ~4 target-size files


def report_bytes(spark, path):
    return int(
        spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("fp"), F.col("_metadata.file_size").alias("sz"))
        .groupBy("fp")
        .agg(F.first("sz").alias("sz"))
        .agg(F.sum("sz"))
        .collect()[0][0]
    )


def test_compact_sorted_layout_has_disjoint_ranges(spark, tmp_path):
    path = _fragmented(spark, tmp_path)
    compact_parquet(spark, path, target_file_bytes=report_bytes(spark, path) // 3, sort_by=["id"])
    spans = (
        spark.read.parquet(path)
        .groupBy(F.col("_metadata.file_path").alias("fp"))
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(spans) >= 2
    for a, b in zip(spans, spans[1:]):
        assert a.hi < b.lo  # range-partitioned: files don't overlap -> footer stats prune


def test_compact_recovers_crash_between_swap_renames(spark, tmp_path):
    """The mid-swap crash state (backup present, live path missing) is
    repaired by the next compaction, which then compacts the restored
    data."""
    import os
    import shutil

    path = _fragmented(spark, tmp_path)
    shutil.move(path, path + ".compact.bak")
    assert not os.path.exists(path)
    report = compact_parquet(spark, path, target_file_bytes=10**9)
    assert (report.files_before, report.files_after) == (40, 1)
    assert spark.read.parquet(path).count() == 2000
    assert not os.path.exists(path + ".compact.bak")
