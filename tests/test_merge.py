"""MERGE (upsert/delete) semantics on plain-parquet targets."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from etl_from_s3_to_postgresql_template_spark.sinks.merge import merge_upsert


def _target(spark, tmp_path):
    path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, name string, v long"
    ).write.parquet(path)
    return path


def test_merge_upsert_and_insert(spark, tmp_path):
    path = _target(spark, tmp_path)
    updates = spark.createDataFrame([(2, "B", 200), (4, "d", 40)], "k long, name string, v long")
    report = merge_upsert(spark, path, updates, key="k")
    assert (report.rows_before, report.rows_after) == (3, 4)
    assert (report.inserted, report.updated, report.deleted) == (1, 1, 0)
    rows = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30), 4: ("d", 40)}


def test_merge_delete_flag(spark, tmp_path):
    path = _target(spark, tmp_path)
    updates = spark.createDataFrame(
        [(1, "a", 10, True), (4, "d", 40, False)],
        "k long, name string, v long, is_deleted boolean",
    )
    report = merge_upsert(spark, path, updates, key="k", delete_col="is_deleted")
    assert (report.inserted, report.updated, report.deleted) == (1, 0, 1)
    assert report.rows_after == 3
    ks = {r.k for r in spark.read.parquet(path).collect()}
    assert ks == {2, 3, 4}


def test_merge_rejects_duplicate_update_keys(spark, tmp_path):
    path = _target(spark, tmp_path)
    updates = spark.createDataFrame(
        [(2, "x", 1), (2, "y", 2)], "k long, name string, v long"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, path, updates, key="k")
    # Failed merge must not touch the target.
    assert spark.read.parquet(path).count() == 3


def test_merge_idempotent_reapply(spark, tmp_path):
    path = _target(spark, tmp_path)
    updates = spark.createDataFrame([(2, "B", 200)], "k long, name string, v long")
    merge_upsert(spark, path, updates, key="k")
    report2 = merge_upsert(spark, path, updates, key="k")
    assert (report2.inserted, report2.updated, report2.deleted) == (0, 1, 0)
    assert spark.read.parquet(path).where(F.col("k") == 2).collect()[0].v == 200


def test_merge_recovers_crash_between_swap_renames(spark, tmp_path):
    """A crash after the live table moved to its backup but before the
    new state moved in leaves no table at the path: the next merge
    restores the backup first, then merges into it."""
    import os
    import shutil

    path = _target(spark, tmp_path)
    shutil.move(path, path + ".merge.bak")
    assert not os.path.exists(path)
    updates = spark.createDataFrame([(2, "B", 200)], "k long, name string, v long")
    report = merge_upsert(spark, path, updates, key="k")
    assert (report.rows_before, report.updated) == (3, 1)
    rows = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30)}
    assert not os.path.exists(path + ".merge.bak")
