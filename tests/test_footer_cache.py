"""load_table probes a local Parquet file's footer once per version of the
file: a known file is read with its cached schema and runs no Spark job,
and a file rewritten at the same path is probed again."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from etl_from_s3_to_postgresql_template_spark.sources.registry import (
    events_physical_schema,
    load_table,
)

_groups = itertools.count()


def _jobs_of(spark, fn):
    """(number of Spark jobs fn ran, fn's result)."""
    sc = spark.sparkContext
    group = f"footer-cache-{next(_groups)}"
    sc.setJobGroup(group, "footer cache")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]}), tmp_path / "t.parquet")
    _, first = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    jobs, second = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert second.schema.names == ["id", "name"]
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_probed_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").schema.names == ["id"]
    pq.write_table(pa.table({"key": ["x", "y", "z"], "score": [0.5, 1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema.names == ["key", "score"]
    assert isinstance(df.schema["score"].dataType, T.DoubleType)
    assert df.count() == 3


def test_events_schema_follows_a_rewritten_file(spark, tmp_path):
    """events_physical_schema reads through the same cache, so a rewritten
    events.parquet is not served the old file's schema."""
    path = tmp_path / "events.parquet"
    ns = pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ns}), path)
    assert isinstance(events_physical_schema(spark, str(tmp_path))["ts"].dataType, T.LongType)
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ["a", "b"], "value": [1.0, 2.0]}), path)
    schema = events_physical_schema(spark, str(tmp_path))
    assert schema.names == ["event_id", "ts", "value"]
    assert isinstance(schema["ts"].dataType, T.StringType)
