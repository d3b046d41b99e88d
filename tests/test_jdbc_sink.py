"""JDBC sink end-to-end against embedded Apache Derby (ships with Spark).

The reference's entire reason for existing is the chunked pandas->PostgreSQL
upload (etl_pipeline.py:485-530); JdbcSink replaces it with Spark's JDBC
writer. These tests exercise the real write path — SaveMode.Append table
auto-creation (reference K2's exists-probe, subsumed), day + audit writes
(K1/K3), batchsize/numPartitions plumbing (K4) — against an actual JDBC
database, no network required. Derby speaks the same JdbcUtils/dialect
machinery PostgreSQL does; only the URL differs in production.
"""

from __future__ import annotations

import glob
import os

import pytest

from etl_from_s3_to_postgresql_template_spark.pipeline import PipelineConfig, process_day
from etl_from_s3_to_postgresql_template_spark.sinks.base import JdbcSink

def _derby_available() -> bool:
    import pyspark

    return bool(glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "derby-*.jar")))


pytestmark = pytest.mark.skipif(
    not _derby_available(), reason="Derby JDBC driver not bundled with this Spark"
)


@pytest.fixture()
def derby_url(tmp_path):
    # derby.system.home defaults to CWD; absolute db path keeps it in tmp.
    # Setting JDBC_URL in the environment retargets every test in this file
    # at a real PostgreSQL endpoint unmodified (sinks/base.py seam) — the
    # container has none, so the default is embedded Derby.
    from etl_from_s3_to_postgresql_template_spark.sinks.base import jdbc_target_from_env

    url, _props = jdbc_target_from_env(f"jdbc:derby:{tmp_path}/db;create=true")
    return url


def _read_table(spark, url: str, table: str):
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).load()


def test_process_day_to_jdbc_sink_end_to_end(spark, derby_url, tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    (d / "sales_2025-02-03.csv").write_text(
        "id,amount,region\n1,10.5,east\n2,20.0,west\n2,20.0,west\n"  # one exact dup
    )
    (d / "logs_2025_02_03.csv").write_text("id,region\n5,north\n")

    sink = JdbcSink(url=derby_url, table_name="merged_day", audit_table="data_processing_log")
    res = process_day(spark, PipelineConfig(source_dir=str(d)), "2025-02-03", sink)
    assert res.ok and res.files_processed == 2

    back = _read_table(spark, derby_url, "merged_day")
    # dedup dropped the duplicate row; union-by-name null-filled amount
    assert back.count() == 3 == res.total_rows
    by_id = {r["id"]: r for r in back.collect()}
    assert by_id[1]["amount"] == 10.5 and by_id[1]["region"] == "east"
    assert by_id[5]["amount"] is None and by_id[5]["region"] == "north"
    assert set(by_id[2].asDict()) >= {"id", "amount", "region", "source_file"}

    audit = _read_table(spark, derby_url, "data_processing_log").collect()
    assert len(audit) == 1
    row = audit[0]
    assert row["total_row_count"] == 3
    assert row["files_processed"] == 2
    assert "sales_2025-02-03.csv" in row["source_files"]


def test_jdbc_append_accumulates_days(spark, derby_url, tmp_path):
    """SaveMode.Append: first write creates the table (reference K2's
    exists-probe subsumed), subsequent days append — the reference's
    append-only contract."""
    d = tmp_path / "src"
    d.mkdir()
    (d / "a_2025-02-03.csv").write_text("id,v\n1,10\n")
    (d / "a_2025-02-04.csv").write_text("id,v\n2,20\n")

    sink = JdbcSink(url=derby_url, table_name="t_days")
    cfg = PipelineConfig(source_dir=str(d), table_name="t_days")
    process_day(spark, cfg, "2025-02-03", sink)
    process_day(spark, cfg, "2025-02-04", sink)

    back = _read_table(spark, derby_url, "t_days")
    assert back.count() == 2
    assert {r["id"] for r in back.collect()} == {1, 2}
    audit = _read_table(spark, derby_url, "data_processing_log")
    assert audit.count() == 2


def test_jdbc_batchsize_and_numpartitions_plumbing(spark, derby_url):
    """K4: batchsize/numPartitions survive into the writer (reference
    constants: 10000-row chunks, pool of 10) — verified behaviorally with
    a 25k-row write through 3 coalesced partitions."""
    df = spark.range(25_000).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v")
    sink = JdbcSink(url=derby_url, table_name="bulk", num_partitions=3, batchsize=1000)
    sink.write_day(df, "2025-02-03")
    back = _read_table(spark, derby_url, "bulk")
    assert back.count() == 25_000
    assert back.agg({"id": "max"}).collect()[0][0] == 24_999


def test_streaming_foreachbatch_to_jdbc(spark, derby_url, tmp_path):
    """E5 x K1: the events stream lands in a JDBC table through
    foreachBatch (the streaming-era reference load path). Re-running with
    the same checkpoint must be a no-op — committed offsets, no
    double-load."""
    from etl_from_s3_to_postgresql_template_spark.sinks.base import JdbcSink
    from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
    from etl_from_s3_to_postgresql_template_spark.streaming.sink import (
        run_events_stream_to_jdbc,
    )

    sf = "/root/testdata/sf0.001"
    sink = JdbcSink(url=derby_url, table_name="events_landed")
    ckpt = str(tmp_path / "ckpt")
    run_events_stream_to_jdbc(spark, sf, sink, ckpt)

    n_src = load_table(spark, sf, "events").count()
    back = _read_table(spark, derby_url, "events_landed")
    assert back.count() == n_src
    assert "_batch_id" in back.columns

    run_events_stream_to_jdbc(spark, sf, sink, ckpt)  # same checkpoint: no-op
    assert back.count() == n_src


def test_range_to_jdbc_one_audit_row_per_day(spark, derby_url, tmp_path):
    """process_range into JDBC: the first day creates the data and audit
    tables (SaveMode.Append), later days append; audit rows land one per
    day."""
    from etl_from_s3_to_postgresql_template_spark.pipeline import process_range

    d = tmp_path / "src"
    d.mkdir()
    for i in range(1, 7):
        (d / f"sales_2025-02-0{i}.csv").write_text(f"id,amount\n{i},{i}.5\n{i + 10},{i}.0\n")

    sink = JdbcSink(url=derby_url, table_name="merged_par", audit_table="audit_par")
    results = process_range(
        spark, PipelineConfig(source_dir=str(d)), "2025-02-01", "2025-02-06", sink
    )
    assert [r.ok for r in results] == [True] * 6
    assert _read_table(spark, derby_url, "merged_par").count() == 12
    audit = _read_table(spark, derby_url, "audit_par")
    assert audit.count() == 6  # exactly one audit row per day, none lost
    days = sorted(str(r["date_of_data"])[:10] for r in audit.collect())
    assert days == [f"2025-02-0{i}" for i in range(1, 7)]


def test_header_only_day_to_jdbc(spark, derby_url, tmp_path):
    """A header-only day into JDBC: the table is created with the header
    and metadata columns, 0 rows load and the audit row says 0."""
    d = tmp_path / "src"
    d.mkdir()
    (d / "a_2025-02-03.csv").write_text("id,amount\n")
    (d / "b_2025-02-03.csv").write_text("id,amount\n")
    sink = JdbcSink(url=derby_url, table_name="empty_day", audit_table="empty_audit")
    res = process_day(spark, PipelineConfig(source_dir=str(d)), "2025-02-03", sink)
    assert res.ok and res.total_rows == 0
    back = _read_table(spark, derby_url, "empty_day")
    assert back.count() == 0
    cols = {c.lower() for c in back.columns}
    assert {"id", "amount", "source_file", "processed_date", "source_date", "files_merged_count"} <= cols
    audit = _read_table(spark, derby_url, "empty_audit").collect()
    assert len(audit) == 1 and audit[0]["total_row_count"] == 0


def test_jdbc_day_table_keeps_metadata_nullability(spark, derby_url, tmp_path):
    """The day table's CREATE TABLE comes from the frame's schema: the
    metadata columns are created processed_date NOT NULL, source_date
    nullable and files_merged_count NOT NULL (read back from the
    database's own catalog; Spark's JDBC reader reports every column
    nullable)."""
    d = tmp_path / "src"
    d.mkdir()
    (d / "sales_2025-02-03.csv").write_text("id,amount\n1,10.5\n")
    sink = JdbcSink(url=derby_url, table_name="meta_day", audit_table="meta_audit")
    assert process_day(spark, PipelineConfig(source_dir=str(d)), "2025-02-03", sink).total_rows == 1

    conn = spark._jvm.java.sql.DriverManager.getConnection(derby_url)
    try:
        meta = conn.getMetaData()
        table = "META_DAY" if meta.storesUpperCaseIdentifiers() else "meta_day"
        cols = meta.getColumns(None, None, table, None)
        nullable = {}
        while cols.next():
            nullable[cols.getString("COLUMN_NAME").lower()] = cols.getString("IS_NULLABLE")
    finally:
        conn.close()
    assert {c: nullable[c] for c in ("processed_date", "source_date", "files_merged_count")} == {
        "processed_date": "NO",
        "source_date": "YES",
        "files_merged_count": "NO",
    }
