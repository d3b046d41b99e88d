"""End-to-end ingest test (FIXTURES.md §B): synthesized CSV/CSV.gz files with
date-bearing names -> process_day -> golden-compare merged output + audit row.
"""

from __future__ import annotations

import gzip
import os

import pytest

from etl_from_s3_to_postgresql_template_spark.pipeline import (
    PipelineConfig,
    analyze_dates,
    process_day,
    process_range,
)
from etl_from_s3_to_postgresql_template_spark.sinks import ParquetSink


@pytest.fixture(scope="module")
def source_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ingest_src")
    # iso_date file; braces in header exercise name cleaning; epoch column
    (d / "sales_2025-02-03.csv").write_text(
        "id,{amount},region,date_time_column1\n"
        "1,10.5,east,1706918400\n"
        "2,20.0,west,1706918401\n"
    )
    # iso_datetime_compact .csv.gz; schema drift (no region), exact dups,
    # all-null column
    with gzip.open(d / "data_2025-02-03T030000_export.csv.gz", "wt") as f:
        f.write(
            "id,amount,note,unused\n"
            "3,30.0,hello,\n"
            "3,30.0,hello,\n"  # exact duplicate row
            "4,40.0,bye,\n"
        )
    # underscore_date; missing amount
    (d / "logs_2025_02_03.csv").write_text("id,region\n5,north\n")
    # different day -> pruned
    (d / "report_20250204.csv").write_text("id,amount\n9,90.0\n")
    # unsupported extension -> skipped
    (d / "notes.txt").write_text("not a csv\n")
    return str(d)


def test_process_day_golden(spark, source_dir, tmp_path):
    sink = ParquetSink(str(tmp_path / "lake"))
    cfg = PipelineConfig(source_dir=source_dir)
    res = process_day(spark, cfg, "2025-02-03", sink)

    assert res.ok
    assert res.files_found == 3  # 2025-02-04 file and notes.txt pruned
    # 6 raw rows, minus 1 exact duplicate
    assert res.total_rows == 5

    out = spark.read.parquet(str(tmp_path / "lake/merged"))
    cols = set(out.columns)
    # cleaned names, provenance, derived ts, metadata, day partition
    assert {"id", "amount", "region", "date_time_column1",
            "date_time_column1_datetime", "note", "source_file",
            "processed_date", "source_date", "files_merged_count", "dt"} <= cols
    assert "unused" not in cols  # all-null column dropped
    assert "{amount}" not in cols

    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 5
    assert rows[1]["amount"] == 10.5 and rows[1]["region"] == "east"
    assert rows[1]["date_time_column1_datetime"].year == 2024  # epoch 1706918400
    assert rows[3]["note"] == "hello" and rows[3]["region"] is None
    assert rows[5]["region"] == "north" and rows[5]["amount"] is None
    assert rows[1]["source_file"] == "sales_2025-02-03.csv"
    assert rows[3]["source_file"] == "data_2025-02-03T030000_export.csv.gz"

    audit = spark.read.parquet(str(tmp_path / "lake/data_processing_log")).collect()
    assert len(audit) == 1
    a = audit[0]
    assert a["files_processed"] == 3
    assert a["total_row_count"] == 5
    assert a["date_of_data"].date().isoformat() == "2025-02-03"
    assert "sales_2025-02-03.csv" in a["source_files"]


def test_process_day_idempotent_rerun(spark, source_dir, tmp_path):
    """Re-running a day must not double-load (dynamic partition overwrite) —
    the reference double-appends; we fix."""
    sink = ParquetSink(str(tmp_path / "lake"))
    cfg = PipelineConfig(source_dir=source_dir)
    process_day(spark, cfg, "2025-02-03", sink)
    process_day(spark, cfg, "2025-02-03", sink)
    out = spark.read.parquet(str(tmp_path / "lake/merged"))
    assert out.count() == 5


def test_process_day_no_matches(spark, source_dir, tmp_path):
    sink = ParquetSink(str(tmp_path / "lake"))
    res = process_day(spark, PipelineConfig(source_dir=source_dir), "1999-01-01", sink)
    assert not res.ok and res.files_found == 0


def test_process_range(spark, source_dir, tmp_path):
    sink = ParquetSink(str(tmp_path / "lake"))
    results = process_range(spark, PipelineConfig(source_dir=source_dir),
                            "2025-02-03", "2025-02-04", sink)
    assert [r.total_rows for r in results] == [5, 1]
    out = spark.read.parquet(str(tmp_path / "lake/merged"))
    assert out.count() == 6
    # partition type inference reads dt back as DateType
    assert {str(r["dt"]) for r in out.select("dt").distinct().collect()} == {"2025-02-03", "2025-02-04"}


def test_process_range_validation(spark, source_dir, tmp_path):
    with pytest.raises(ValueError):
        process_range(spark, PipelineConfig(source_dir=source_dir), "2025-02-05", "2025-02-03",
                      ParquetSink(str(tmp_path / "lake")))


def test_explicit_schema_mode(spark, source_dir, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("region", T.StringType()),
            T.StructField("date_time_column1", T.LongType()),
            T.StructField("note", T.StringType()),
            T.StructField("unused", T.StringType()),
        ]
    )
    # braces-cleaning happens after read; explicit schema uses raw header
    # names, so include the dirty name variant too
    schema = schema.add("{amount}", T.DoubleType())
    res = process_day(
        spark,
        PipelineConfig(source_dir=source_dir, schema=schema),
        "2025-02-03",
        ParquetSink(str(tmp_path / "lake")),
    )
    assert res.ok and res.total_rows == 5
    assert "id" in res.columns and "amount" in res.columns


def test_explicit_schema_output_identical_and_skips_inference(spark, source_dir, tmp_path):
    """PipelineConfig.schema is the production mode: same rows/columns as
    inference mode, minus inference's extra read of every file. Both claims
    asserted: value-identical lake output, and a Spark-job-count probe
    showing plan construction runs fewer jobs without inference."""
    from pyspark.sql import types as T

    from etl_from_s3_to_postgresql_template_spark.pipeline import ingest_day_plan
    from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import (
        list_files,
        prune_paths_by_date,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("{amount}", T.DoubleType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("region", T.StringType()),
            T.StructField("date_time_column1", T.LongType()),
            T.StructField("note", T.StringType()),
            T.StructField("unused", T.StringType()),
        ]
    )
    day = "2025-02-03"
    inferred = process_day(
        spark, PipelineConfig(source_dir=source_dir), day, ParquetSink(str(tmp_path / "a"))
    )
    explicit = process_day(
        spark,
        PipelineConfig(source_dir=source_dir, schema=schema),
        day,
        ParquetSink(str(tmp_path / "b")),
    )
    assert explicit.total_rows == inferred.total_rows
    assert explicit.columns == inferred.columns
    a = spark.read.parquet(str(tmp_path / "a" / "merged"))
    b = spark.read.parquet(str(tmp_path / "b" / "merged"))
    # processed_date is run wall-clock metadata — expected to differ
    key = [c for c in a.columns if c != "processed_date"]
    assert sorted(map(tuple, a.select(key).collect())) == sorted(map(tuple, b.select(key).collect()))

    # Probe: building the plan runs Spark jobs only for the null-column
    # aggregate (+ CSV schema inference when enabled). Fewer jobs with an
    # explicit schema == the inference pass really was skipped.
    files = prune_paths_by_date(
        spark, [f for f in list_files(source_dir, spark=spark) if f.path.endswith((".csv", ".csv.gz"))], day
    )

    def jobs_during_plan_build(group, cfg) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, "plan-build probe")
        try:
            ingest_day_plan(spark, cfg, files, day)  # no action afterwards
        finally:
            sc.setJobGroup(None, None)
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    n_inferred = jobs_during_plan_build("probe-inferred", PipelineConfig(source_dir=source_dir))
    n_explicit = jobs_during_plan_build(
        "probe-explicit", PipelineConfig(source_dir=source_dir, schema=schema)
    )
    assert n_explicit < n_inferred, (n_explicit, n_inferred)


def test_on_error_skip_counts_bad_files(spark, tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    (d / "good_2025-02-03.csv").write_text("id,v\n1,10\n")
    # .csv.gz extension but NOT gzip -> unreadable
    (d / "bad_2025-02-03.csv.gz").write_bytes(b"this is not gzip at all")
    sink = ParquetSink(str(tmp_path / "lake"))

    import pytest as _pytest

    with _pytest.raises(Exception):
        process_day(spark, PipelineConfig(source_dir=str(d)), "2025-02-03", sink)

    res = process_day(spark, PipelineConfig(source_dir=str(d), on_error="skip"), "2025-02-03", sink)
    assert res.files_found == 2 and res.files_processed == 1
    assert res.skipped_files == ["bad_2025-02-03.csv.gz"]
    assert res.total_rows == 1


def test_undecodable_plain_csv_header_is_corrupt(spark, tmp_path):
    """A non-gzip CSV whose header has undecodable bytes is corrupt input,
    same as the .gz case — the reference's strict-utf-8 open raised for
    plain .csv too (etl_pipeline.py:368-374). It must be failed or
    skip-and-counted, never silently grouped under a mojibake header."""
    d = tmp_path / "src"
    d.mkdir()
    (d / "good_2025-02-03.csv").write_text("id,v\n1,10\n")
    (d / "mojibake_2025-02-03.csv").write_bytes(b"id,v\xff\xfe\n2,20\n")
    sink = ParquetSink(str(tmp_path / "lake"))

    import pytest as _pytest

    with _pytest.raises(Exception):
        process_day(spark, PipelineConfig(source_dir=str(d)), "2025-02-03", sink)

    res = process_day(spark, PipelineConfig(source_dir=str(d), on_error="skip"), "2025-02-03", sink)
    assert res.files_found == 2 and res.files_processed == 1
    assert res.skipped_files == ["mojibake_2025-02-03.csv"]


def test_all_files_unreadable_day_fails_not_raises(spark, tmp_path):
    """on_error='skip' + every matching file unreadable: the day returns a
    failed DayResult (ok False) instead of raising, so a backfill range
    continues past one rotten day."""
    d = tmp_path / "src"
    d.mkdir()
    (d / "bad_2025-02-03.csv.gz").write_bytes(b"not gzip")
    sink = ParquetSink(str(tmp_path / "lake"))
    res = process_day(spark, PipelineConfig(source_dir=str(d), on_error="skip"), "2025-02-03", sink)
    assert not res.ok
    assert res.files_found == 1 and res.files_processed == 0
    assert res.skipped_files == ["bad_2025-02-03.csv.gz"]


def test_recent_runs_and_rows_per_day(spark, source_dir, tmp_path):
    from etl_from_s3_to_postgresql_template_spark.pipeline import recent_runs, rows_per_source_date

    sink = ParquetSink(str(tmp_path / "lake"))
    process_range(spark, PipelineConfig(source_dir=source_dir), "2025-02-03", "2025-02-04", sink)
    runs = recent_runs(spark, str(tmp_path / "lake")).collect()
    assert len(runs) == 2
    assert runs[0]["date_processed"] >= runs[1]["date_processed"]
    per_day = {str(r["dt"]): r["row_count"] for r in rows_per_source_date(spark, str(tmp_path / "lake")).collect()}
    assert per_day == {"2025-02-03": 5, "2025-02-04": 1}


def test_analyze_dates(spark, source_dir):
    rows = analyze_dates(spark, PipelineConfig(source_dir=source_dir)).collect()
    by = {r["src_date"]: r["file_count"] for r in rows}
    assert by["2025-02-03"] == 3
    assert by["2025-02-04"] == 1
    assert by[None] == 1  # notes.txt has no extractable date


def test_lake_schema_evolution_across_days(spark, tmp_path):
    """A later day introduces a new column: day-partitioned parquet +
    mergeSchema reads give the union schema with nulls for the old day —
    ingest keeps working without migration, monitoring queries unchanged."""
    d = tmp_path / "src"
    d.mkdir()
    (d / "a_2025-02-03.csv").write_text("id,v\n1,10\n")
    (d / "a_2025-02-04.csv").write_text("id,v,extra\n2,20,x\n")
    sink = ParquetSink(str(tmp_path / "lake"))
    cfg = PipelineConfig(source_dir=str(d))
    process_range(spark, cfg, "2025-02-03", "2025-02-04", sink)

    lake = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "lake" / "merged"))
    assert "extra" in lake.columns
    rows = {r["id"]: r for r in lake.collect()}
    assert rows[1]["extra"] is None  # old day null-fills the new column
    assert rows[2]["extra"] == "x"
    # monitoring query still works over the evolved lake
    from etl_from_s3_to_postgresql_template_spark.pipeline import rows_per_source_date

    per_day = {str(r["dt"]): r["row_count"] for r in rows_per_source_date(spark, str(tmp_path / "lake")).collect()}
    assert per_day == {"2025-02-03": 1, "2025-02-04": 1}


def test_range_audit_rows_one_per_day(spark, tmp_path):
    """A multi-day range appends to ONE parquet audit path: every day's row
    must land, one per day."""
    d = tmp_path / "src"
    d.mkdir()
    for i in range(1, 9):
        (d / f"sales_2025-03-0{i}.csv").write_text(f"id,v\n{i},1\n")
    lake = str(tmp_path / "lake")
    results = process_range(
        spark,
        PipelineConfig(source_dir=str(d)),
        "2025-03-01",
        "2025-03-08",
        ParquetSink(lake),
    )
    assert all(r.ok for r in results) and len(results) == 8
    audit = spark.read.parquet(f"{lake}/data_processing_log")
    assert audit.count() == 8
    assert audit.select("date_of_data").distinct().count() == 8


def test_header_only_day_keeps_columns_and_audits_zero_rows(spark, tmp_path):
    """Every matching file has a header and no rows: every column is
    all-null, but with no rows there is nothing to judge them on, so none
    is dropped (dropping the metadata columns too left the sink nothing to
    write). The day loads 0 rows and audits 0."""
    d = tmp_path / "src"
    d.mkdir()
    (d / "a_2025-02-03.csv").write_text("id,amount\n")
    (d / "b_2025-02-03.csv").write_text("id,amount\n")
    lake = str(tmp_path / "lake")
    res = process_day(spark, PipelineConfig(source_dir=str(d)), "2025-02-03", ParquetSink(lake))
    assert res.ok and res.files_processed == 2
    assert res.total_rows == 0
    assert {"id", "amount", "source_file", "processed_date", "source_date", "files_merged_count"} <= set(res.columns)
    audit = spark.read.parquet(f"{lake}/data_processing_log").collect()
    assert len(audit) == 1 and audit[0]["total_row_count"] == 0


def test_explicit_schema_quoted_header_name_with_comma(spark, tmp_path):
    """A quoted header name may hold a comma: the explicit-schema projection
    parses the header as CSV, so every value stays under its own name."""
    from pyspark.sql import types as T

    d = tmp_path / "src"
    d.mkdir()
    (d / "s_2025-02-03.csv").write_text('id,"city, state",amount\n1,"Austin, TX",10.5\n')
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("amount", T.DoubleType())])
    lake = str(tmp_path / "lake")
    res = process_day(spark, PipelineConfig(source_dir=str(d), schema=schema), "2025-02-03", ParquetSink(lake))
    assert res.total_rows == 1
    row = spark.read.parquet(f"{lake}/merged").collect()[0]
    assert row["id"] == 1
    assert row["city, state"] == "Austin, TX"
    assert row["amount"] == 10.5


def test_process_day_runs_no_job_between_write_and_audit(spark, source_dir, tmp_path):
    """The day's row count comes from the write itself: no Spark job runs
    after write_day returns and before write_audit starts."""
    sc = spark.sparkContext
    group = "single-pass-probe"
    marks = []

    class RecordingSink(ParquetSink):
        def write_day(self, df, day):
            super().write_day(df, day)
            marks.append(len(sc.statusTracker().getJobIdsForGroup(group)))

        def write_audit(self, audit_df):
            marks.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            super().write_audit(audit_df)

    sc.setJobGroup(group, "single-pass probe")
    try:
        res = process_day(spark, PipelineConfig(source_dir=source_dir), "2025-02-03",
                          RecordingSink(str(tmp_path / "lake")))
    finally:
        sc.setJobGroup(None, None)
    assert res.total_rows == 5
    assert len(marks) == 2 and marks[0] > 0
    assert marks[1] == marks[0], marks


def test_audit_dates_ignore_driver_local_time_zone(spark, source_dir, tmp_path, monkeypatch):
    """The audit row's timestamps are UTC whatever the driver process's
    local time zone: 2025-02-03 is stored as midnight, not shifted by the
    zone's offset."""
    import datetime as dt
    import time

    lake = str(tmp_path / "lake")
    try:
        monkeypatch.setenv("TZ", "America/New_York")
        time.tzset()
        process_day(spark, PipelineConfig(source_dir=source_dir), "2025-02-03", ParquetSink(lake))
    finally:
        monkeypatch.undo()
        time.tzset()
    row = (
        spark.read.parquet(f"{lake}/data_processing_log")
        .selectExpr("cast(date_of_data as string) AS d", "cast(date_processed as string) AS p")
        .first()
    )
    assert row["d"] == "2025-02-03 00:00:00"
    processed = dt.datetime.fromisoformat(row["p"]).replace(tzinfo=dt.timezone.utc)
    assert abs(dt.datetime.now(dt.timezone.utc) - processed) < dt.timedelta(minutes=30)


def test_metadata_phase_runs_no_spark_job(spark, source_dir):
    """Pruning by filename date and probing headers are driver work: no
    Spark job runs for either."""
    from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import (
        list_files,
        probe_headers,
        prune_paths_by_date,
    )

    sc = spark.sparkContext
    group = "metadata-phase-probe"
    sc.setJobGroup(group, "metadata phase")
    try:
        files = prune_paths_by_date(spark, list_files(source_dir), "2025-02-03")
        groups, skipped = probe_headers(spark, files)
    finally:
        sc.setJobGroup(None, None)
    assert sorted(f.name for f in files) == [
        "data_2025-02-03T030000_export.csv.gz",
        "logs_2025_02_03.csv",
        "sales_2025-02-03.csv",
    ]
    assert {h: [f.name for f in fs] for h, fs in groups} == {
        "id,{amount},region,date_time_column1": ["sales_2025-02-03.csv"],
        "id,amount,note,unused": ["data_2025-02-03T030000_export.csv.gz"],
        "id,region": ["logs_2025_02_03.csv"],
    }
    assert skipped == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_day_frame_schema(spark, tmp_path):
    """The day frame's contract, in both schema modes: data columns in
    first-seen order, then processed_date (timestamp, NOT NULL),
    source_date (timestamp, nullable) and files_merged_count (int,
    NOT NULL) last. JdbcSink's CREATE TABLE is built from this schema."""
    from pyspark.sql import types as T

    from etl_from_s3_to_postgresql_template_spark.pipeline import ingest_day_plan
    from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import list_files

    d = tmp_path / "src"
    d.mkdir()
    (d / "a_2025-02-03.csv").write_text("id,{amount},date_time_column1\n1,10.5,1706918400\n")
    (d / "b_2025-02-03.csv").write_text("id,note\n2,hi\n")
    files = list_files(str(d))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("{amount}", T.DoubleType()),
            T.StructField("date_time_column1", T.LongType()),
        ]
    )
    metadata = [
        ("processed_date", "timestamp", False),
        ("source_date", "timestamp", True),
        ("files_merged_count", "int", False),
    ]

    def fields(cfg):
        df, skipped = ingest_day_plan(spark, cfg, files, "2025-02-03")
        assert skipped == []
        return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]

    assert fields(PipelineConfig(source_dir=str(d))) == [
        ("id", "int", True),
        ("amount", "double", True),
        ("date_time_column1", "int", True),
        ("source_file", "string", True),
        ("note", "string", True),
        ("date_time_column1_datetime", "timestamp", True),
    ] + metadata
    assert fields(PipelineConfig(source_dir=str(d), schema=schema)) == [
        ("id", "bigint", True),
        ("amount", "double", True),
        ("date_time_column1", "bigint", True),
        ("source_file", "string", True),
        ("note", "string", True),
        ("date_time_column1_datetime", "timestamp", True),
    ] + metadata


def test_days_of_one_shape_reuse_compiled_code(spark, tmp_path):
    """Days with the same header groups but different values and file
    counts compile no new code after the first: no value that changes per
    run or per day (processed_date, source_date, files_merged_count) is
    inlined into the generated code of the day's stages."""
    d = tmp_path / "src"
    d.mkdir()
    days = {"2025-04-01": 1, "2025-04-02": 2, "2025-04-03": 3}
    for n, (day, n_files) in enumerate(days.items(), 1):
        for i in range(n_files):
            k = 100 * n + 10 * i
            (d / f"sales{i}_{day}.csv").write_text(
                "id,amount,region,date_time_column1\n"
                f"{k},{k}.5,east,{1706918400 + k}\n"
                f"{k + 1},{k}.25,west,{1706918401 + k}\n"
                f"{k + 1},{k}.25,west,{1706918401 + k}\n"  # exact duplicate
            )
            (d / f"logs{i}_{day}.csv").write_text(f"id,note\n{k + 2},n{k}\n")
    cfg = PipelineConfig(source_dir=str(d))
    sink = ParquetSink(str(tmp_path / "lake"))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    (first, *rest) = days
    assert process_day(spark, cfg, first, sink).total_rows == 3
    after_first = compiles.getCount()
    assert [process_day(spark, cfg, day, sink).total_rows for day in rest] == [6, 9]
    assert compiles.getCount() == after_first
