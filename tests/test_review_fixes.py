"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.sinks import ParquetSink


def test_explicit_schema_clean_name_match_no_misalignment(spark, tmp_path):
    """Schema with CLEAN names against a brace-dirty header must not shift
    columns; unknown header columns load as strings, never dropped."""
    from pyspark.sql import types as T

    from etl_from_s3_to_postgresql_template_spark.pipeline import PipelineConfig, process_day

    d = tmp_path / "src"
    d.mkdir()
    (d / "sales_2025-02-03.csv").write_text(
        "id,{amount},region,mystery\n1,10.5,east,zz\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),  # clean name only
            T.StructField("region", T.StringType()),
            # 'mystery' absent from schema on purpose
        ]
    )
    res = process_day(
        spark,
        PipelineConfig(source_dir=str(d), schema=schema),
        "2025-02-03",
        ParquetSink(str(tmp_path / "lake")),
    )
    assert res.total_rows == 1
    assert {"id", "amount", "region", "mystery"} <= set(res.columns)


def test_files_merged_count_counts_files_not_groups(spark, tmp_path):
    from etl_from_s3_to_postgresql_template_spark.pipeline import PipelineConfig, process_day

    d = tmp_path / "src"
    d.mkdir()
    # two files with the SAME header -> one group, two files
    (d / "a_2025-02-03.csv").write_text("id,v\n1,10\n")
    (d / "b_2025-02-03.csv").write_text("id,v\n2,20\n")
    res = process_day(
        spark, PipelineConfig(source_dir=str(d)), "2025-02-03", ParquetSink(str(tmp_path / "lake"))
    )
    assert res.total_rows == 2
    # every data row must carry files_merged_count == 2 (files, not groups)
    # re-run capturing the plan output
    from etl_from_s3_to_postgresql_template_spark.pipeline import ingest_day_plan
    from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import list_files

    merged, skipped = ingest_day_plan(
        spark, PipelineConfig(source_dir=str(d)), list_files(str(d)), "2025-02-03"
    )
    vals = {r["files_merged_count"] for r in merged.select("files_merged_count").collect()}
    assert vals == {2}


def test_decode_media_short_blob_no_crash(spark):
    from etl_from_s3_to_postgresql_template_spark.operators.multimodal import decode_media

    bad = spark.createDataFrame(
        [(1, b"XX"), (2, b""), (3, None)], "media_id long, blob binary"
    )
    rows = {r["media_id"]: r for r in decode_media(bad).collect()}
    assert rows[1]["fmt"] is None and rows[1]["payload_bytes"] == 2
    assert rows[2]["payload_bytes"] == 0
    assert rows[3]["payload_bytes"] == 0


def test_dedup_udfs_null_text_no_crash(spark):
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import (
        minhash_candidates,
        simhash_candidates,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g"), Row(doc_id=2, text=None)],
        "doc_id long, text string",
    )
    # must not raise; null-text doc simply produces no real pairs
    assert minhash_candidates(docs).count() >= 0
    assert simhash_candidates(docs).count() >= 0


def test_text_quality_padded_input(spark):
    from etl_from_s3_to_postgresql_template_spark.functions.text import quality_columns

    df = spark.createDataFrame([Row(text="  hi yo  ")])
    q = quality_columns("text")
    r = df.select(q["avg_token_len"].alias("atl"), q["n_tokens"].alias("n")).collect()[0]
    assert r["n"] == 2
    # trimmed 'hi yo': 5 chars - 1 gap = 4 token chars / 2 tokens = 2.0
    # (the raw untrimmed length would have given 4.0)
    assert r["atl"] == 2.0


def test_salted_join_spreads_identical_hot_rows(spark):
    from etl_from_s3_to_postgresql_template_spark.operators.skew import salted_join

    # pathological hot key: all rows IDENTICAL (payload-derived salts collapse)
    big = spark.createDataFrame([(1, "same")] * 100, "k int, payload string")
    small = spark.createDataFrame([(1, "dim")], "k int, name string")
    b = big.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(8)).cast("int")
    )
    n_salts_used = b.select("__salt").distinct().count()
    assert n_salts_used > 1  # rows actually spread
    out = salted_join(big, small, "k", n_salts=8)
    assert out.count() == 100
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="full_outer")


def test_minhash_oversized_report(spark):
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import minhash_candidates

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="identical text repeated for every doc here") for i in range(10)]
    )
    pairs, oversized = minhash_candidates(docs, max_bucket_size=5, return_oversized=True)
    # every bucket holds all 10 identical docs -> all buckets oversized
    assert pairs.count() == 0
    assert oversized.count() > 0
    assert oversized.agg(F.max("bucket_size")).collect()[0][0] == 10


def test_list_files_hadoop_file_scheme(spark, tmp_path):
    """s3a://-style listing path, exercised via the file:// scheme (same
    Hadoop FileSystem API, locally available): identical FileInfo output
    to the local-glob branch, and requires a session."""
    import pytest

    from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import list_files

    d = tmp_path / "hls"
    d.mkdir()
    (d / "a_2025-02-03.csv").write_text("id\n1\n")
    (d / "b_2025-02-04.csv").write_text("id\n2\n")
    (d / "sub").mkdir()  # directories are not files: must be excluded

    local = list_files(str(d))
    hadoop = list_files(f"file://{d}", spark=spark)
    assert [f.name for f in hadoop] == [f.name for f in local] == [
        "a_2025-02-03.csv",
        "b_2025-02-04.csv",
    ]
    assert [f.size for f in hadoop] == [f.size for f in local]

    with pytest.raises(ValueError, match="requires a SparkSession"):
        list_files(f"file://{d}")


def test_probe_headers_groups_by_first_line(spark, tmp_path):
    """Header probe: groups by the first line, including .gz; a UTF-8 BOM is
    dropped and CRLF ends the line, as in Spark's text source; an empty
    file forms the "" group; a header that is valid UTF-8 holding U+FFFD is
    accepted (strict UTF-8, as the reference opened files); unreadable files
    skip-and-count."""
    import gzip

    from etl_from_s3_to_postgresql_template_spark.sources.csv_ingest import (
        list_files,
        probe_headers,
    )

    d = tmp_path / "ph"
    d.mkdir()
    (d / "x_2025-02-03.csv").write_text("id,a\n1,2\n")
    (d / "y_2025-02-03.csv").write_text("id,a\n3,4\n")
    with gzip.open(d / "z_2025-02-03.csv.gz", "wt") as f:
        f.write("id,b\n5,6\n")
    (d / "bad_2025-02-03.csv.gz").write_bytes(b"not gzip")
    (d / "bom_2025-02-03.csv").write_bytes(b"\xef\xbb\xbfid,a\n7,8\n")
    (d / "crlf_2025-02-03.csv").write_bytes(b"id,a\r\n9,10\r\n")
    (d / "empty_2025-02-03.csv").write_bytes(b"")
    (d / "fffd_2025-02-03.csv").write_bytes("id,\ufffd\n1,2\n".encode("utf-8"))

    files = list_files(str(d))
    groups, skipped = probe_headers(spark, files, on_error="skip")
    got = {h: sorted(f.name for f in fs) for h, fs in groups}
    assert got == {
        "id,a": ["bom_2025-02-03.csv", "crlf_2025-02-03.csv", "x_2025-02-03.csv", "y_2025-02-03.csv"],
        "id,b": ["z_2025-02-03.csv.gz"],
        "": ["empty_2025-02-03.csv"],
        "id,\ufffd": ["fffd_2025-02-03.csv"],
    }
    assert [f.name for f in skipped] == ["bad_2025-02-03.csv.gz"]
    # scheme-qualified paths (the Hadoop listing branch) probe the same
    groups, skipped = probe_headers(spark, list_files(f"file://{d}", spark=spark), on_error="skip")
    assert {h: sorted(f.name for f in fs) for h, fs in groups} == got
    assert [f.name for f in skipped] == ["bad_2025-02-03.csv.gz"]


def test_simhash_oversized_bucket_cap_and_report(spark):
    """Planted boilerplate cluster: identical docs collapse onto the same
    chunk values; with the cap below the cluster size no pairs emit and the
    report names every oversized (chunk_id, chunk_val) bucket."""
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import simhash_candidates

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="identical boilerplate text for every doc") for i in range(10)]
    )
    pairs, oversized = simhash_candidates(docs, max_bucket_size=5, return_oversized=True)
    assert pairs.count() == 0
    assert oversized.count() > 0
    assert oversized.agg(F.max("bucket_size")).collect()[0][0] == 10
    # cap above the cluster: full pair fan-out returns (cap changes nothing
    # for in-bounds buckets)
    assert simhash_candidates(docs, max_bucket_size=100).count() == 45


def test_fuzzy_oversized_block_cap_and_report(spark):
    """Planted dominant (lang, source, band) stratum: 12 same-length docs in
    one block vs a cap of 5 — no pairs from that block, report lists it."""
    from etl_from_s3_to_postgresql_template_spark.operators.dedup import fuzzy_pairs_blocked

    rows = [
        Row(doc_id=i, lang="en", source="crawl", n_chars=100, text=f"doc number {i} text")
        for i in range(12)
    ] + [
        Row(doc_id=100 + i, lang="de", source="wiki", n_chars=100, text=f"andere {i}")
        for i in range(3)
    ]
    docs = spark.createDataFrame(rows)
    pairs, oversized = fuzzy_pairs_blocked(
        docs, max_block_size=5, topk=1000, return_oversized=True
    )
    got = {(r.doc_id_a, r.doc_id_b) for r in pairs.collect()}
    # only the small de/wiki block survives: 3 docs -> 3 pairs
    assert got == {(100, 101), (100, 102), (101, 102)}
    rep = oversized.collect()
    assert len(rep) == 1 and rep[0].lang == "en" and rep[0].block_size == 12
    # cap above: the en block's 66 pairs come back too
    assert fuzzy_pairs_blocked(docs, max_block_size=500, topk=1000).count() == 69
