"""Streaming == batch equivalence over a drained fixture stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.plans import QUERIES
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
    run_stateful_user_counts_stream,
    run_tumbling_counts_stream,
)

SF = "/root/testdata/sf0.001"


def test_streaming_tumbling_equals_batch(spark):
    stream_rows = {
        (r["w_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in run_tumbling_counts_stream(spark, SF).collect()
    }
    batch_rows = {
        (r["w_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in QUERIES["window_tumbling_events"](spark, SF).collect()
    }
    assert stream_rows == batch_rows


def test_stateful_counts_equal_batch_group_count(spark):
    got = {r["user_id"]: r["n"] for r in run_stateful_user_counts_stream(spark, SF).collect()}
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_foreachbatch_parquet_sink_lands_all_rows(spark, tmp_path):
    from etl_from_s3_to_postgresql_template_spark.streaming.sink import (
        read_landing,
        run_events_stream_to_parquet,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_events_stream_to_parquet(spark, SF, out, ckpt)
    landed = read_landing(spark, out)
    n_src = load_table(spark, SF, "events").count()
    assert landed.count() == n_src
    assert "_batch_id" in landed.columns
    # re-run with the SAME checkpoint: offsets committed -> no-op
    run_events_stream_to_parquet(spark, SF, out, ckpt)
    assert read_landing(spark, out).count() == n_src
    # re-run with a FRESH checkpoint (simulated batch replay): dynamic
    # overwrite rewrites the same _batch_id partitions -> still no dupes
    run_events_stream_to_parquet(spark, SF, out, str(tmp_path / "ckpt2"))
    assert read_landing(spark, out).count() == n_src


def test_streaming_dedup_removes_real_duplicates(spark, tmp_path):
    """The fixture's event_ids are unique, so the oracle check alone can't
    prove dedup fires; here the stream reads a doubled copy of events and
    must return each event_id once."""
    import shutil

    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        run_dedup_events_stream,
    )

    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        _events_raw_schema,
    )

    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    # double the RAW file (ts keeps its physical type — stream_events expects
    # the physical schema, not load_table's converted timestamps)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = spark.read.schema(_events_raw_schema(spark, SF)).parquet(f"{SF}/events.parquet")
    src.unionByName(src).coalesce(1).write.parquet(str(tmp_path / "tmp_out"))
    part = next((tmp_path / "tmp_out").glob("part-*.parquet"))
    shutil.copy(part, dup_dir / "events.parquet")
    n_unique = src.count()
    got = run_dedup_events_stream(spark, str(dup_dir))
    assert got.count() == n_unique


def test_stateful_query_on_rocksdb_state_store(spark, tmp_path):
    """The at-scale state backend: the same stateful aggregation runs on
    the RocksDB state-store provider (incremental checkpointing, state
    spills off-heap — the backend for 1e8+-key state) and produces results
    identical to batch. Provider engagement is proven by the checkpoint's
    RocksDB zip layout (the HDFS-backed default writes .delta files
    instead)."""
    import glob as g

    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "rocksdb_ckpt")
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    from etl_from_s3_to_postgresql_template_spark.sources.registry import (
        events_physical_schema,
        load_table,
        normalize_events_ts,
    )

    try:
        ev = (
            spark.readStream.schema(events_physical_schema(spark, SF))
            .option("pathGlobFilter", "events.parquet")
            .parquet(SF)
        )
        agg = (
            normalize_events_ts(ev, for_streaming=True)
            .withWatermark("ts", "10 minutes")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocksdb_out")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r["event_type"]: r["n"] for r in spark.table("rocksdb_out").collect()}
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)

    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    # RocksDB layout: versioned zips under state/, no HDFS-store .delta files
    assert g.glob(f"{ckpt}/state/**/*.zip", recursive=True)
    assert not g.glob(f"{ckpt}/state/**/*.delta", recursive=True)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("append").parquet(path)


def test_dedup_state_survives_checkpoint_restart(spark, tmp_path):
    """Exactly-once across a stop/restart: out-of-order input, duplicates
    WITHIN one run, duplicates ACROSS the restart boundary (same event_id
    re-arriving in run 2 while still inside the watermark). The state store
    checkpoint must carry the dedup keys over the restart, so landed rows
    are one per distinct event_id — no loss, no double-count."""
    import datetime as dt

    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        run_dedup_events_to_landing,
    )
    from etl_from_s3_to_postgresql_template_spark.streaming.sink import read_landing

    src = str(tmp_path / "src")
    out = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")

    def ts(minute):
        return dt.datetime(2025, 2, 3, 12, minute)

    # Run 1: ids 1..50, shuffled/out-of-order ts, ids 10 and 20 duplicated.
    rows1 = [(i, ts(i % 30), i % 7, "click", float(i), None) for i in range(1, 51)]
    rows1 += [(10, ts(9), 3, "click", 10.0, None), (20, ts(21), 6, "click", 20.0, None)]
    rows1 = rows1[1::2] + rows1[0::2]  # scramble arrival order
    _write_events(spark, src, rows1)
    run_dedup_events_to_landing(spark, src, out, ckpt)
    landed1 = read_landing(spark, out)
    assert landed1.count() == 50
    assert landed1.select("event_id").distinct().count() == 50

    # Run 2 (restart, same checkpoint): ids 40..80 — 40..50 are duplicates
    # of run 1 within the 1h watermark, 51..80 are new; again out-of-order.
    rows2 = [(i, ts((i * 3) % 30), i % 7, "view", float(i), None) for i in range(40, 81)]
    rows2 = rows2[1::2] + rows2[0::2]
    _write_events(spark, src, rows2)
    run_dedup_events_to_landing(spark, src, out, ckpt)

    landed2 = read_landing(spark, out)
    got = sorted(r["event_id"] for r in landed2.select("event_id").collect())
    assert got == list(range(1, 81)), "cross-restart duplicates must be dropped exactly-once"

    # Replay with the same checkpoint: committed offsets -> no-op.
    run_dedup_events_to_landing(spark, src, out, ckpt)
    assert read_landing(spark, out).count() == 80


def test_rate_source_contract_and_composition(spark, tmp_path):
    """The kafka-shaped rate seam: same column contract as stream_events,
    and downstream watermarked dedup composes unmodified on the unbounded
    source (one deterministic micro-batch drained via availableNow)."""
    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        EVENTS_STREAM_COLUMNS,
        stream_events_rate,
        stream_events,
    )

    rate = stream_events_rate(spark, rows_per_batch=200, n_users=50)
    assert rate.isStreaming
    assert tuple(rate.columns) == EVENTS_STREAM_COLUMNS
    static = stream_events(spark, SF)
    assert tuple(static.columns) == tuple(rate.columns)

    out = (
        rate.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_contract_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(60)
    out.stop()
    rows = spark.table("rate_contract_out").collect()
    assert len(rows) == 200
    assert all(0 <= r["user_id"] < 50 for r in rows)
    assert {r["event_type"] for r in rows} <= {"click", "view", "purchase", "scroll", "login"}


def test_streaming_corpus_pipeline_e2e(spark, tmp_path):
    """System composition: streaming document arrival -> quality gate ->
    content dedup (in-batch + vs landed) -> landing -> compaction. Asserts
    content-level idempotence: cross-run duplicates never re-land, even on
    a full replay with a fresh checkpoint."""
    from etl_from_s3_to_postgresql_template_spark.sinks.compact import compact_parquet
    from etl_from_s3_to_postgresql_template_spark.streaming.sink import (
        run_corpus_stream_to_landing,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    doc_schema = "doc_id long, text string, lang string, source string"

    def write_docs(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode("append").parquet(src)

    # Batch 1: 3 good docs (one internal duplicate pair) + 1 too-short doc.
    write_docs(
        [
            (1, "alpha beta gamma delta", "en", "web"),
            (2, "alpha beta gamma delta", "en", "web"),  # dup of 1 by content
            (3, "epsilon zeta eta theta", "en", "web"),
            (4, "tiny", "en", "web"),  # fails quality gate (1 token)
        ]
    )
    run_corpus_stream_to_landing(spark, src, out, str(tmp_path / "ck1"))
    landed = spark.read.parquet(f"{out}/docs")
    assert landed.count() == 2
    assert {r["doc_id"] for r in landed.collect()} == {1, 3}

    # Batch 2: cross-batch duplicate of doc 1 + genuinely new doc.
    write_docs(
        [
            (5, "ALPHA  beta gamma delta", "en", "web"),  # same normalized content as 1
            (6, "iota kappa lambda mu", "en", "web"),
        ]
    )
    run_corpus_stream_to_landing(spark, src, out, str(tmp_path / "ck1"))
    assert {r["doc_id"] for r in spark.read.parquet(f"{out}/docs").collect()} == {1, 3, 6}

    # Full replay with a FRESH checkpoint: content idempotence holds.
    run_corpus_stream_to_landing(spark, src, out, str(tmp_path / "ck2"))
    assert {r["doc_id"] for r in spark.read.parquet(f"{out}/docs").collect()} == {1, 3, 6}

    # Compaction: many tiny appended files -> 1, content unchanged.
    report = compact_parquet(spark, f"{out}/docs", target_file_bytes=1 << 30)
    after = spark.read.parquet(f"{out}/docs")
    assert {r["doc_id"] for r in after.collect()} == {1, 3, 6}
    assert report.files_after <= report.files_before


def test_corpus_landing_unreadable_landed_set_raises(spark, tmp_path):
    """A landed set that exists but cannot be read must fail the batch:
    landing without the cross-run anti-join would re-land every doc."""
    import os

    from pyspark.errors import StreamingQueryException

    from etl_from_s3_to_postgresql_template_spark.streaming.sink import (
        run_corpus_stream_to_landing,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "web"), (3, "delta epsilon zeta", "en", "web")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.parquet(src)
    run_corpus_stream_to_landing(spark, src, out, str(tmp_path / "ck1"))
    bad = f"{out}/docs/part-00000-00000000-0000-0000-0000-000000000000-c000.snappy.parquet"
    with open(bad, "wb") as f:
        f.write(b"not a parquet file")
    failed = None
    try:  # a replay with a fresh checkpoint
        run_corpus_stream_to_landing(spark, src, out, str(tmp_path / "ck2"))
    except StreamingQueryException as e:
        failed = e
    os.remove(bad)
    landed = sorted(r["doc_id"] for r in spark.read.parquet(f"{out}/docs").collect())
    assert landed == [1, 3]
    assert failed is not None and "FOREACH_BATCH_USER_FUNCTION_ERROR" in str(failed)


def test_python_streaming_datasource_offsets_and_restart(spark, tmp_path):
    """Custom STREAMING source via the Python DataSource API: offsets are
    tracked in the checkpoint, batches are deterministic, and a restart
    from the same checkpoint resumes AFTER the rows already delivered —
    no duplicates, no gaps (the readBetweenOffsets replay contract)."""
    from etl_from_s3_to_postgresql_template_spark.sources.pyds import (
        SyntheticEventsStreamDataSource,
    )

    try:
        spark.dataSource.register(SyntheticEventsStreamDataSource)
    except Exception:
        pass
    out = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")

    def run_until_rows(target_rows):
        # Wait on COMMITTED OUTPUT, not on trigger counts: recentProgress
        # length vs a wall-clock deadline is timing-flaky on a loaded host
        # (ADVICE r3). spark.read on a streaming FileSink dir honors
        # _spark_metadata, so counts only ever show whole committed batches.
        q = (
            spark.readStream.format("synthetic_events_stream")
            .option("rows_per_batch", 50)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= target_rows:
                    break
            except Exception:  # sink dir not created yet
                pass
            time.sleep(0.4)
        q.stop()
        q.awaitTermination()

    run_until_rows(50)  # at least one committed batch
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 > 0 and n1 % 50 == 0
    assert first.select("event_id").distinct().count() == n1  # no dups

    run_until_rows(n1 + 50)  # restart from the same checkpoint
    both = spark.read.parquet(out)
    n2 = both.count()
    assert n2 > n1
    assert both.select("event_id").distinct().count() == n2  # still exactly-once
    # contiguous prefix 0..n2-1: offsets resumed, nothing skipped
    from pyspark.sql import functions as SF

    assert both.agg(SF.min("event_id"), SF.max("event_id")).collect()[0] == (0, n2 - 1)


def test_stream_stream_left_outer_null_emission(spark, tmp_path):
    """Left-outer stream-stream join semantics: an unmatched left row must
    emit with NULLs — but only after BOTH sides' watermarks pass its join
    window (until then it could still match). Planted: user 1's purchase
    has an error within the 10-minute lookback (matches), user 2's has
    none (must null-emit); late 'pusher' rows on both sides advance the
    two-sided watermark past the window. A row whose window the final
    watermark has NOT passed (the pusher purchase itself) must NOT emit —
    emitting it early would be wrong, not incomplete."""
    import pyspark.sql.functions as SF

    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    sch = "event_id long, ts string, user_id long, event_type string, value double, props string"
    rows1 = [
        (1, "2024-01-01 10:00:00", 1, "purchase", 1.0, "{}"),
        (2, "2024-01-01 09:58:00", 1, "error", 1.0, "{}"),
        (3, "2024-01-01 10:00:00", 2, "purchase", 1.0, "{}"),
    ]
    rows2 = [
        (8, "2024-01-01 13:00:00", 98, "purchase", 1.0, "{}"),
        (9, "2024-01-01 13:00:00", 99, "error", 1.0, "{}"),
    ]
    for name, rows in (("f1.parquet", rows1), ("f2.parquet", rows2)):
        spark.createDataFrame(rows, sch).withColumn(
            "ts", SF.col("ts").cast("timestamp")
        ).write.mode("overwrite").parquet(os.path.join(src, name))
    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema

    def build():
        raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
            src + "/*/"
        )
        p = (
            raw.filter(SF.col("event_type") == "purchase")
            .select(SF.col("event_id").alias("pid"), "user_id", SF.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "1 minute")
        )
        e = (
            raw.filter(SF.col("event_type") == "error")
            .select(
                SF.col("event_id").alias("eid"),
                SF.col("user_id").alias("eu"),
                SF.col("ts").alias("e_ts"),
            )
            .withWatermark("e_ts", "1 minute")
        )
        return p.join(
            e,
            (p.user_id == e.eu)
            & (e.e_ts >= SF.expr("p_ts - INTERVAL 10 MINUTES"))
            & (e.e_ts <= p.p_ts),
            "leftOuter",
        )

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    for _ in range(2):  # second run = no-data batch that flushes outer state
        q = (
            build()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {r["pid"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["eid"] == 2  # matched within lookback
    assert got[3]["eid"] is None and got[3]["eu"] is None  # null-emitted
    assert 8 not in got  # window not yet past watermark: correctly withheld


def test_kafka_projection_deserializes_wire_frame(spark):
    """The Kafka value-deserializer is unit-testable without the kafka
    package: apply it to a STATIC DataFrame with the kafka source's wire
    schema and check the events contract holds, including the malformed-
    payload (null fields, broker-time fallback) path."""
    import datetime as dt
    import json as _json

    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        EVENTS_STREAM_COLUMNS,
        kafka_events_projection,
    )

    broker_ts = dt.datetime(2025, 1, 1, 0, 5, 0)
    good = _json.dumps(
        {
            "event_id": 7,
            "ts": "2025-01-01T00:00:42Z",
            "user_id": 3,
            "event_type": "click",
            "value": 1.5,
            "props": '{"k":1}',
        }
    ).encode()
    rows = [
        (b"k1", good, "events", 0, 100, broker_ts, 0),
        (b"k2", b"not json {", "events", 0, 101, broker_ts, 0),
    ]
    raw = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, offset long,"
        " timestamp timestamp, timestampType int",
    )
    out = kafka_events_projection(raw)
    assert tuple(out.columns) == EVENTS_STREAM_COLUMNS
    got = {r["event_id"]: r for r in out.collect()}
    assert got[7]["user_id"] == 3 and got[7]["event_type"] == "click"
    assert got[7]["value"] == 1.5 and got[7]["props"] == '{"k":1}'
    assert got[7]["ts"] == dt.datetime(2025, 1, 1, 0, 0, 42)
    # malformed payload: kept (DLQ-routable), event time falls back to broker time
    assert None in got and got[None]["ts"] == broker_ts


def test_stream_events_kafka_plan_when_package_present(spark):
    """Builds the real kafka readStream plan; skips (like PIL/pyav) when
    the spark-sql-kafka package is absent from the classpath."""
    import pytest

    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        EVENTS_STREAM_COLUMNS,
        stream_events_kafka,
    )

    try:
        df = stream_events_kafka(
            spark, "localhost:9092", "events", max_offsets_per_trigger=10_000
        )
    except Exception as e:  # noqa: BLE001 - dep gate, mirror multimodal decoders
        msg = str(e)
        if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg or "kafka" in msg.lower():
            pytest.skip("spark-sql-kafka package not on classpath in this container")
        raise
    assert df.isStreaming
    assert tuple(df.columns) == EVENTS_STREAM_COLUMNS
