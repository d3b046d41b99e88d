"""Structured Streaming ingest of the events table (north-star E5).

The reference has zero streaming (its day loop is sequential batch —
SURVEY §2.11); this module is the streaming surface the north star adds:
file-arrival ingest -> event-time windowed aggregation with watermark, and a
custom stateful operator via ``applyInPandasWithState``.

Test/driver harness: the parquet file source + ``Trigger.AvailableNow`` +
memory sink runs a real streaming query (incremental execution, state store,
watermark advance) to completion synchronously — deterministic, no clocks.
The SAME aggregation plan runs in plans/query_pack.py as a batch query;
batch == streaming-complete output is the correctness argument, and the
DuckDB oracle checks both.

At scale the source line swaps for Kafka/file-arrival on S3 and the sink for
``foreachBatch``-into-JDBC/Delta; watermark handles late data, and state
lives in the checkpointed state store per 'user_id' shuffle partition.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_name_counter = itertools.count()


def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Physical schema of events.parquet (shared probe; see registry)."""
    from etl_from_s3_to_postgresql_template_spark.sources.registry import (
        events_physical_schema,
    )

    return events_physical_schema(spark, sf_dir)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of events with event-time ts."""
    from etl_from_s3_to_postgresql_template_spark.sources.registry import (
        normalize_events_ts,
    )

    # defensive for sessions not built by session.py (see sources/registry.py):
    # nanosAsLong for TIMESTAMP(NANOS) files, and UTC so the NTZ->timestamp
    # cast below is instant-exact for direct callers with a non-UTC session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = _events_raw_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw, for_streaming=True)


#: The column contract every events stream source honors (events.parquet
#: physical schema after normalize_events_ts, minus nothing).
EVENTS_STREAM_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def stream_events_rate(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    n_users: int = 50,
    start_timestamp_ms: int = 1735689600000,  # 2025-01-01T00:00:00Z
    advance_ms_per_batch: int = 60_000,
) -> DataFrame:
    """Kafka-shaped UNBOUNDED source behind the same contract as
    :func:`stream_events`: same columns, same types, but micro-batches keep
    arriving forever instead of draining a fixed file set.

    Built on the deterministic ``rate-micro-batch`` source (seq number +
    batch-advanced timestamp), projected into the events schema — so every
    downstream operator (watermarked windows, dropDuplicatesWithinWatermark,
    applyInPandasWithState) runs unmodified against an endless stream. In
    production the one line that changes is this source becoming
    ``spark.readStream.format("kafka")...`` + a value-deserializing
    projection; nothing downstream moves. That seam is the point.
    """
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", start_timestamp_ms)
        .option("advanceMillisPerBatch", advance_ms_per_batch)
        .load()
    )  # columns: timestamp timestamp, value long
    etypes = F.array(*[F.lit(t) for t in ("click", "view", "purchase", "scroll", "login")])
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % n_users).alias("user_id"),
        F.element_at(etypes, (F.col("value") % 5).cast("int") + 1).alias("event_type"),
        ((F.col("value") % 9973) / F.lit(100.0)).alias("value"),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


#: JSON payload schema for events on the wire (Kafka value / JSONL line).
EVENTS_WIRE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def kafka_events_projection(raw: DataFrame) -> DataFrame:
    """Kafka wire columns -> the :data:`EVENTS_STREAM_COLUMNS` contract.

    ``raw`` has the Kafka source's fixed schema (key/value binary, topic,
    partition, offset, timestamp, timestampType). The value is a JSON
    events payload; rows whose value fails to parse are kept with null
    fields rather than dropped (PERMISSIVE semantics — route to a DLQ by
    filtering ``event_id IS NULL`` downstream). Split out from
    :func:`stream_events_kafka` so the deserializer is unit-testable on a
    kafka-shaped STATIC DataFrame in environments without the
    spark-sql-kafka package (this container).
    """
    parsed = F.from_json(F.col("value").cast("string"), EVENTS_WIRE_JSON_SCHEMA)
    return raw.select(
        parsed["event_id"].alias("event_id"),
        # event time comes from the payload; fall back to the broker
        # append time so late/malformed producers still watermark sanely
        F.coalesce(parsed["ts"], F.col("timestamp")).alias("ts"),
        parsed["user_id"].alias("user_id"),
        parsed["event_type"].alias("event_type"),
        parsed["value"].alias("value"),
        parsed["props"].alias("props"),
    )


def stream_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source behind the same contract as :func:`stream_events`.

    Requires the ``spark-sql-kafka-0-10`` package on the session's
    classpath (``spark.jars.packages``); absent (as in this container),
    ``.load()`` raises Spark's data-source-not-found error — callers and
    tests gate on that, exactly like the PIL/pyav media decoders.
    ``maxOffsetsPerTrigger`` is the per-micro-batch backpressure knob: at
    production scale it bounds batch size so state-store checkpoints and
    sink commits stay fixed-cost regardless of broker backlog depth.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # a purged-but-committed offset should surface as a gap, not kill
        # the query: the landing is idempotent per batch_id (sink.py)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return kafka_events_projection(reader.load())


def run_dedup_events_to_landing(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Restartable watermarked streaming dedup into the idempotent parquet
    landing: file source over ``src_dir`` (parquet events, new files picked
    up per start), dropDuplicatesWithinWatermark state in the checkpointed
    state store, foreachBatch batch_id-keyed landing.

    This is the restart-with-state contract: stop the query, add files,
    call again with the SAME ``checkpoint_dir`` — the source resumes from
    committed offsets and the dedup state SURVIVES the restart, so a
    duplicate of an already-seen event_id arriving after the restart (still
    inside the watermark) is dropped, and landed rows stay exactly-once.
    """
    from etl_from_s3_to_postgresql_template_spark.streaming.sink import (
        foreach_batch_parquet,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    ev = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        ev.writeStream.foreachBatch(foreach_batch_parquet(out_path))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _run_to_memory(spark: SparkSession, agg: DataFrame, output_mode: str) -> DataFrame:
    name = f"stream_out_{next(_name_counter)}"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def tumbling_counts(ev: DataFrame, window: str) -> DataFrame:
    """(w_start, event_type, n, total_value) per event-time tumbling
    window — the one aggregation behind the batch query
    window_tumbling_events and ``run_tumbling_counts_stream``."""
    return (
        ev.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: bit-identical across the batch and
            # streaming runs and the DuckDB oracle regardless of
            # per-batch summation order
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(ev: DataFrame, window: str, slide: str) -> DataFrame:
    """(w_start, event_type, n) per sliding event-time window — every
    event lands in window/slide windows; behind window_sliding_events
    and ``run_sliding_counts_stream``."""
    return (
        ev.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
        )
    )


def session_counts(ev: DataFrame, gap: str) -> DataFrame:
    """(user_id, session_start, session_end, n) per gap-based session
    window — behind window_session_events and
    ``run_session_windows_stream``."""
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n",
        )
    )


def run_tumbling_counts_stream(
    spark: SparkSession, sf_dir: str, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time tumbling window counts as a real streaming query.

    Complete output mode so every window is emitted once input is drained
    (append mode would withhold the final window: the watermark never passes
    the max event time). The watermark still exercises late-data tracking.
    """
    ev = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    return _run_to_memory(spark, tumbling_counts(ev, window), "complete")


def run_sliding_counts_stream(
    spark: SparkSession, sf_dir: str, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding event-time windows as a streaming query (complete mode)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(spark, sliding_counts(ev, window, slide), "complete")


def run_stream_stream_join(spark: SparkSession, sf_dir: str, lookback: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same user's
    error events within the preceding ``lookback``.

    Both sides carry watermarks; the time-range join condition bounds the
    state each side must retain (unbounded stream-stream joins are
    impossible — the range IS the state-eviction contract). Inner join +
    AvailableNow emits every match once drained, so the result equals the
    batch range-join — which is the DuckDB oracle."""
    base = stream_events(spark, sf_dir)
    p = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    e = (
        base.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "10 minutes")
    )
    joined = p.join(
        e,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("e_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        "user_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("p_ts"),
        "error_id",
        F.date_format("e_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("e_ts"),
    )
    return _run_to_memory(spark, joined, "append")


def _count_events(
    key: tuple, pdfs: "pd.DataFrame iterator", state: GroupState  # noqa: F722
):
    """Stateful per-user event counter: GroupState accumulates across
    micro-batches; emits the running total per batch."""
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n]})


def run_stateful_user_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running per-user
    event counts. With AvailableNow over a static fixture this equals the
    batch groupBy count — the oracle-checkable contract."""
    ev = stream_events(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        _count_events,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(spark, out, "update")


def run_dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicatesWithinWatermark on event_id.

    The watermark bounds the dedup state (keys older than watermark are
    evicted — without it, streaming dedup state grows forever). Over the
    static fixture drained with AvailableNow every duplicate is in-state
    when its twin arrives, so the output equals batch DISTINCT — the
    oracle-checkable contract. Emits one row per distinct event_id."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
    )
    return _run_to_memory(spark, out, "append")


def run_session_windows_stream(
    spark: SparkSession, sf_dir: str, gap: str = "5 minutes"
) -> DataFrame:
    """Per-user session windows as a real streaming query: session_window
    merges events into dynamic gap-based windows in the state store
    (sessions EXPAND as events arrive — unlike fixed windows, the state
    key itself changes, which is why this needs the dedicated session
    operator). Complete mode emits the fully-merged sessions once input
    drains; update mode is unsupported for streaming session windows."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(spark, session_counts(ev, gap), "complete")


def run_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: streaming events enriched with a static
    dimension (nation, keyed by user_id % 25) and aggregated per nation.

    The production pattern this models is dimension enrichment of an event
    stream. A static side needs no watermark and holds no join state —
    Spark broadcasts it into every micro-batch, so the stream side never
    shuffles for the join (state cost is the AGGREGATION's, bounded by
    |nations|). With AvailableNow + complete mode the drained result
    equals the batch join — the DuckDB oracle."""
    from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table

    ev = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = ev.withColumn("nk", (F.col("user_id") % 25).cast("int")).join(
        F.broadcast(dim), F.col("nk") == F.col("n_nationkey")
    )
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("total_value"),
    )
    return _run_to_memory(spark, agg, "complete")
