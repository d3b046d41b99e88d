"""foreachBatch streaming sinks — the E5 landing path (SURVEY §2.11).

The reference lands data with pandas ``to_sql`` inside a sequential day
loop (etl_pipeline.py:485-530); the streaming-era equivalent is
``writeStream.foreachBatch``: each micro-batch arrives as a regular
DataFrame, so the SAME batch sinks (ParquetSink/JdbcSink options) apply
unchanged, and the checkpoint gives restart-exactly-once bookkeeping.

Idempotency contract (the part worth getting right at scale):

- foreachBatch is at-least-once — after a crash the last batch REPLAYS
  with the same ``batch_id``. The parquet sink therefore partitions the
  landing table by ``_batch_id`` and writes with dynamic partition
  overwrite: a replay rewrites its own partition instead of appending a
  duplicate. Write-side idempotency + checkpointed offsets = effective
  exactly-once, no sink transactions needed.
- The JDBC variant only appends, stamping ``_batch_id`` on every row: a
  replayed batch lands twice, and the downstream loader reconciles it
  (delete-then-insert on ``_batch_id``). The path is e2e-tested against
  embedded Derby (tests/test_jdbc_sink.py); in production the URL points
  at PostgreSQL and nothing else changes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.sinks.base import JdbcSink
from etl_from_s3_to_postgresql_template_spark.sinks.swap import hadoop_fs
from etl_from_s3_to_postgresql_template_spark.streaming.ingest import stream_events


def foreach_batch_parquet(out_path: str, table_name: str = "events_stream") -> Callable:
    """Batch writer: land each micro-batch under ``_batch_id=<n>`` with
    dynamic partition overwrite, so batch replays are idempotent."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(f"{out_path}/{table_name}")
        )

    return _write


def foreach_batch_jdbc(sink: JdbcSink) -> Callable:
    """Batch writer into a JDBC table, reusing JdbcSink's reference-derived
    options (batchsize, queryTimeout, connection cap). Rows carry
    ``_batch_id`` so a replayed batch can be reconciled (delete-then-insert
    on _batch_id) by the downstream loader."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.withColumn("_batch_id", F.lit(batch_id)).coalesce(sink.num_partitions)
        sink._writer(out, sink.table_name).mode("append").save()

    return _write


def run_events_stream_to_parquet(
    spark: SparkSession, sf_dir: str, out_path: str, checkpoint_dir: str
) -> None:
    """Stream the events fixture into a parquet landing table via
    foreachBatch + AvailableNow; returns after the source is drained.

    Re-running with the same checkpoint is a no-op (offsets committed);
    re-running with a fresh checkpoint overwrites the same ``_batch_id``
    partitions — either way the landing table never double-loads.
    """
    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(foreach_batch_parquet(out_path))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_events_stream_to_jdbc(
    spark: SparkSession, sf_dir: str, sink: JdbcSink, checkpoint_dir: str
) -> None:
    """Stream the events fixture into a JDBC table via foreachBatch +
    AvailableNow — the streaming-era version of the reference's
    S3 -> PostgreSQL load. Same checkpoint => no-op on re-run (offsets
    committed); a replayed batch is identifiable by ``_batch_id``."""
    ev = stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    q = (
        ev.writeStream.foreachBatch(foreach_batch_jdbc(sink))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_landing(spark: SparkSession, out_path: str, table_name: str = "events_stream") -> DataFrame:
    """Read the foreachBatch parquet landing table back."""
    return spark.read.parquet(f"{out_path}/{table_name}")


def run_corpus_stream_to_landing(
    spark: SparkSession, src_dir: str, out_path: str, checkpoint_dir: str
) -> None:
    """Streaming corpus ingestion, end-to-end: file-arrival documents ->
    per-batch quality gate -> content-hash dedup WITHIN the batch AND
    against everything already landed -> parquet landing.

    The cross-batch dedup is the incremental-day shape
    (plans/llm_ops3.dedup_incremental_day): the landed set participates
    only as its hash column, so history never rescans content. Because
    membership is content-keyed, the landing is IDEMPOTENT at the content
    level — a replayed batch (crash before checkpoint commit) or even a
    full re-run with a fresh checkpoint re-lands nothing, which is
    stronger than offset-tracking alone and exactly what a training-corpus
    store needs (a duplicate document is corpus corruption; a missed
    offset is just latency).
    """
    schema = "doc_id long, text string, lang string, source string"
    docs = spark.readStream.schema(schema).parquet(src_dir)
    target = f"{out_path}/docs"

    def land(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        from etl_from_s3_to_postgresql_template_spark.functions.text import (
            normalize_text_col,
        )

        toks = F.size(F.split(F.lower(F.trim("text")), r"\s+"))
        good = batch_df.filter(toks.between(2, 100_000))
        # content key = md5 of the CANONICAL normal form (lowercase +
        # whitespace collapse, the same form exact dedup keys on)
        hashed = good.withColumn("h", F.md5(normalize_text_col("text"))).dropDuplicates(["h"])
        fs, Path = hadoop_fs(sess, target)
        if fs.exists(Path(target)):  # absent only before the first landing
            seen = sess.read.parquet(target).select("h")
            hashed = hashed.join(seen, "h", "left_anti")
        hashed.write.mode("append").parquet(target)

    q = (
        docs.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_rollup(rollup_path: str, spec, prepare: Callable | None = None) -> Callable:
    """Batch writer that FOLDS each micro-batch into an incremental rollup
    (sinks/incremental.py) instead of landing raw rows: streaming
    materialized-view maintenance for distributive aggregates.

    foreachBatch is at-least-once; apply_delta's applied-token ledger
    (token = the batch_id) turns that into exactly-once aggregate state —
    a replayed batch hits the ledger and no-ops, so the rollup can never
    double-count. This composes the two delivery mechanisms the engine
    already tests separately (batch_id-keyed landing, idempotent delta
    folds) into end-to-end exactly-once rollup maintenance."""
    from etl_from_s3_to_postgresql_template_spark.sinks.incremental import apply_delta

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        delta = prepare(batch_df) if prepare is not None else batch_df
        apply_delta(
            batch_df.sparkSession, rollup_path, delta, spec, token=f"batch-{batch_id}"
        )

    return _write


def run_events_stream_to_rollup(
    spark: SparkSession,
    sf_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
    spec,
    prepare: Callable | None = None,
) -> None:
    """Stream the events fixture into an incrementally-maintained rollup
    via foreachBatch + AvailableNow; exactly-once per the ledger above.
    ``prepare`` projects each raw micro-batch into the spec's key/measure
    columns (runs inside foreachBatch as a normal batch plan)."""
    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(foreach_batch_rollup(rollup_path, spec, prepare))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
