"""Streaming scale evidence: sustained throughput + state-store growth.

The batch side's 10x/100x sweeps are recorded in SCALING.md; this is the
streaming counterpart. It drives the engine's canonical
unbounded ingest shape — deterministic rate source behind the events
contract (streaming/ingest.py::stream_events_rate) -> watermarked
tumbling-window aggregate -> foreachBatch parquet sink — at two volumes
and reports, per volume:

- sustained rows/s (total input rows / total trigger-execution time,
  excluding the first warm-up batch: JIT + state-store init);
- state rows per batch (stateOperators.numRowsTotal): with a watermark,
  open windows are BOUNDED (windows close as event time advances and the
  watermark evicts them), so this must PLATEAU, not grow — the number
  that decides whether a stream survives week-long uptime;
- state memory at the plateau.

Backpressure note: the rate-micro-batch source delivers exactly
rowsPerBatch per trigger, so "volume" here is batch size, not arrival
pressure. On the Kafka path the same experiment is bounded by
maxOffsetsPerTrigger — set it to (target batch seconds) x (measured
rows/s from this tool) so trigger time stays under the trigger interval;
AQE-style runtime re-planning does not exist in micro-batch sinks, the
cap IS the backpressure mechanism.

Usage: python tools/bench_stream.py [small_rows_per_batch] [factor] [n_batches]
Prints one JSON line per volume plus a summary ratio line.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.session import get_spark
from etl_from_s3_to_postgresql_template_spark.streaming.ingest import stream_events_rate


def run_volume(spark, rows_per_batch: int, n_batches: int) -> dict:
    events = stream_events_rate(spark, rows_per_batch=rows_per_batch)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )
    sink_dir = tempfile.mkdtemp(prefix="bench_stream_")
    ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")

    def land(batch_df, batch_id):
        (
            batch_df.select(
                F.col("w.start").alias("w_start"), "event_type", "n", "total_value"
            ).write.mode("append").parquet(sink_dir)
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    seen = 0
    t0 = time.time()
    while seen < n_batches and time.time() - t0 < 600:
        time.sleep(0.5)
        seen = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0][:n_batches]
    q.stop()

    rows = sum(p["numInputRows"] for p in progress[1:])
    exec_ms = sum(p["durationMs"]["triggerExecution"] for p in progress[1:])
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
    state_mem = progress[-1]["stateOperators"][0]["memoryUsedBytes"]
    return {
        "rows_per_batch": rows_per_batch,
        "batches_measured": len(progress) - 1,
        "rows_per_sec": round(rows / (exec_ms / 1000.0)),
        "state_rows_per_batch": state_rows,
        "state_rows_final": state_rows[-1],
        "state_plateaued": len(set(state_rows[len(state_rows) // 2 :])) <= 2,
        "state_memory_bytes": state_mem,
    }


def run_recovery(
    spark, rows_per_batch: int, n_before: int, n_after: int
) -> dict:
    """Kill-and-restart recovery measurement (VERDICT r6 item 8): run the
    canonical watermarked-window stream, stop the query mid-flight after
    ``n_before`` committed batches, restart from the SAME checkpoint, and
    report (a) recovery seconds — restart() to the first newly-committed
    batch, which includes state-store reload and any WAL replay; (b) state
    rows immediately after restart vs the pre-kill plateau (state must
    come back, not rebuild from zero or balloon); (c) an exactly-once
    ledger — the sink is written idempotently per epoch
    (overwrite of sink/epoch=<batch_id>, the foreachBatch idempotency
    pattern this measurement exists to demonstrate: a replayed epoch
    overwrites itself instead of appending a duplicate), and at the end
    the final value of every window (row from its max epoch) must sum to
    exactly commits x rows_per_batch — each source row counted once,
    across the kill.

    State backend: RocksDB (bundled with Spark 4) — set on the session so
    the reload cost measured is the production backend's, not the
    in-memory HDFS-backed map's."""
    import glob
    import os

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events = stream_events_rate(spark, rows_per_batch=rows_per_batch)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )
    sink_dir = tempfile.mkdtemp(prefix="bench_stream_rec_")
    ckpt = tempfile.mkdtemp(prefix="bench_stream_rec_ckpt_")

    def land(batch_df, batch_id):
        (
            batch_df.select(
                F.col("w.start").alias("w_start"), "event_type", "n", "total_value"
            )
            .write.mode("overwrite")
            .parquet(f"{sink_dir}/epoch={batch_id}")
        )

    def start():
        return (
            agg.writeStream.outputMode("update")
            .foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def committed(q, want, timeout=600):
        t0 = time.time()
        seen = []
        while len(seen) < want and time.time() - t0 < timeout:
            time.sleep(0.25)
            seen = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return seen

    q = start()
    before = committed(q, n_before)
    pre_state = before[-1]["stateOperators"][0]["numRowsTotal"]
    q.stop()  # mid-flight stop: trigger interval is 0, a batch is in play

    t0 = time.time()
    q2 = start()
    after_first = committed(q2, 1)
    recovery_secs = round(time.time() - t0, 2)
    post_state = after_first[0]["stateOperators"][0]["numRowsTotal"]
    committed(q2, n_after)
    q2.stop()

    commit_ids = {
        int(f) for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    }
    n_commits = len(commit_ids)
    # ledger: final (max COMMITTED epoch) row per window key, summed.
    # The final stop() can interrupt between the foreachBatch parquet
    # write of epoch E and the commit-log write of E — that epoch's sink
    # output exists but its offsets are NOT consumed, so counting it
    # would double-read rows the source will replay; the commit log is
    # the source of truth for what happened exactly once (review r7).
    import pandas as pd
    import pyarrow.dataset as ds

    tbl = ds.dataset(sink_dir, partitioning="hive").to_table().to_pandas()
    # coerce ONCE up front: hive-partition inference may type epoch as
    # string, and a lexicographic sort ('9' > '12') would make
    # groupby().last() pick the wrong final epoch past 10 commits,
    # silently corrupting the exactly-once check (review r7)
    tbl["epoch"] = tbl["epoch"].astype("int64")
    tbl = tbl[tbl["epoch"].isin(sorted(commit_ids))]
    final = (
        tbl.sort_values("epoch")
        .groupby(["w_start", "event_type"], as_index=False)
        .last()
    )
    got_rows = int(final["n"].sum())
    expected_rows = n_commits * rows_per_batch
    return {
        "rows_per_batch": rows_per_batch,
        "batches_before_kill": len(before),
        "recovery_secs": recovery_secs,
        "state_rows_pre_kill": int(pre_state),
        "state_rows_post_restart": int(post_state),
        "state_recovered": int(post_state) >= int(pre_state),
        "committed_epochs": n_commits,
        "ledger_expected_rows": expected_rows,
        "ledger_observed_rows": got_rows,
        "exactly_once": got_rows == expected_rows,
        "state_backend": "rocksdb",
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--recovery":
        rows = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
        n_before = int(sys.argv[3]) if len(sys.argv) > 3 else 6
        n_after = int(sys.argv[4]) if len(sys.argv) > 4 else 6
        spark = get_spark("bench-stream-recovery")
        print(json.dumps({"recovery": run_recovery(spark, rows, n_before, n_after)}))
        return
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    spark = get_spark("bench-stream")
    out = {}
    for label, v in (("small", small), ("big", small * factor)):
        out[label] = run_volume(spark, v, n_batches)
        print(json.dumps({label: out[label]}), flush=True)
    ratio = round(out["small"]["rows_per_sec"] / out["big"]["rows_per_sec"], 3)
    print(
        json.dumps(
            {
                "volume_factor": factor,
                "throughput_small_over_big": ratio,
                "note": "ratio < 1 means bigger batches amortize per-trigger overhead",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
