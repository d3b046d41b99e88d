"""Incremental cross-batch Bloom paragraph dedup — the streaming form
of the batch Bloom family (plans/llm_ops13, llm_ops14).

The 100 TB ingest shape: document shards arrive over time; each
micro-batch probes its paragraphs against the ACCUMULATED filter of
every previously-ingested batch, then adds its own paragraphs to the
filter. The filter state is a parquet table of packed (wi, w) words —
one small file appended per batch — and "accumulate" is the OR-merge
the batch tier pinned associative (union -> bit_or per word index), so
state reads are order-free and the whole mechanism is exactly the
per-shard-build + merge primitive (docs_bloom_merge_shards) driven by
Structured Streaming. No driver-side filter state: build, merge, and
probe are all DataFrame plans; the state dir is <= m/64 rows per batch.

Batch order is made deterministic for the harness by staging the
fixture into doc_id-ranged shard files with BOTH strictly-increasing
modification times AND lexicographic names (FileStreamSource orders by
either, depending on version), one file per trigger, AvailableNow.
Within-batch duplicates are NOT flagged (the state is updated after
the probe) — the same only-prior-shards semantics the gate's exact
oracle computes from the doc_id ranges.

The filter is the batch family's (operators/bloom: k=7
Kirsch-Mitzenmacher double hashing on xxhash64), with m sized for the
FULL expected load (bloom.bits_for over every paragraph) because every
batch must share m for the OR-merge to be meaningful: this is the merge
contract of the batch tier, and under-sizing it saturates the filter as
batches accumulate (measured: a fixed 2^20 m at 500k paragraphs kept
zero false negatives but blew the 5% fp bound; sized at 2^23 it
passes). A deployment that knows its expected corpus passes the size
instead of counting. The per-batch words table is never checkpointed:
each batch reads a fresh state table and probes it once.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.operators import bloom
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = ["run_incremental_bloom_stream", "N_SHARDS"]

N_SHARDS = 4


def shard_width(spark: SparkSession, docs: DataFrame) -> int:
    """doc_id range width per shard: max_id // N_SHARDS + 1 (a bounded
    scalar action — the gate's oracle recomputes the same expression)."""
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    return max_id // N_SHARDS + 1


def run_incremental_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the documents fixture into N_SHARDS doc_id-ranged files,
    stream them one-per-trigger, probe each batch against the OR-merged
    filter state of the prior batches, append the batch's own words to
    the state, land (doc_id, pos, dup) per paragraph. Returns the
    drained landing table (sorted)."""
    from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE setup pass (r13): max(doc_id) for the shard width and the
    # paragraph count for m used to be two separate scan+action pairs
    # (shard_width's collect + bloom.paragraphs(docs).count()); the paragraph
    # count folds into the same aggregate as the doc-local
    # size(filter(trim(split)))) — identical to counting bloom.paragraphs rows
    # (both count non-empty trimmed lines; NULL text coalesces to '').
    text = F.coalesce(F.col("text"), F.lit(""))
    n_pars_col = F.size(
        F.filter(
            F.transform(F.split(text, "\n", -1), lambda s: F.trim(s)),
            lambda x: x != "",
        )
    )
    setup = docs.agg(
        F.max("doc_id").alias("mx"), F.sum(n_pars_col).alias("npars")
    ).collect()[0]
    width = (setup["mx"] or 0) // N_SHARDS + 1
    # size m for the full expected load (module comment); all batches
    # share this m
    bits = bloom.bits_for(int(setup["npars"] or 0))
    base = tempfile.mkdtemp(prefix="sbloom_")
    src, state, out, ckpt = (
        f"{base}/src",
        f"{base}/state",
        f"{base}/out",
        f"{base}/ckpt",
    )
    os.makedirs(src)
    # stage shard files: lexicographic names AND increasing mtimes so
    # either FileStreamSource ordering policy yields doc_id order. ONE
    # partitionBy write (r13) instead of N_SHARDS filtered scans — the
    # shard column lives in the directory name, so each moved part file
    # carries exactly (doc_id, text), the same bytes the per-shard
    # coalesce(1) writes produced. A doc_id range with no documents
    # (sparse ids, or max_id=4: width 2 leaves shard 3 empty) gets no
    # directory from partitionBy; it is staged as an empty (doc_id, text)
    # file so the stream still sees N_SHARDS files, one per trigger.
    tmp = f"{base}/stage"
    (
        docs.withColumn("shard", (F.col("doc_id") / width).cast("long"))
        .repartition(N_SHARDS, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    for s in range(N_SHARDS):
        sdir = f"{tmp}/shard={s}"
        if not os.path.isdir(sdir):
            docs.limit(0).coalesce(1).write.parquet(sdir)
        parts = [p for p in os.listdir(sdir) if p.endswith(".parquet")]
        if len(parts) != 1:  # one task per shard by construction
            raise RuntimeError(f"shard {s}: expected one staged file, got {parts}")
        dst = f"{src}/shard_{s}.parquet"
        shutil.move(f"{sdir}/{parts[0]}", dst)
        os.utime(dst, (1_000_000_000 + s, 1_000_000_000 + s))
    shutil.rmtree(tmp)

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        pars = bloom.paragraphs(batch_df).transform(shared_subtree)
        if os.path.exists(state):
            merged = (
                sess.read.parquet(state)
                .groupBy("wi")
                .agg(F.expr("bit_or(w)").alias("w"))
            )
            flagged = bloom.flag_probe(pars, merged, bits)
        else:
            flagged = pars.withColumn("dup", F.lit(False))
        flagged.select("doc_id", "pos", "dup").write.mode("append").parquet(out)
        bloom.words(pars, bits).write.mode("append").parquet(state)

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(_handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).orderBy("doc_id", "pos")
