"""Fixture-table registry: the TPC-H-ish star schema + extension tables.

One parquet file per table (TESTDATA.md). Columnar scans with pushdown and
pruning come free from the parquet source; at 100 TB these would be
partitioned/bucketed table paths instead of single files, and nothing here
changes except the path.

Small-scan parallelization (r12): each fixture file is ONE parquet row
group, and a row group is Spark's minimum read unit — so every scan, and
every narrow stage above it (tokenize, explode, hash, Arrow kernels),
executed as a single task regardless of core count (measured: 1 task per
stage across the docs pack at sf0.1). ``load_table(..., parallel=True)``
therefore round-robin-repartitions a scan to ``defaultParallelism`` when
the file is too small to ever split into one ~128 MB unit per core — the
standard fix for unsplittable input (one gzip / one row group). The gate is
pure input arithmetic, so it self-disables at scale: a cluster-sized table
exceeds the byte bound and keeps its natural splits with zero added
shuffle, while any table small enough to trip the gate is by construction
cheap to shuffle once. Opt-in per call site, not blanket: a same-session
A/B over the full bench showed the exchange pays for itself exactly where
narrow per-row compute dominates (tokenize/explode/hash kernels: -1.5x to
-2.8x) and costs a latency barrier where rows are cheap and plans are
join/broadcast-deep (multi-join TPC-H shapes, funnel envelopes: up to
+2x) — so the flag is set only at the measured-win sites. Result content
is unaffected: the engine's cross-engine hash-exact conventions
(decimal/integer-micro accumulation, sorted collect_list) make every
registered plan row-order-free. The byte bounds are the fixed module
constants below.

Footer cache: ``spark.read.parquet(path)`` infers the schema from the
file's footer, and that inference runs one Spark job per call — two per
warm ``corpus_pack`` op, inside plan construction. ``load_table`` keeps the
inferred ``StructType`` per local file, keyed by the file's path, inode,
size, modification and change times (ns) and the session's Parquet
inference settings, and reads a known file through
``spark.read.schema(cached).parquet(path)``: no job, the same schema and
the same plans modulo expression IDs. A file rewritten or replaced at the
same path changes its change time and is probed again.
Directories and non-local paths (``s3a://``, ``file://`` URIs) keep the
inferring read. ``events_physical_schema`` reads through the same cache.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: session settings that change the schema Spark infers from a footer
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
#: local file path -> ((inode, size, mtime, ctime, inference settings), schema);
#: two threads missing at once both probe and store the same schema
_FOOTER_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the footer probed once per version
    of a local file (module docstring)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        st.st_ctime_ns,
        tuple(spark.conf.get(c) for c in _INFER_CONFS),
    )
    hit = _FOOTER_SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _FOOTER_SCHEMAS[path] = (key, df.schema)
    return df


def events_physical_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """The physical schema of events.parquet, probed via a batch read.

    The generator has shipped ts as TIMESTAMP(NANOS) (read as long under
    nanosAsLong) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    TIMESTAMP_NTZ) at different times; streaming readers must declare the
    physical type, so probe the file (once per version, through the footer
    cache) instead of hard-coding.
    """
    # events.parquet may store TIMESTAMP(NANOS), which Spark's reader
    # rejects outright. Set the legacy conf on WHATEVER session we're
    # given (the driver harness builds its own, without our session.py
    # defaults — runtime-settable, so this is safe) and read nanos as
    # long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read_parquet(spark, f"{sf_dir}/events.parquet").schema


def normalize_events_ts(df: DataFrame, for_streaming: bool = False) -> DataFrame:
    """Normalize events.ts off its physical type — ONE place for the
    branching so batch and streaming readers can't drift.

    nanos-as-long -> truncate to micros (identical to how DuckDB reads it).
    NTZ files: batch keeps TIMESTAMP_NTZ (what the driver oracle compared
    green in round 1); streaming casts to TIMESTAMP because event-time ops
    (watermark/window) require it — value-identical under the engine's
    pinned UTC session TZ.
    """
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if for_streaming:
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: below this size a repartition is pointless — the per-task work of even a
#: fully CPU-bound kernel is smaller than the scheduling overhead it adds
_SCAN_FLOOR_BYTES = 256 * 1024
#: one ~128 MB split per core: a file under maxPartitionBytes * parallelism
#: can never feed every core from its natural splits
_SCAN_SPLIT_BYTES = 128 * 1024 * 1024
#: target COMPRESSED bytes per repartitioned task. r12 pinned the width to
#: defaultParallelism, which fanned a ~600 KB parquet file into 32 tasks of
#: ~20 KB each — so small that the 8-core driver bench beat the 32-core run
#: on ~15 flagged queries (PERF_r12 scaling block: scheduling overhead per
#: tiny task exceeded the compute it carried). Width now scales with input
#: size and is CAPPED by defaultParallelism, so a bigger box never gets a
#: WIDER fan-out of the same small file — it just stops being the
#: constraint. 128 KB compressed (~1-2 MB of text) per task measured best
#: in a same-session min-of-2 A/B over the nine heaviest flagged queries
#: at sf0.1 (32k: 10.75 s, 64k: 9.39, 128k: 8.38, dp-pin: 8.98), and its
#: ~5-way fan-out of the fixtures means an 8-core run fans out exactly as
#: wide as a 32-core run (the PERF_r12 inversion gone by construction).
_SCAN_PART_BYTES = 128 * 1024


def _parallelize_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin-repartition a small unsplittable scan to size-derived
    parallelism (module docstring). Local-path sizes only: a non-local
    path is cluster-scale input whose scans split naturally."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    dp = spark.sparkContext.defaultParallelism
    if dp > 1 and _SCAN_FLOOR_BYTES <= size < _SCAN_SPLIT_BYTES * dp:
        width = min(dp, max(2, (size + _SCAN_PART_BYTES - 1) // _SCAN_PART_BYTES))
        return df.repartition(width)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = _read_parquet(spark, path)
    if name == "events":
        df = normalize_events_ts(df)
    if parallel:
        df = _parallelize_small_scan(spark, df, path)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in (names or TABLES))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
