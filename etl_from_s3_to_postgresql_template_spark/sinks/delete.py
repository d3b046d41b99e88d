"""Targeted row deletion: rewrite only the files that contain the keys.

The right-to-erasure / bad-document-takedown primitive: deleting a few
thousand rows from a 100 TB table must not rewrite 100 TB. Parquet files
are immutable, so the minimal unit of change is the FILE — the job is
(1) find which files contain any target key, (2) rewrite exactly those
files with the targets anti-joined out, (3) leave every other file
untouched on disk (byte-identical, mtime included — asserted in tests).

Touched-file discovery is one scan of the key column + ``_metadata
.file_path`` (column-pruned: footer + one column's pages, not the row
data) semi-joined against the target keys; with min/max zone maps
(operators/stats.py) the scan itself can skip files whose range excludes
every target. The rewrite reads only the touched files. The ``collect()``
returns a FILE LIST (control flow, bounded by files-touched), never rows.

Crash safety (manifest + rename-in-first — no table format, so the swap
cannot be atomic, but it IS recoverable and never loses surviving rows):

1. rewrites land in a sibling temp dir;
2. a MANIFEST (touched originals + rewritten part names) is persisted
   next to the dataset before anything is mutated;
3. rewritten parts are renamed INTO the dataset first (Spark part names
   embed a fresh UUID per job, so they cannot collide with existing
   files);
4. originals are deleted;
5. manifest + temp dir are removed.

A crash before (3) leaves the old layout plus inert side files — retry
is a plain re-run. A crash inside (3)–(5) leaves surviving rows
DUPLICATED (both the original and its rewrite visible), never missing;
``recover_pending_delete`` — called automatically at the top of
``delete_rows`` — replays the manifest to completion, restoring
exactly-once layout before any new probe runs. Readers that cannot
tolerate the transient duplicate window need a real table format's
atomic snapshot swap.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.sinks.swap import hadoop_fs

__all__ = ["DeleteReport", "delete_rows", "recover_pending_delete"]


@dataclass
class DeleteReport:
    files_total: int
    files_touched: int
    rows_deleted: int
    rows_rewritten: int


def _manifest_path(path: str) -> str:
    return path.rstrip("/") + ".delete.manifest.json"


def _tmp_dir(path: str) -> str:
    return path.rstrip("/") + ".delete.tmp"


def _write_manifest(fs, HPath, path: str, manifest: dict) -> None:
    """Persist the manifest atomically: write to a side file, rename into
    place (rename is the atomic primitive on HDFS-like stores)."""
    side = _manifest_path(path) + ".writing"
    out = fs.create(HPath(side), True)
    out.write(bytearray(json.dumps(manifest), "utf-8"))
    out.close()
    fs.delete(HPath(_manifest_path(path)), False)
    if not fs.rename(HPath(side), HPath(_manifest_path(path))):
        raise IOError(f"committing delete manifest for {path} failed")


def _read_manifest(fs, HPath, path: str) -> dict | None:
    mp = HPath(_manifest_path(path))
    if not fs.exists(mp):
        return None
    stream = fs.open(mp)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _apply_swap(fs, HPath, path: str, touched: list[str], part_names: list[str]) -> None:
    """The idempotent core of the swap: move every rewritten part into the
    dataset (skipping ones a previous attempt already moved), then delete
    every original still present. Safe to replay any number of times."""
    tmp = _tmp_dir(path)
    for name in part_names:
        src = HPath(tmp + "/" + name)
        dst = HPath(path.rstrip("/") + "/" + name)
        if fs.exists(dst):
            # already moved by a previous (crashed) attempt
            fs.delete(src, False)
            continue
        if fs.exists(src) and not fs.rename(src, dst):
            raise IOError(f"moving rewritten file {name} into {path} failed")
    for f in touched:
        fs.delete(HPath(f), False)
    fs.delete(HPath(tmp), True)
    fs.delete(HPath(_manifest_path(path)), False)


def recover_pending_delete(spark: SparkSession, path: str) -> bool:
    """If a previous ``delete_rows`` crashed between manifest commit and
    cleanup, replay the recorded swap to completion (move remaining
    rewritten parts in, drop remaining originals, clear the manifest).
    Returns True if there was anything to recover. Called automatically
    by ``delete_rows``; also safe to call directly at startup."""
    fs, HPath = hadoop_fs(spark, path)
    manifest = _read_manifest(fs, HPath, path)
    if manifest is None:
        return False
    _apply_swap(fs, HPath, path, manifest["touched"], manifest["parts"])
    return True


def delete_rows(
    spark: SparkSession, path: str, keys: DataFrame, key_col: str
) -> DeleteReport:
    """Delete every row of the flat parquet dataset at ``path`` whose
    ``key_col`` appears in ``keys`` (a one-column DataFrame), rewriting
    only the files that contain at least one match. ``keys`` should be
    small relative to the table (it broadcasts into both the probe and
    the anti-join); partitioned layouts delete per partition directory —
    run this against each affected partition path."""
    # finish any interrupted prior delete before probing, so the touched
    # set is computed against a consistent layout
    recover_pending_delete(spark, path)

    scan = spark.read.parquet(path).select(
        F.col(key_col), F.col("_metadata.file_path").alias("__fp")
    )
    k = keys.select(F.col(key_col)).distinct()
    touched = [
        r["__fp"]
        for r in scan.join(F.broadcast(k), key_col, "left_semi")
        .select("__fp")
        .distinct()
        .collect()
    ]
    files_total = scan.select("__fp").distinct().count()
    if not touched:
        return DeleteReport(files_total, 0, 0, 0)

    sub = spark.read.parquet(*touched)
    n_before = sub.count()
    remaining = sub.join(F.broadcast(k), key_col, "left_anti")
    tmp = _tmp_dir(path)
    # one output file per rewritten input file keeps layout granularity
    remaining.coalesce(len(touched)).write.mode("overwrite").parquet(tmp)
    n_after = spark.read.parquet(tmp).count()

    fs, HPath = hadoop_fs(spark, path)
    part_names = [
        st.getPath().getName()
        for st in fs.listStatus(HPath(tmp))
        if st.getPath().getName().endswith(".parquet")
    ]
    # point of no return: once the manifest is committed, the swap below
    # (or a later recover_pending_delete) WILL complete this delete
    _write_manifest(fs, HPath, path, {"touched": touched, "parts": part_names})
    _apply_swap(fs, HPath, path, touched, part_names)

    return DeleteReport(
        files_total=files_total,
        files_touched=len(touched),
        rows_deleted=int(n_before - n_after),
        rows_rewritten=int(n_after),
    )
