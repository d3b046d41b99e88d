"""Targeted delete: only touched files rewritten, untouched files byte-stable."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.sinks.compact import compact_parquet
from etl_from_s3_to_postgresql_template_spark.sinks.delete import delete_rows
from etl_from_s3_to_postgresql_template_spark.sinks.swap import hadoop_fs
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def _lay_out(spark, tmp_path, n_files=8):
    """events laid out range-partitioned on event_id so target keys
    concentrate in few files (zone-map-friendly layout)."""
    out = str(tmp_path / "tbl")
    ev = load_table(spark, SF, "events")
    ev.repartitionByRange(n_files, "event_id").sortWithinPartitions("event_id").write.parquet(out)
    return out, ev


def _stat_files(out):
    return {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(f"{out}/*.parquet")
    }


def test_delete_removes_targets_and_keeps_everything_else(spark, tmp_path):
    out, ev = _lay_out(spark, tmp_path)
    targets = [5, 6, 7, 8, 9, 10]
    keys = spark.createDataFrame([(t,) for t in targets], "event_id long")
    rep = delete_rows(spark, out, keys, "event_id")
    assert rep.rows_deleted == len(targets)
    back = spark.read.parquet(out)
    assert back.where(F.col("event_id").isin(targets)).count() == 0
    # survivors identical to an anti-join of the original
    want = ev.join(keys, "event_id", "left_anti")
    assert back.count() == want.count()
    assert back.exceptAll(want).count() == 0 and want.exceptAll(back).count() == 0
    # compacting the rewritten layout keeps the deleted rows gone
    assert compact_parquet(spark, out, target_file_bytes=1 << 30).files_after == 1
    back = spark.read.parquet(out)
    assert back.exceptAll(want).count() == 0 and want.exceptAll(back).count() == 0


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    out, ev = _lay_out(spark, tmp_path, n_files=8)
    before = _stat_files(out)
    # contiguous low ids -> land in the first range partition(s) only
    keys = spark.createDataFrame([(i,) for i in range(1, 20)], "event_id long")
    rep = delete_rows(spark, out, keys, "event_id")
    assert 1 <= rep.files_touched <= 2 < rep.files_total
    after = _stat_files(out)
    untouched = set(before) & set(after)
    # untouched files are the SAME files: same size, same mtime
    assert len(untouched) == rep.files_total - rep.files_touched
    for p in untouched:
        assert before[p] == after[p]


def test_delete_with_no_matches_is_a_noop(spark, tmp_path):
    out, _ = _lay_out(spark, tmp_path)
    before = _stat_files(out)
    keys = spark.createDataFrame([(10_000_000,)], "event_id long")
    rep = delete_rows(spark, out, keys, "event_id")
    assert rep.files_touched == 0 and rep.rows_deleted == 0
    assert _stat_files(out) == before


def _build_crash_state(spark, out, keys, move_first_n):
    """Reproduce delete_rows' state at a crash AFTER the manifest commit:
    rewrites in the temp dir, manifest persisted, and the first
    ``move_first_n`` rewritten parts already renamed into the dataset
    (their originals deleted) — the exact window the recovery contract
    covers."""
    from etl_from_s3_to_postgresql_template_spark.sinks import delete as mod

    scan = spark.read.parquet(out).select(
        "event_id", F.col("_metadata.file_path").alias("__fp")
    )
    touched = [
        r["__fp"]
        for r in scan.join(keys, "event_id", "left_semi").select("__fp").distinct().collect()
    ]
    assert touched
    sub = spark.read.parquet(*touched)
    remaining = sub.join(keys, "event_id", "left_anti")
    tmp = mod._tmp_dir(out)
    remaining.coalesce(len(touched)).write.mode("overwrite").parquet(tmp)
    fs, HPath = hadoop_fs(spark, out)
    parts = [
        st.getPath().getName()
        for st in fs.listStatus(HPath(tmp))
        if st.getPath().getName().endswith(".parquet")
    ]
    mod._write_manifest(fs, HPath, out, {"touched": touched, "parts": parts})
    for name in parts[:move_first_n]:
        assert fs.rename(HPath(tmp + "/" + name), HPath(out.rstrip("/") + "/" + name))
    return touched


def test_recovery_after_crash_before_any_rename(spark, tmp_path):
    """Crash with manifest committed but nothing moved: dataset is the old
    layout; recovery completes the recorded delete exactly once."""
    from etl_from_s3_to_postgresql_template_spark.sinks.delete import recover_pending_delete

    out, ev = _lay_out(spark, tmp_path)
    keys = spark.createDataFrame([(i,) for i in range(1, 20)], "event_id long")
    _build_crash_state(spark, out, keys, move_first_n=0)
    assert recover_pending_delete(spark, out) is True
    back = spark.read.parquet(out)
    want = ev.join(keys, "event_id", "left_anti")
    assert back.exceptAll(want).count() == 0 and want.exceptAll(back).count() == 0
    # idempotent: nothing left to recover
    assert recover_pending_delete(spark, out) is False


def test_delete_rows_self_heals_mid_swap_crash(spark, tmp_path):
    """Crash mid-swap (one rewrite moved in, its original still present →
    transient duplicates): the NEXT delete_rows call recovers first, so
    its probe runs on a consistent layout and the final dataset has no
    duplicates and no resurrected rows."""
    out, ev = _lay_out(spark, tmp_path)
    keys = spark.createDataFrame([(i,) for i in range(1, 20)], "event_id long")
    _build_crash_state(spark, out, keys, move_first_n=1)
    # the crash window is visible as duplicated survivors
    assert spark.read.parquet(out).count() > ev.count() - 19
    keys2 = spark.createDataFrame([(25,), (26,)], "event_id long")
    delete_rows(spark, out, keys2, "event_id")
    back = spark.read.parquet(out)
    want = ev.join(keys.union(keys2), "event_id", "left_anti")
    assert back.exceptAll(want).count() == 0 and want.exceptAll(back).count() == 0
