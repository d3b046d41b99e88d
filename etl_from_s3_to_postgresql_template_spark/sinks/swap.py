"""Crash-safe directory swap for the sinks that rewrite a table whole
(sinks/merge.py, sinks/compact.py, sinks/incremental.py).

The next state is built complete under a sibling temp directory, then
two renames swap it in: live -> backup, temp -> live. A failed second
rename rolls the backup back. A crash BETWEEN the renames leaves the
backup and no live directory; ``recover`` repairs that on the next call,
before anything reads the table. Renames go through the Hadoop
FileSystem, so every scheme Spark can write works (atomic on HDFS and
local disks, copy + delete on object stores).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["hadoop_fs", "recover", "swap_in"]


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem for ``path``, the Hadoop ``Path`` class)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return (
        jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(path), conf),
        jvm.org.apache.hadoop.fs.Path,
    )


def recover(spark: SparkSession, root: str, bak: str) -> None:
    """Repair a crash between the swap renames: if the backup exists and
    the live directory doesn't, the old state is intact in the backup —
    restore it. If both exist, the swap completed and only backup cleanup
    was lost — delete the backup."""
    fs, Path = hadoop_fs(spark, root)
    if fs.exists(Path(bak)):
        if not fs.exists(Path(root)):
            if not fs.rename(Path(bak), Path(root)):
                raise IOError(f"swap recovery failed: cannot restore {bak}")
        else:
            fs.delete(Path(bak), True)


def swap_in(spark: SparkSession, root: str, tmp: str, bak: str) -> None:
    """Replace ``root`` (if it exists) with the complete ``tmp``
    directory, keeping the old state in ``bak`` until the new one is in
    place."""
    fs, Path = hadoop_fs(spark, root)
    exists = fs.exists(Path(root))
    if exists and not fs.rename(Path(root), Path(bak)):
        raise IOError(f"swap failed: cannot back up {root}")
    if not fs.rename(Path(tmp), Path(root)):
        if exists:
            fs.rename(Path(bak), Path(root))  # roll back; old state intact
        raise IOError(f"swap failed for {root}")
    fs.delete(Path(bak), True)
