"""Small shared utilities with no operator semantics of their own."""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["spread_partitions", "shared_subtree", "shared_subtree_eager"]


def shared_subtree(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialization seam for a frame consumed by several subtrees —
    the ONE place (r13, guide §5) that decides HOW a shared intermediate
    is pinned, so the choice can be mode-keyed:

    - **local master** (every test/bench/driver run): ``localCheckpoint``
      — executors ARE the driver process, so the stored blocks cannot
      outlive anything that needs them, and it is the cheapest lineage
      cut (truncates the plan, dedupes the subtree across consumers).
    - **cluster master with a checkpoint dir**: reliable ``checkpoint``
      — localCheckpoint stores blocks only on executors AND truncates
      lineage, so one lost executor mid-job fails the query with no
      recompute path; the reliable form writes to the configured
      fault-tolerant dir instead (same truncation, survivable blocks).
    - **cluster master without a checkpoint dir**:
      ``persist(MEMORY_AND_DISK)`` — keeps the subtree shared through the
      cache manager WITHOUT truncating lineage, so a lost block
      recomputes. (Iterative callers — connected components, k-means-ish
      loops — should configure a checkpoint dir in cluster deployments:
      persist alone leaves the logical plan growing per iteration.)

    ``eager`` materializes now: use it when the pinned frame feeds
    concurrent jobs (broadcast legs), which can race a lazy pin's
    checkpoint. Otherwise the pin is taken at the first action, except
    under AQE: building a lazy pin runs the frame's shuffle stages at
    once (one job for a one-shuffle ``groupBy``; none with AQE off), so
    only the final stage waits for the first action. Use as a postfix via
    ``df.transform(shared_subtree)`` / ``df.transform(shared_subtree_eager)``.
    Results are unaffected in every mode — only where (and whether twice)
    the subtree is computed.
    """
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint(eager=eager)
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=eager)
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        df.count()
    return df


def shared_subtree_eager(df: DataFrame) -> DataFrame:
    """Postfix form of ``shared_subtree(df, eager=True)`` for
    ``DataFrame.transform`` chains."""
    return shared_subtree(df, eager=True)


def spread_partitions(df: DataFrame) -> DataFrame:
    """Ensure ``df`` has at least ``defaultParallelism`` partitions.

    CPU-bound per-row transforms (shingle hashing, pandas UDF signatures)
    inherit the source's split count; a table that happens to live in one
    parquet file would otherwise run them in ONE task — measured 4x the
    whole-query wall time for MinHash at sf0.1. On a cluster reading a
    many-split table this is a no-op (partitions >= parallelism already),
    so it costs nothing at scale and removes the file-layout dependence
    locally. Round-robin repartition: no key, no skew.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df
