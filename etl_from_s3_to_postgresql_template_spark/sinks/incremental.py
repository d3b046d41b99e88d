"""Incremental view maintenance for distributive aggregates.

The batch complement to the streaming rollups and the production form of
``events_tiered_rollup`` (plans/llm_ops4.py): instead of re-aggregating
the whole history every day, combine yesterday's materialized rollup with
today's partial aggregate. Correct for DISTRIBUTIVE aggregates only
(sum / count-as-sum / min / max) — their combine step is the aggregate
itself, so

    agg(days 1..n)  ==  combine(agg(days 1..n-1), agg(day n))

holds exactly (DECIMAL sums keep it exact across partitionings too).
COUNT DISTINCT and exact quantiles are NOT distributive; maintain an HLL
sketch / t-digest column instead, or recompute — refusing them here is a
contract, not a limitation (see plans/llm_ops.py agg_approx_sketches for
the sketch tier).

Idempotent replay, with the commit made ATOMIC: the rollup directory
holds BOTH the aggregate parquet (``data/``) and the applied-token
ledger (``_applied/``), and every application builds a complete new
directory then swaps it in with one rename — so the data and the token
recording it can never be committed separately, and a crash at any point
either leaves the old state (retry applies cleanly) or the new state
(retry no-ops on the ledger). A crash BETWEEN the two swap renames is
repaired on the next call: the backup directory is detected and restored
before anything else happens. This gives exactly-once folds to
at-least-once callers (retried orchestrator steps, foreachBatch
replays — streaming/sink.py foreach_batch_rollup builds on it).

Scale shape: the combine touches |rollup| + |delta| rows (rollup tables
are aggregate-sized, orders smaller than facts); the rewrite-and-swap
is sinks/swap.py's, shared with merge and compaction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.sinks.swap import hadoop_fs, recover, swap_in

__all__ = ["RollupSpec", "apply_delta", "read_rollup"]


@dataclass
class RollupSpec:
    """Which columns are keys and which are (distributive) measures."""

    keys: list[str]
    sums: list[str] = field(default_factory=list)
    mins: list[str] = field(default_factory=list)
    maxs: list[str] = field(default_factory=list)

    def combine(self, df: DataFrame) -> DataFrame:
        aggs = (
            [F.sum(c).alias(c) for c in self.sums]
            + [F.min(c).alias(c) for c in self.mins]
            + [F.max(c).alias(c) for c in self.maxs]
        )
        return df.groupBy(*self.keys).agg(*aggs)


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The current rollup contents (the ``data/`` side of the directory)."""
    return spark.read.parquet(rollup_path.rstrip("/") + "/data")


def apply_delta(
    spark: SparkSession,
    rollup_path: str,
    delta: DataFrame,
    spec: RollupSpec,
    token: str,
) -> bool:
    """Fold ``delta`` rows (raw or pre-aggregated) into the rollup at
    ``rollup_path`` under ``spec``. Returns True if applied, False if
    ``token`` was already applied (idempotent no-op). First application
    creates the rollup. Crash-safe: see module docstring."""
    root = rollup_path.rstrip("/")
    tmp, bak = root + ".inc.tmp", root + ".inc.bak"
    recover(spark, root, bak)
    fs, Path = hadoop_fs(spark, root)
    fs.delete(Path(tmp), True)  # stale tmp from a crashed build is garbage

    exists = fs.exists(Path(root))
    if exists:
        applied = {r[0] for r in spark.read.parquet(f"{root}/_applied").collect()}
        if token in applied:
            return False

    partial = spec.combine(delta)
    merged = (
        spec.combine(read_rollup(spark, root).unionByName(partial)) if exists else partial
    )
    # build the COMPLETE next state under tmp: data + ledger incl. token
    merged.write.mode("overwrite").parquet(f"{tmp}/data")
    ledger = spark.createDataFrame([(token,)], "token string")
    if exists:
        ledger = spark.read.parquet(f"{root}/_applied").unionByName(ledger)
    ledger.write.mode("overwrite").parquet(f"{tmp}/_applied")

    swap_in(spark, root, tmp, bak)
    return True
