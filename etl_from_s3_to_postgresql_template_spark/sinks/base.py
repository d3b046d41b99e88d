"""Sinks: where a processed day lands (SURVEY §2.2, reference K1-K4).

``JdbcSink`` is the reference-parity PostgreSQL path
(``etl_pipeline.py:485-530``). The reference's hand-rolled mechanics
disappear into JDBC writer options:

- 10k-row outer chunks + 1k-row multi-INSERTs -> ``batchsize`` (each
  executor partition writes batched inserts; ``reWriteBatchedInserts=true``
  in the URL turns them into true multi-row statements server-side)
- connection pool of 10 -> ``numPartitions`` caps concurrent connections
- table-exists probe -> SaveMode.Append creates the table if absent
- 5-minute statement timeout -> ``queryTimeout``

``ParquetSink`` is the test/lake path: day-partitioned parquet with dynamic
partition overwrite, which makes re-running a day idempotent (the reference
double-appends on re-run — a flaw fixed, not copied).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame


class Sink(Protocol):
    """``write_day`` must execute the frame it is given: the pipeline reads
    the day's row count from a metric observed on that frame's write."""

    def write_day(self, df: DataFrame, day: str) -> None: ...
    def write_audit(self, audit_df: DataFrame) -> None: ...


def jdbc_target_from_env(default_url: str | None = None) -> tuple[str | None, dict[str, str]]:
    """The real-database seam: ``JDBC_URL`` (plus optional ``JDBC_USER`` /
    ``JDBC_PASSWORD``) point the JDBC benchmark and the end-to-end sink
    test at an actual PostgreSQL/MySQL endpoint with zero code change —
    today's container has none, so both default to embedded Derby
    (``default_url``). Credentials ride as connection PROPERTIES, never in
    the URL (URLs end up in logs and the Spark UI)."""
    import os

    url = os.environ.get("JDBC_URL", default_url)
    props = {
        k: os.environ[e]
        for k, e in (("user", "JDBC_USER"), ("password", "JDBC_PASSWORD"))
        if e in os.environ
    }
    return url, props


def make_jdbc_url(
    dialect: str, host: str, port: str | int | None, database: str
) -> str:
    """Dialect -> JDBC URL, the reference's documented customization surface
    (``etl_pipeline.py:556-574`` builds postgresql/mysql/mssql SQLAlchemy
    URLs; README.md:145-149). Credentials go in connection properties (the
    ``user``/``password`` JDBC options), NOT the URL — URLs end up in logs
    and the Spark UI."""
    d = dialect.lower()
    if d == "postgresql":
        port = port or 5432
        # reWriteBatchedInserts turns executor batches into true multi-row
        # INSERTs server-side — the analogue of to_sql(method='multi')
        return f"jdbc:postgresql://{host}:{port}/{database}?reWriteBatchedInserts=true"
    if d == "mysql":
        port = port or 3306
        return f"jdbc:mysql://{host}:{port}/{database}?rewriteBatchedStatements=true"
    if d == "mssql":
        port = port or 1433
        return f"jdbc:sqlserver://{host}:{port};databaseName={database}"
    raise ValueError(f"Unsupported database type: {dialect}")


@dataclass
class ParquetSink:
    """Day-partitioned parquet; idempotent per-day overwrite."""

    base_path: str
    table_name: str = "merged"

    def write_day(self, df: DataFrame, day: str) -> None:
        # partitionOverwriteMode=dynamic (session default) replaces only
        # dt=<day>, so re-processing a day never double-loads.
        from pyspark.sql import functions as F

        from etl_from_s3_to_postgresql_template_spark.sinks.rowgroups import bounded

        (
            # explicit row-group bound: sinks/rowgroups.py invariant
            bounded(df.withColumn("dt", F.lit(day)).write.mode("overwrite"))
            .partitionBy("dt")
            .parquet(f"{self.base_path}/{self.table_name}")
        )

    def write_audit(self, audit_df: DataFrame) -> None:
        audit_df.write.mode("append").parquet(f"{self.base_path}/data_processing_log")


@dataclass
class JdbcSink:
    """JDBC (PostgreSQL et al.) sink with reference-derived defaults.

    Delivery semantics: AT-LEAST-ONCE under task retries — a JDBC write
    task that fails mid-batch and retries re-inserts its partition (same
    as the reference's chunk loop on re-run). For exactly-once, land into
    a staging table keyed by a run/batch id and reconcile (the pattern
    streaming/sink.foreach_batch_jdbc documents), or make the target table
    idempotent with a primary key + MERGE. The parquet lake path is
    exactly-once already (dynamic partition overwrite)."""

    url: str  # e.g. jdbc:postgresql://host:5432/db?reWriteBatchedInserts=true
    table_name: str = "table_name"
    audit_table: str = "data_processing_log"
    batchsize: int = 10000  # reference chunk constant (etl_pipeline.py:486)
    num_partitions: int = 10  # reference pool size (etl_pipeline.py:579)
    properties: dict[str, str] = field(default_factory=dict)

    def _writer(self, df: DataFrame, table: str):
        w = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
            .option("batchsize", str(self.batchsize))
            .option("queryTimeout", "300")  # reference statement_timeout=300s
            .option("isolationLevel", "READ_COMMITTED")
        )
        for k, v in self.properties.items():
            w = w.option(k, v)
        return w

    def write_day(self, df: DataFrame, day: str) -> None:
        # Cap concurrent connections like the reference capped its pool;
        # coalesce (not repartition) — no shuffle, just fewer write tasks.
        out = df.coalesce(self.num_partitions)
        self._writer(out, self.table_name).mode("append").save()

    def write_audit(self, audit_df: DataFrame) -> None:
        self._writer(audit_df, self.audit_table).mode("append").save()
