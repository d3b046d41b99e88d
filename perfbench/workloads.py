"""The two workloads: what one op is, and how its output is checked.

- ``ingest_day``: ``process_day`` on a generated day, inferred schema, into
  ``ParquetSink`` -- the paper's own path.
- ``corpus_pack``: one pass over construction-heavy corpus queries, each
  forced through a ``noop`` sink; building the plans fires most of the
  Spark jobs.

The traced run of ``ingest_day`` ends with one more op, :func:`jdbc_op`:
a smaller day with an explicit schema (no inference pass) into
``JdbcSink`` on embedded Derby, the reference's row-insert sink.

Every op goes through the engine's public functions. The traced run wraps
the entry points of every layer on every workload (see ``spans.py``), so a
layer a workload never enters reads 0 calls and 0 s.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

import gen
from spans import Tracer, patched, summarize

CORPUS = ["corpus_prep_funnel4_bloom", "docs_ccnet_ppl_buckets_hashed"]
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
INGEST_DAY_ROWS = 200_000
INGEST_JDBC_ROWS = 40_000


def result_digest(df) -> tuple[int, int]:
    """(row count, order-independent value hash): the wrapping sum of each
    row's xxhash64. Map columns are hashed through their JSON text, since
    Spark refuses to hash maps."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.col(f"`{f.name}`")) if "map<" in f.dataType.simpleString() else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def layer_targets(tracer: Tracer, sink=None) -> list:
    """(object, attribute, traced function) for the entry points of every
    layer. ``load_table`` is wrapped in each module that imported it by
    name, since callers look it up there."""
    from etl_from_s3_to_postgresql_template_spark import pipeline
    from etl_from_s3_to_postgresql_template_spark.sources import registry

    def files(sp, args, out):
        sp.counts["files"] = len(out)

    def kept(sp, args, out):
        sp.counts["kept_ratio"] = len(out) / max(1, len(args[1]))

    def groups(sp, args, out):
        sp.counts["groups"] = len(out[0])

    wrap = tracer.wrap
    load_table = registry.load_table
    traced_load = wrap(load_table, "sources.load_table")
    targets = [
        (pipeline, "list_files", wrap(pipeline.list_files, "sources.list_files", files)),
        (pipeline, "prune_paths_by_date", wrap(pipeline.prune_paths_by_date, "sources.prune_paths_by_date", kept)),
        (pipeline, "probe_headers", wrap(pipeline.probe_headers, "sources.probe_headers", groups)),
        (pipeline, "ingest_day_plan", wrap(pipeline.ingest_day_plan, "pipeline.ingest_day_plan")),
        (pipeline, "drop_all_null_columns", wrap(pipeline.drop_all_null_columns, "operators.drop_all_null_columns")),
    ]
    targets += [
        (m, "load_table", traced_load)
        for m in list(sys.modules.values())
        if m is not None and getattr(m, "load_table", None) is load_table
    ]
    if sink is not None:
        targets += [
            (sink, "write_day", wrap(sink.write_day, "sinks.write_day")),
            (sink, "write_audit", wrap(sink.write_audit, "sinks.write_audit")),
        ]
    return targets


class Ingest:
    """One op = one ``process_day`` call into a fresh sink."""

    def __init__(self, spark, work: str, seed: int, rows: int, jdbc: bool):
        self.spark, self.work, self.seed, self.rows, self.jdbc = spark, work, seed, rows, jdbc
        self.failures: list[str] = []

    def prepare(self) -> None:
        from pyspark.sql import types as T

        from etl_from_s3_to_postgresql_template_spark.pipeline import PipelineConfig

        self.bucket = gen.make_bucket(os.path.join(self.work, "bucket"), self.seed, self.rows)
        schema = None
        if self.jdbc:
            types = {"id": T.LongType(), "store_id": T.LongType(), "amount": T.DoubleType(), "event_epoch": T.LongType()}
            schema = T.StructType(
                [T.StructField(c, types.get(c, T.StringType())) for c in gen.BASE_COLUMNS + (gen.EXTRA_COLUMN,)]
            )
        self.config = PipelineConfig(source_dir=self.bucket.root, epoch_columns=("event_epoch",), schema=schema)
        self.url = f"jdbc:derby:{self.work}/derby;create=true"
        self.rows_per_op = self.bucket.distinct_rows
        self.ops = 0

    def _sink(self, i: int):
        from etl_from_s3_to_postgresql_template_spark.sinks import JdbcSink, ParquetSink

        if self.jdbc:
            return JdbcSink(url=self.url, table_name=f"day_{i}")
        return ParquetSink(os.path.join(self.work, f"lake_{i}"))

    def run_op(self, tracer: Tracer | None = None) -> bool:
        from etl_from_s3_to_postgresql_template_spark.pipeline import process_day

        i = self.ops
        self.ops += 1
        sink = self._sink(i)
        if tracer is None:
            res = process_day(self.spark, self.config, self.bucket.day, sink)
        else:
            with patched(layer_targets(tracer, sink)), tracer.span("pipeline.process_day"):
                res = process_day(self.spark, self.config, self.bucket.day, sink)
        problems = [
            msg
            for bad, msg in (
                (res.total_rows != self.bucket.distinct_rows, f"rows out {res.total_rows} != {self.bucket.distinct_rows}"),
                (res.files_processed != self.bucket.files, f"files {res.files_processed} != {self.bucket.files}"),
                (gen.EMPTY_COLUMN in res.columns, "all-null column kept"),
                ("event_epoch_datetime" not in res.columns, "event_epoch_datetime missing"),
            )
            if bad
        ]
        self.failures += [f"op {i}: {p}" for p in problems]
        return not problems

    def after_op(self) -> None:
        """Drop the previous op's lake; the last one stays for the check."""
        if self.ops >= 2:
            shutil.rmtree(os.path.join(self.work, f"lake_{self.ops - 2}"), ignore_errors=True)

    def check(self) -> bool:
        """Read back what the last op wrote, and its audit row(s)."""
        want = self.bucket.distinct_rows
        last = self.ops - 1
        if self.jdbc:
            def table(name):
                return self.spark.read.format("jdbc").option("url", self.url).option("dbtable", name).load()

            got = table(f"day_{last}").count()
            audit = [
                {k.lower(): v for k, v in r.asDict().items()}["total_row_count"]
                for r in table("data_processing_log").collect()
            ]
            n_audit = self.ops
        else:
            lake = os.path.join(self.work, f"lake_{last}")
            got = self.spark.read.parquet(f"{lake}/merged").count()
            audit = [r["total_row_count"] for r in self.spark.read.parquet(f"{lake}/data_processing_log").collect()]
            n_audit = 1
        if got != want:
            self.failures.append(f"read back {got} rows, want {want}")
        if len(audit) != n_audit or any(a != want for a in audit):
            self.failures.append(f"audit total_row_count {audit}, want {n_audit} x {want}")
        return got == want and len(audit) == n_audit and all(a == want for a in audit)


class Pack:
    """One op = one pass over the query list, each query forced through a
    ``noop`` sink. The seed fixes the query order."""

    rows_per_op = 0  # a pass loads no rows; rows_per_s is an ingest metric

    def __init__(self, spark, work: str, seed: int, queries: list[str]):
        self.spark, self.work = spark, work
        self.queries = list(queries)
        random.Random(seed).shuffle(self.queries)
        self.failures: list[str] = []
        self.rows_only: list[str] = []

    def prepare(self) -> None:
        from etl_from_s3_to_postgresql_template_spark.plans import QUERIES

        self.QUERIES = QUERIES
        self.sf_dir = gen.make_pack_tables(os.path.join(self.work, "pack"))
        with open(PINS) as fh:
            self.pins = json.load(fh)
        self.rows_only = sorted(q for q in self.queries if self.pins[q]["hash"] is None)
        self.last: list[tuple[str, object]] = []

    def run_op(self, tracer: Tracer | None = None) -> bool:
        built = []
        if tracer is None:
            for q in self.queries:
                df = self.QUERIES[q](self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                built.append((q, df))
        else:
            with patched(layer_targets(tracer)):
                for q in self.queries:
                    with tracer.span("plans.build", label=q):
                        df = self.QUERIES[q](self.spark, self.sf_dir)
                    with tracer.span("exec", label=q):
                        df.write.format("noop").mode("overwrite").save()
                    built.append((q, df))
        self.last = built
        return True

    def after_op(self) -> None:
        pass

    def check(self) -> bool:
        """Row count and value hash of each query of the last pass against
        the pins; rows-only queries are checked on row count alone."""
        ok = True
        for q, df in self.last:
            rows, h = result_digest(df)
            pin = self.pins[q]
            if rows != pin["rows"] or (pin["hash"] is not None and h != pin["hash"]):
                self.failures.append(f"{q}: rows {rows} hash {h}, pinned {pin}")
                ok = False
        self.last = []
        return ok


def jdbc_op(spark, work: str, seed: int, observe_max_job) -> tuple[dict[str, float], list[str]]:
    """One traced ``process_day`` into ``JdbcSink`` on a fresh bucket, then
    the Derby read-back check. Returns the ``jdbc.*`` per-layer values and
    the failures."""
    wl = Ingest(spark, os.path.join(work, "jdbc"), seed, rows=INGEST_JDBC_ROWS, jdbc=True)
    wl.prepare()
    tracer = Tracer(observe_max_job)
    t = time.perf_counter()
    try:
        wl.run_op(tracer)
    except Exception as e:  # noqa: BLE001 -- reported as a failed op
        wl.failures.append(f"jdbc op: {e!r}"[:500])
    wall = time.perf_counter() - t
    s = summarize(tracer.take())
    if not wl.failures:
        wl.check()
    return {
        "jdbc.op_s": wall,
        "jdbc.sinks.write_day.s": s.get("sinks.write_day.s", 0.0),
        "jdbc.sinks.write_day.jobs": s.get("sinks.write_day.jobs", 0.0),
        "jdbc.sinks.write_audit.s": s.get("sinks.write_audit.s", 0.0),
        "jdbc.pipeline.ingest_day_plan.self_s": s.get("pipeline.ingest_day_plan.self_s", 0.0),
    }, [f"jdbc {f}" for f in wl.failures]


WORKLOADS = {
    "ingest_day": lambda spark, work, seed: Ingest(spark, work, seed, rows=INGEST_DAY_ROWS, jdbc=False),
    "corpus_pack": lambda spark, work, seed: Pack(spark, work, seed, CORPUS),
}
