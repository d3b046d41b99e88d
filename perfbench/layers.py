"""Per-layer metrics of the traced run, under the names BENCHMARK.json lists.

Each value is the median over the run's traced ops of that op's total. A
layer is named after the module of the function its span wraps. Where a
span contains others (``process_day`` contains every ingest span,
``ingest_day_plan`` contains ``probe_headers``), ``self_s`` and ``jobs``
count only what is not in a child span.

Every layer's entry points are wrapped on every workload, so a layer the
workload does not enter has no spans and its totals are 0: the ingest
workload builds no query plans, the query pack calls no sink. The
``jdbc.*`` metrics come from the one ``JdbcSink`` op that ends the traced
``ingest_day`` run (``workloads.jdbc_op``); on ``corpus_pack`` they are 0.
"""

from __future__ import annotations

import statistics
import time

import counters
from spans import Span, self_sum_ratio, summarize, uncovered_ops
from workloads import CORPUS

#: (metric, unit, key of spans.summarize)
SPEC: list[tuple[str, str, str]] = [
    ("sources.list_files.s", "s", "sources.list_files.s"),
    ("sources.list_files.files", "count", "sources.list_files.files"),
    ("sources.prune_paths_by_date.s", "s", "sources.prune_paths_by_date.s"),
    ("sources.prune_paths_by_date.jobs", "count", "sources.prune_paths_by_date.jobs"),
    ("sources.prune_paths_by_date.kept_ratio", "ratio", "sources.prune_paths_by_date.kept_ratio"),
    ("sources.probe_headers.s", "s", "sources.probe_headers.s"),
    ("sources.probe_headers.jobs", "count", "sources.probe_headers.jobs"),
    ("sources.probe_headers.groups", "count", "sources.probe_headers.groups"),
    ("pipeline.ingest_day_plan.self_s", "s", "pipeline.ingest_day_plan.self_s"),
    ("pipeline.ingest_day_plan.jobs", "count", "pipeline.ingest_day_plan.self_jobs"),
    ("pipeline.process_day.self_s", "s", "pipeline.process_day.self_s"),
    ("pipeline.process_day.jobs", "count", "pipeline.process_day.self_jobs"),
    ("operators.drop_all_null_columns.s", "s", "operators.drop_all_null_columns.s"),
    ("operators.drop_all_null_columns.jobs", "count", "operators.drop_all_null_columns.jobs"),
    ("sinks.write_day.s", "s", "sinks.write_day.s"),
    ("sinks.write_day.jobs", "count", "sinks.write_day.jobs"),
    ("sinks.write_day.tasks", "count", "sinks.write_day.tasks"),
    ("sinks.write_day.bytes_mb", "MB", "sinks.write_day.output_mb"),
    ("sinks.write_audit.s", "s", "sinks.write_audit.s"),
    ("sources.load_table.s", "s", "sources.load_table.s"),
    ("sources.load_table.calls", "count", "sources.load_table.calls"),
    ("sources.load_table.jobs", "count", "sources.load_table.jobs"),
    ("plans.build_s", "s", "plans.build.s"),
    ("plans.build_jobs", "count", "plans.build.jobs"),
    ("exec.s", "s", "exec.s"),
    ("exec.jobs", "count", "exec.jobs"),
    ("exec.stages", "count", "exec.stages"),
    ("exec.tasks", "count", "exec.tasks"),
    ("exec.failed_tasks", "count", "exec.failed_tasks"),
    ("exec.input_mb", "MB", "exec.input_mb"),
    ("exec.shuffle_write_mb", "MB", "exec.shuffle_write_mb"),
    ("exec.spill_mb", "MB", "exec.spill_mb"),
]
SPEC += [(f"plans.build_s.{q}", "s", f"plans.build.s.{q}") for q in CORPUS]
SPEC += [(f"exec.s.{q}", "s", f"exec.s.{q}") for q in CORPUS]
#: (metric, unit) of workloads.jdbc_op
JDBC_SPEC = [
    ("jdbc.op_s", "s"),
    ("jdbc.sinks.write_day.s", "s"),
    ("jdbc.sinks.write_day.jobs", "count"),
    ("jdbc.sinks.write_audit.s", "s"),
    ("jdbc.pipeline.ingest_day_plan.self_s", "s"),
]
#: spans whose stages, tasks and bytes are looked up
STAGED = ("exec", "sinks.write_day")
BYTE_KEYS = ("input_mb", "output_mb", "shuffle_write_mb", "spill_mb")


def add_stage_counts(sc, spans: list[Span], stage_bytes: dict[int, dict[str, float]]) -> None:
    for sp in spans:
        if sp.name in STAGED:
            ids = counters.job_stages(sc, sp.job_lo, sp.job_hi)
            sp.counts.update(counters.stage_tasks(sc, ids))
            for k in BYTE_KEYS:
                sp.counts[k] = sum(stage_bytes.get(s, {}).get(k, 0.0) for s in ids)


def per_layer(
    sc, traced_ops: list[tuple[float, list[Span]]], untraced: list[float], tolerance: float
) -> tuple[dict[str, tuple[float, str]], list[str]]:
    """Metrics by name -> (value, unit), and the traced ops whose span self
    times do not add up to the op wall within ``tolerance``."""
    time.sleep(0.5)  # the status store takes in the last job's events asynchronously
    stage_bytes = counters.rest_stage_bytes(sc)
    summaries = []
    for _, spans in traced_ops:
        add_stage_counts(sc, spans, stage_bytes)
        summaries.append(summarize(spans))
    # a key absent from an op's summary is a layer with no spans in it
    out = {name: (statistics.median(s.get(key, 0.0) for s in summaries), unit) for name, unit, key in SPEC}
    out["trace.self_sum_ratio"] = (statistics.median(self_sum_ratio(sp, w) for w, sp in traced_ops), "ratio")
    out["trace.overhead_s"] = (statistics.median(w for w, _ in traced_ops) - statistics.median(untraced), "s")
    return out, uncovered_ops(traced_ops, tolerance)


def jdbc_layer(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """The ``jdbc.*`` metrics; all 0 when the run made no JDBC op."""
    return {name: (values.get(name, 0.0), unit) for name, unit in JDBC_SPEC}
