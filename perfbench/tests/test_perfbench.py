"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import counters  # noqa: E402
import gen  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    covered,
    job_range_count,
    self_jobs,
    self_sum_ratio,
    self_times,
    summarize,
    uncovered_ops,
)


def _read_all(root: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_bucket_is_deterministic_per_seed(tmp_path):
    a = gen.make_bucket(str(tmp_path / "a"), 7, target_rows=800, other_rows=5)
    b = gen.make_bucket(str(tmp_path / "b"), 7, target_rows=800, other_rows=5)
    assert (a.day, a.rows, a.distinct_rows) == (b.day, b.rows, b.distinct_rows)
    assert _read_all(a.root) == _read_all(b.root)


def test_two_seeds_same_sizes_different_data(tmp_path):
    a = gen.make_bucket(str(tmp_path / "a"), 1, target_rows=800, other_rows=5)
    b = gen.make_bucket(str(tmp_path / "b"), 2, target_rows=800, other_rows=5)
    assert (a.files, a.rows, a.distinct_rows, a.other_files) == (b.files, b.rows, b.distinct_rows, b.other_files)
    fa, fb = _read_all(a.root), _read_all(b.root)
    assert len(fa) == len(fb) == gen.DAYS * gen.FILES_PER_DAY
    target = [n for n in fa if a.day in n]
    assert [n for n in fb if b.day in n] and fa != fb
    assert sum(n.endswith(".gz") for n in target) == gen.FILES_PER_DAY // 4


def test_bucket_shape(tmp_path):
    """Two header groups, an empty column, exact duplicates within files."""
    import gzip

    b = gen.make_bucket(str(tmp_path / "a"), 3, target_rows=4000, other_rows=5)
    headers, rows, dups = set(), 0, 0
    for name in os.listdir(b.root):
        if b.day not in name:
            continue
        opener = gzip.open if name.endswith(".gz") else open
        with opener(os.path.join(b.root, name), "rt") as fh:
            lines = fh.read().splitlines()
        headers.add(lines[0])
        rows += len(lines) - 1
        dups += len(lines) - 1 - len(set(lines[1:]))
        assert all(line.split(",")[5] == "" for line in lines[1:])  # notes is empty throughout
    assert len(headers) == 2
    assert rows == b.rows and rows - dups == b.distinct_rows
    assert 0.04 < dups / b.distinct_rows < 0.06


def test_pack_tables_are_deterministic():
    a, b = gen.pack_tables(), gen.pack_tables()
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert a["embeddings"]["embedding"][0].as_py().__len__() == gen.DIM


def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3  # clipped to the parent


def test_self_times_subtract_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 2.0, 3.0, parent=1),
        Span("c", 5.0, 9.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])
    # self times of a span tree add up to the root's duration
    assert sum(self_times(spans)) == pytest.approx(spans[0].s)


def test_self_times_overlapping_children_counted_once():
    spans = [Span("op", 0.0, 10.0), Span("a", 1.0, 6.0, parent=0), Span("b", 4.0, 8.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_sum_ratio_flags_uncovered_time():
    # a process_day span with two layer spans inside it
    spans = [Span("pipeline.process_day", 0.5, 9.5), Span("a", 1.0, 4.0, parent=0), Span("b", 5.0, 9.0, parent=0)]
    assert self_sum_ratio(spans, 9.6) == pytest.approx(9.0 / 9.6)
    assert uncovered_ops([(9.05, spans)], 0.02) == []
    # the op ran 1 s longer than any span: time outside every layer
    (msg,) = uncovered_ops([(9.05, spans), (10.0, spans)], 0.02)
    assert msg.startswith("traced op 1:")
    # sibling spans that overlap count twice, which also fails the check
    twice = [Span("a", 0.0, 6.0), Span("b", 4.0, 10.0)]
    assert self_sum_ratio(twice, 10.0) == pytest.approx(1.2)
    assert len(uncovered_ops([(10.0, twice)], 0.02)) == 1


def test_tracer_spans_nest_and_sum():
    clock = iter(range(100)).__next__
    t = Tracer(lambda: -1, clock=lambda: float(clock()))
    with t.span("op"):
        with t.span("x"):
            pass
        with t.span("y", label="q"):
            pass
    spans = t.take()
    assert [s.parent for s in spans] == [None, 0, 0]
    s = summarize(spans)
    assert s["op.s"] == pytest.approx(s["op.self_s"] + s["x.s"] + s["y.s"])
    assert s["y.s.q"] == s["y.s"] and s["x.calls"] == 1
    assert t.take() == []


def test_job_range_never_negative_when_store_drops_jobs():
    # observed highest job ID: rises, then the store trims and reports less
    seen = iter([3, 5, 9, 4, -1, 12, 2, 2]).__next__
    t = Tracer(seen)
    with t.span("op"):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    with t.span("c"):
        pass
    spans = t.take()
    assert all(sp.jobs >= 0 for sp in spans)
    assert all(j >= 0 for j in self_jobs(spans))
    assert [sp.jobs for sp in spans] == [9, 4, 0, 0]
    assert job_range_count(7, 7) == 0


def test_wrap_records_counts_and_result():
    t = Tracer(lambda: -1)
    f = t.wrap(lambda xs: xs[:2], "sources.list", lambda sp, args, out: sp.counts.update(files=len(out)))
    assert f([1, 2, 3]) == [1, 2]
    (sp,) = t.take()
    assert sp.name == "sources.list" and sp.counts == {"files": 2}


def test_tree_cpu_counts_children_that_have_exited():
    before = counters.tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert counters.tree_cpu_s(os.getpid()) - before >= 0.25
    assert os.getpid() in counters.tree_pids(os.getpid())


def test_benchmark_json_names_every_layer_metric():
    path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to the benchmark")
    pytest.importorskip("pyspark")
    import layers

    with open(path) as fh:
        bench = json.load(fh)
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    produced = {name: unit for name, unit, _ in layers.SPEC} | dict(layers.JDBC_SPEC)
    assert listed == produced | {"trace.self_sum_ratio": "ratio", "trace.overhead_s": "s"}
