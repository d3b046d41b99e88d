"""Round-13 optimization internals: bit-exactness parity for the LSH
sketch / IVF assignment Arrow kernels (functions/foldvec.py) against the
expression twins they replace inside operators/similarity.py, plus the
size-derived width of the small-scan repartition gate
(sources/registry.py).

The kernels follow the test_foldvec discipline: same products, same IEEE
left-fold add order, so bits / list order / norms must be EXACTLY equal
(struct.pack bit comparison for doubles), not merely close.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.functions.foldvec import (
    make_ivf_lists_udf,
    make_lsh_sketch_udf,
)
from etl_from_s3_to_postgresql_template_spark.functions.vectors import (
    as_double_vec,
    dot_col,
    norm_col,
)
from etl_from_s3_to_postgresql_template_spark.operators.similarity import (
    _sketch_col,
    hyperplanes,
)
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def _bits(x: float | None) -> bytes | None:
    return None if x is None else struct.pack("<d", x)


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_lsh_sketch_kernel_matches_expression(spark, emb):
    planes = hyperplanes(64, 16, seed=42)
    kernel = make_lsh_sketch_udf(planes)
    out = emb.select(
        _sketch_col(F.col("embedding"), planes).alias("sk_expr"),
        norm_col(as_double_vec(F.col("embedding"))).alias("n_expr"),
        kernel(F.col("embedding")).alias("k"),
    ).collect()
    assert len(out) > 0
    for r in out:
        assert list(r["sk_expr"]) == list(r["k"]["sk"])
        assert _bits(r["n_expr"]) == _bits(r["k"]["nrm"])


def test_ivf_lists_kernel_matches_expression(spark, emb):
    # deterministic pseudo-centroids (training is orthogonal to parity)
    centroids = hyperplanes(64, 16, seed=7)
    kernel = make_ivf_lists_udf(centroids)

    def d2_expr(c):
        v = as_double_vec(F.col("embedding"))
        diff = F.zip_with(v, F.array(*[F.lit(float(x)) for x in c]), lambda a, b: a - b)
        return dot_col(diff, diff)

    dists = F.array(
        *[
            F.struct(d2_expr(c).alias("d2"), F.lit(i).alias("list_id"))
            for i, c in enumerate(centroids)
        ]
    )
    out = emb.select(
        F.transform(F.array_sort(dists), lambda s: s["list_id"]).alias("order_expr"),
        kernel(F.col("embedding")).alias("k"),
    ).collect()
    assert len(out) > 0
    for r in out:
        assert list(r["order_expr"]) == list(r["k"]["lists"])


def test_ivf_lists_kernel_null_mirror(spark):
    # NULL / width-mismatched rows: the expression's all-null d2 sorts by
    # list_id (identity order) with a NULL norm — the kernel pins the same
    centroids = hyperplanes(4, 3, seed=7)
    kernel = make_ivf_lists_udf(centroids)
    df = spark.createDataFrame(
        [(None,), ([1.0, 2.0],)], "embedding array<double>"
    ).select(kernel(F.col("embedding")).alias("k"))
    for r in df.collect():
        assert list(r["k"]["lists"]) == [0, 1, 2]
        assert r["k"]["nrm"] is None


def test_lsh_sketch_kernel_null_mirror(spark):
    planes = hyperplanes(4, 3, seed=7)
    kernel = make_lsh_sketch_udf(planes)
    df = spark.createDataFrame(
        [(None,), ([1.0, 2.0],)], "embedding array<double>"
    ).select(kernel(F.col("embedding")).alias("k"))
    for r in df.collect():
        assert r["k"]["sk"] is None
        assert r["k"]["nrm"] is None


#: the sf0.001/sf0.01 documents files (~65 KB) sit below the gate's
#: 256 KB floor by design; the width tests need a file the gate fires on
SF_BIG = "/root/testdata/sf0.1"


def test_small_scan_width_is_size_derived(spark, monkeypatch):
    # ~600 KB fixture file at the 128 KB/part default -> width in
    # [2, dp], never the dp pin (the PERF_r12 8-core inversion)
    df = load_table(spark, SF_BIG, "documents", parallel=True)
    dp = spark.sparkContext.defaultParallelism
    import os

    size = os.path.getsize(f"{SF_BIG}/documents.parquet")
    want = min(dp, max(2, (size + 128 * 1024 - 1) // (128 * 1024)))
    assert df.rdd.getNumPartitions() == want
