"""Session defaults: driver memory sized from the host, and a generated-class
cache that holds the engine's warm working set."""

from __future__ import annotations

from etl_from_s3_to_postgresql_template_spark.plans import QUERIES
from etl_from_s3_to_postgresql_template_spark.session import CODEGEN_CACHE_ENTRIES, driver_memory
from tests.conftest import SF_DIR

GB = 2**30


def test_driver_memory_is_half_the_host():
    assert driver_memory({}, phys_bytes=16 * GB) == "8192m"


def test_driver_memory_is_capped_at_48g():
    assert driver_memory({}, phys_bytes=512 * GB) == f"{48 * 1024}m"


def test_driver_memory_env_override_wins():
    assert driver_memory({"SPARK_DRIVER_MEM": "4g"}, phys_bytes=512 * GB) == "4g"
    assert driver_memory({"SPARK_DRIVER_MEM": "64g"}, phys_bytes=16 * GB) == "64g"


def test_driver_memory_reads_this_host():
    mb = int(driver_memory({}).removesuffix("m"))
    assert 0 < mb <= 48 * 1024


def test_codegen_cache_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_corpus_pack_compiles_nothing(spark):
    """A second pass over the corpus_pack queries compiles no class: the
    generated-class cache holds what the first pass compiled. At Spark's
    default of 100 classes every warm pass recompiled 130-140."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = ["corpus_prep_funnel4_bloom", "docs_ccnet_ppl_buckets_hashed"]

    def one_pass():
        for q in queries:
            QUERIES[q](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    one_pass()
    after_first = compiles.getCount()
    one_pass()
    assert compiles.getCount() == after_first
