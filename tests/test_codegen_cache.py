"""Warm passes recompile nothing: the session's generated-class cache
holds the dedup/similarity family's working set (session.py), so a
repeat of the family compiles no whole-stage-codegen class."""

from __future__ import annotations

from aws_glue_redshift_datawarehouse_etl_pipeline_spark import queries as Q
from aws_glue_redshift_datawarehouse_etl_pipeline_spark.session import (
    CODEGEN_CACHE_ENTRIES,
)

CURATION = (
    "dedup_exact_documents", "minhash_lsh_dedup_documents",
    "minhash_lsh_dedup_transitive_fast", "embedding_cosine_topk",
    "embedding_near_dup_bucketed_pairs", "contamination_check_documents",
    "semantic_dedup_production", "token_budget_per_source",
)


def _compiles(spark) -> int:
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(hist.METRIC_COMPILATION_TIME().getCount())


def _one_pass(spark, sf_dir) -> int:
    before = _compiles(spark)
    for name in CURATION:
        spark.catalog.clearCache()
        Q.QUERIES[name](spark, sf_dir).toArrow()
    spark.catalog.clearCache()
    return _compiles(spark) - before


def test_warm_curation_pass_compiles_no_class(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    Q.register_all()
    # semantic_dedup_production's adaptive plan takes its join build
    # side from whichever of two concurrent stages finishes first, so a
    # pass can meet a plan variant the cache has not seen yet (0-7 new
    # classes measured). A cache smaller than the working set instead
    # recompiles every class on every pass (Spark's default of 100
    # holds about half of it).
    cold = _one_pass(spark, sf_dir)
    warm = _one_pass(spark, sf_dir)
    assert warm <= cold // 10, (cold, warm)
