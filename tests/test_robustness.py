"""Failure paths: a failed job leaks no persisted frames, and caller
columns cannot collide with engine-internal ones."""

import pytest
from pyspark.sql import functions as F


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_shingle_md5_rows_releases_persisted_frames_on_failure(spark):
    from architxt_spark.functions.dedup import shingle_md5_rows

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i}") for i in range(8)],
        "doc_id long, text string",
    ).select(
        "doc_id",
        F.when(F.col("doc_id") == 5, F.raise_error(F.lit("bad row")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    before = _persisted(spark)
    with pytest.raises(Exception, match="bad row"):
        shingle_md5_rows(docs, "text", "doc_id")
    assert _persisted(spark) == before


@pytest.mark.parametrize("col", ["__c4_clean", "__cls_keep"])
def test_curate_corpus_rejects_internal_columns(spark, col):
    from architxt_spark.functions.curation import curate_corpus

    docs = spark.createDataFrame(
        [(1, "the cat and the dog", True)], f"doc_id long, text string, {col} boolean"
    )
    sc = spark.sparkContext
    sc.setJobGroup("curate-collision", "internal column check")
    try:
        with pytest.raises(ValueError, match=col):
            curate_corpus(docs, line_clean=True)
        assert list(sc.statusTracker().getJobIdsForGroup("curate-collision")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
