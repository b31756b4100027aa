from __future__ import annotations

import shutil

import pytest

from search_engine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def tmp_index(tmp_path):
    p = str(tmp_path / "index")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def corpus_from_texts(spark, texts, analyzer_ids=None):
    """Tiny corpus with explicit docIds 0..n-1 (test fixtures use dense ids)."""
    from pyspark.sql import functions as F

    rows = [
        (f"org/repo", f"doc_{i}", f"c{i}", "txt", t, i)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, docId long"
    )
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def run_jobs(spark, fn, group: str):
    """Run ``fn()`` under its own job group -> (result, Spark job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
