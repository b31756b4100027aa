"""A micro-batch commit runs only its segment write. The batch's doc count is
observed in the write's result stage, so empty docs and docs whose content
analyzes to no tokens count, and the input frame is evaluated once; every
other batch stat is read on the driver from the written files.
``purge_deletes`` keeps live docs with no tokens in its doc count.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from search_engine_spark.operators.build import build_segments_combined
from search_engine_spark.operators.delete import add_tombstones, purge_deletes
from search_engine_spark.plans.oracle import OracleIndex
from search_engine_spark.sources import segments as S
from tests.conftest import run_jobs
from tests.test_incremental_finalize import _assert_equals_full_recompute, _base, _parts
from tests.test_one_bucket_plan import _plan

# small docIds, far below the synthetic corpus's 63-bit hashed ones
MIXED = {1: "apple banana", 2: "", 3: "the of and", 4: "cherry date", 5: "", 6: "a an the"}
EMPTY = {11: "", 12: "", 13: ""}


def _frame(spark, docs: dict[int, str]):
    return spark.createDataFrame(sorted(docs.items()), "docId long, content string")


def _texts(df) -> dict[int, str]:
    pdf = df.select("docId", "content").toPandas()
    return dict(zip(pdf.docId, pdf.content))


def _assert_stats_match_oracle(m, texts: dict[int, str]):
    oracle = OracleIndex(texts)
    assert m["stats"]["n_docs"] == oracle.n_docs
    assert m["stats"]["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)


def test_empty_and_tokenless_docs_count(spark, tmp_path):
    """Two deltas, one mixing empty, stopword-only and plain docs and one of
    empty docs only: each batch counts every input row, and the index's
    n_docs and avgdl equal the oracle's over the same docs."""
    idx = str(tmp_path / "idx")
    corpus, _ = _parts(spark)
    base = corpus.where(F.pmod(F.xxhash64("docId"), F.lit(6)) < 2)
    _base(spark, corpus, idx)
    texts = _texts(base)
    for key, docs in (("mixed", MIXED), ("empty", EMPTY)):
        S.build_one_batch(spark, _frame(spark, docs), idx, key, analyzer="porter",
                          num_segments=4)
        m = S.finalize_index(spark, idx)
        assert m["batches"][key]["ndocs"] == len(docs)
        texts.update(docs)
        _assert_stats_match_oracle(m, texts)
        _assert_equals_full_recompute(spark, idx, tmp_path)
    assert m["batches"]["empty"]["npostings"] == 0


def test_driver_read_stats_equal_a_spark_agg(spark, tmp_path):
    """The per-segment stats read from a batch's files equal a Spark
    ``groupBy("seg")`` agg over the same files, and the batch entry sums
    them."""
    idx = str(tmp_path / "idx")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx)
    m = S.build_one_batch(spark, parts[2], idx, "d2", analyzer="porter", num_segments=4,
                          heavy_threshold=10, n_salts=4)
    out = S.batch_path(idx, "d2")
    got = S._segment_file_stats(out)
    want = (
        S.read_segment_dirs(spark, out)
        .groupBy("seg")
        .agg(
            F.sum("ndocs").alias("post"),
            F.sum("sum_tf").alias("tok"),
            F.min("min_docid").alias("lo"),
            F.max(F.element_at("block_last_docid", -1)).alias("hi"),
        )
        .orderBy("seg")
        .collect()
    )
    assert len(got) > 1
    assert [{k: r[k] for k in ("seg", "post", "tok", "lo", "hi")} for r in got] == [
        r.asDict() for r in want
    ]
    files = [e for e in os.scandir(out) if e.name.endswith(".parquet")]
    assert sum(r["bytes"] for r in got) == sum(e.stat().st_size for e in files)
    entry = m["batches"]["d2"]
    assert entry["npostings"] == sum(r["post"] for r in got)
    assert entry["total_tokens"] == sum(r["tok"] for r in got)
    assert (entry["docid_lo"], entry["docid_hi"]) == (
        min(r["lo"] for r in got), max(r["hi"] for r in got))
    assert entry["metrics"]["per_segment"] == [
        {"seg": r["seg"], "postings": r["post"], "bytes": r["bytes"]} for r in got]


def test_filtered_delta_is_scanned_once(spark, tmp_path):
    """A delta given as a filter over a larger cached frame: the filter
    predicate sees each row of that frame once, and no job of the commit
    is a count or a collect (their stages are named after the call)."""
    idx = str(tmp_path / "idx")
    corpus, _ = _parts(spark)
    _base(spark, corpus, idx)
    big = corpus.select("docId", "content").cache()
    n_big = big.count()
    seen = spark.sparkContext.accumulator(0)

    @pandas_udf("boolean")
    def in_delta(doc_id: pd.Series) -> pd.Series:
        seen.add(len(doc_id))
        return (doc_id % 5) == 0

    delta = big.where(in_delta("docId"))
    try:
        m, _ = run_jobs(
            spark,
            lambda: S.build_one_batch(spark, delta, idx, "d", analyzer="porter",
                                      num_segments=4),
            "filtered_delta_commit")
        sc = spark.sparkContext
        st = sc.statusTracker()
        names = [
            st.getStageInfo(s).name
            for j in st.getJobIdsForGroup("filtered_delta_commit")
            for s in st.getJobInfo(j).stageIds
            if st.getStageInfo(s) is not None
        ]
        assert names and not [n for n in names if n.startswith(("count at", "collect at"))]
        assert seen.value == n_big
        assert m["batches"]["d"]["ndocs"] == corpus.where(F.col("docId") % 5 == 0).count()
    finally:
        big.unpersist()


def test_doc_count_is_observed_in_the_result_stage(spark):
    """The doc-count ``CollectMetrics`` sits above the ``(term, salt)`` hash
    exchange, in the write's result stage, and the marker rows are dropped
    right above it. Spark merges a result task's accumulator updates once
    per partition; a shuffle-map task's updates merge again whenever its
    stage is recomputed (a lost shuffle output, a retried stage), so a
    count taken on the map side could count a doc twice."""
    seg, _ = build_segments_combined(_frame(spark, MIXED), "porter", 4)
    plan = _plan(seg)
    metrics = plan.index("CollectMetrics")
    assert plan.index("Filter NOT (salt") < metrics < plan.index("Exchange hashpartitioning(term")
    assert plan.count("CollectMetrics") == 1


def test_purge_keeps_live_tokenless_docs(spark, tmp_path):
    """Purging a tombstoned doc keeps the live docs that have no tokens in
    n_docs: stats equal the oracle over the live docs."""
    idx = str(tmp_path / "idx")
    docs = {1: "apple banana", 2: "banana cherry", 3: "", 4: "the of and", 5: "cherry date"}
    S.build_index(spark, _frame(spark, docs), idx, analyzer="porter", num_segments=4)
    add_tombstones(spark, idx, spark.createDataFrame([(5,)], "docId long"))
    m = purge_deletes(spark, idx)
    live = {d: t for d, t in docs.items() if d != 5}
    _assert_stats_match_oracle(m, live)
    assert (m["stats"]["n_docs"], m["stats"]["avgdl"]) == (4, 1.0)
