"""The one-bucket DAAT plan (rank._one_task): a workload whose postings fit
one bucket skips the splitter and the bucket shuffle and scores the whole
packed segment rows in one task.

Pins its cost (one Spark job, no exchange) and its answers: equal to the
multi-bucket plan and to the single-node oracle on every option the entry
points take, including empty hit sets. Also pins the Spark job count of the
fixture's index build.
"""

from __future__ import annotations

import io
import os
import re
import threading
from contextlib import redirect_stdout

import numpy as np
import pytest

from search_engine_spark.operators import rank as R
from search_engine_spark.operators.query import analyze_query
from search_engine_spark.plans.oracle import OracleIndex
from search_engine_spark.sources import segments as S
from tests.conftest import run_jobs

QUERIES = {
    0: ["def", "import"],
    1: ["apple", "rotten", "tok3"],
    2: ["tok1"],
    3: ["tok3", "tok3", "string"],
}


# The build's Spark job count on the fixture below (local[4], 4 shuffle
# partitions), measured and stable across runs. Per batch: the heavy-term
# sample (its collect's adaptive-execution jobs, 3-4, plus one partition
# probe) and the segment write (four adaptive-execution jobs plus one
# partition probe; see COMMIT_JOBS in test_incremental_finalize.py), 9-10
# jobs. Then finalize's full-path dictionary write, 2 (the (term) exchange
# and the write). Batch stats and the doc count need no job of their own,
# segment reads name their schema (no footer-inference job), and the docId
# span comes from the batch entries (no span agg).
BUILD_JOBS = 21


def _corpus(spark):
    from search_engine_spark.sources.corpus import synthetic_corpus

    return synthetic_corpus(spark, n_docs=300, vocab_size=400, seed=29)


def _build(spark, corpus, p):
    # two batches and salted heavy terms: several packed rows per term
    return S.build_index(spark, corpus, p, analyzer="porter", n_batches=2,
                         heavy_threshold=50, n_salts=4)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("onebucket") / "idx")
    corpus = _corpus(spark)
    m = _build(spark, corpus, p)
    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)))
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    return p, m, segs, stats, oracle


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _python_stages(plan: str) -> int:
    """Python map and grouped-map nodes in a physical plan."""
    return sum(plan.count(node) for node in
               ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow"))


def _read_columns(plan: str) -> list[list[str]]:
    """Top-level column names of each scan's ReadSchema in a plan."""
    return [re.findall(r"(?:<|,)(\w+):", m)
            for m in re.findall(r"ReadSchema: (struct<.*>)", plan)]


def _unsorted(plan: str) -> bool:
    """No Sort and no TakeOrderedAndProject node."""
    return not re.search(r"\bSort\b", plan) and "TakeOrderedAndProject" not in plan


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, want))


def _oracle(oracle, kw, k, kind="bm25", ties="desc", deleted=()):
    """Lazy deletion keeps N/df/avgdl of the index: tombstones only drop
    docs from the ranking."""
    ranked = [it for it in oracle.topk(kw, None, kind, ties) if it[0] not in deleted]
    return ranked[:k] if k is not None else ranked


def _single(spark, idx, kw, k=10, **kw_args):
    p, m, segs, stats, _ = idx
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    return R.score_query_daat(spark, segs, stats, kw, nd, avg, k=k, **kw_args)


def _batch(spark, idx, queries, k=10, **kw_args):
    p, m, segs, stats, _ = idx
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    return R.score_queries_daat_batch(
        spark, segs, stats, queries, nd, avg, k=k, **kw_args
    )


def _by_qid(rows):
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r.qid, []).append((r.docId, r.score))
    return out


def test_one_bucket_plan_is_one_job_without_exchange(spark, idx):
    """A one-bucket query is one Spark job of a single Python stage; an
    auxiliary job or a reinstated shuffle fails here."""
    span = S.docid_span(idx[0])
    one = _single(spark, idx, QUERIES[1], docid_span=span)
    plan = _plan(one)
    assert "Exchange" not in plan, plan
    assert _python_stages(plan) == 1
    # the kernel's top-k ends the plan, over a scan of the kernel's columns
    assert _unsorted(plan), plan
    assert _read_columns(plan) == [R._KERNEL_COLS], plan
    rows, jobs = run_jobs(spark, one.collect, "one_bucket_single")
    assert rows and jobs == 1

    batch = _batch(spark, idx, QUERIES, docid_span=span)
    plan = _plan(batch)
    assert "Exchange" not in plan, plan
    assert _python_stages(plan) == 1
    rows, jobs = run_jobs(spark, batch.collect, "one_bucket_batch")
    assert rows and jobs == 1

    # an explicit multi-bucket count keeps the bucket re-key shuffle
    for df in (_single(spark, idx, QUERIES[1], n_buckets=4, docid_span=span),
               _batch(spark, idx, QUERIES, n_buckets=4, docid_span=span)):
        assert "Exchange hashpartitioning(bucket" in _plan(df)


@pytest.mark.parametrize("ties", ["asc", "desc"])
def test_one_bucket_single_query_rows_come_in_result_order(spark, idx, ties):
    """With ``k`` the one-task plan has no sort: the kernel's own rows are
    the result. They come in (score desc, docId ``ties``) order, also for a
    query with fewer than ``k`` hits, whose hits the kernel's per-query
    selection leaves in docId order. An empty hit set is zero rows in one
    job."""
    p, _, _, _, oracle = idx
    pdf = S.load_term_stats_pdf(p)
    pdf = pdf[[analyze_query([t]) == [t] for t in pdf["term"]]]  # stem-stable
    rare = sorted(pdf[(pdf["df"] >= 3) & (pdf["df"] < 10)]["term"])
    assert len(rare) >= 2
    common = pdf.sort_values(["df", "term"])["term"].iloc[-1]

    def key(it):
        return (-it[1], it[0] if ties == "asc" else -it[0])

    for terms in ([rare[0]], rare[:2], [rare[0], common]):
        for k in (3, 10):
            df = _single(spark, idx, terms, k=k, ties=ties)
            assert _unsorted(_plan(df))
            got = [(r.docId, r.score) for r in df.collect()]
            assert got == sorted(got, key=key)
            want = sorted(oracle.score(terms).items(), key=key)[:k]
            assert len(got) == len(want) and len(got) > 1
            _same(got, want)

    hits = np.array(sorted(oracle.score([rare[0]])), dtype=np.int64)
    df = _single(spark, idx, [rare[0]], ties=ties, deleted=hits)
    rows, jobs = run_jobs(spark, df.collect, f"one_bucket_empty_{ties}")
    assert rows == [] and jobs == 1


# py4j round trips of a warm one-bucket query, made by the calling thread
# (py4j's finalizer thread frees earlier proxies whenever it runs, so its
# calls are left out). Measured here: the plan build 40 (103 when each
# query projected the scan itself and ended in a TakeOrderedAndProject),
# the collect 7 (7 before too).
PLAN_PY4J_MAX = 45
COLLECT_PY4J_MAX = 10


def test_one_bucket_query_py4j_calls_are_pinned(spark, idx, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    span = S.docid_span(idx[0])
    calls, me = [0], threading.get_ident()
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.get_ident() == me:  # not py4j's proxy finalizer thread
            calls[0] += 1
        return send(self, command)

    for kw in (QUERIES[0], QUERIES[2]):  # warm: cached scan and footers
        _single(spark, idx, kw, docid_span=span).collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    df = _single(spark, idx, QUERIES[1], docid_span=span)
    plan_calls, calls[0] = calls[0], 0
    rows = df.collect()
    collect_calls = calls[0]
    assert rows
    assert plan_calls <= PLAN_PY4J_MAX, plan_calls
    assert collect_calls <= COLLECT_PY4J_MAX, collect_calls


def test_multi_bucket_single_query_plan_is_pinned(spark, idx):
    """A single query at ``n_buckets=4`` runs the batch plan at Q=1 and keeps
    the shape it had as its own plan: one bucket exchange, two Python
    stages (splitter, kernel), a TakeOrderedAndProject merge (no blob
    merge) and two Spark jobs per collect."""
    span = S.docid_span(idx[0])
    df = _single(spark, idx, QUERIES[1], n_buckets=4, docid_span=span)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert _python_stages(plan) == 2
    assert "TakeOrderedAndProject" in plan and "mkey" not in plan
    rows, jobs = run_jobs(spark, df.collect, "multi_bucket_single")
    assert rows and jobs == 2


def test_whole_call_with_spark_stats_is_one_job(spark, idx):
    """Given the ``load_term_stats`` scan, the query-term df lookup runs on
    the driver: building the plan and collecting it is one Spark job, for
    the single query and for the batch."""
    span = S.docid_span(idx[0])
    rows, jobs = run_jobs(
        spark, lambda: _single(spark, idx, QUERIES[1], docid_span=span).collect(),
        "one_bucket_single_call")
    assert rows and jobs == 1
    rows, jobs = run_jobs(
        spark, lambda: _batch(spark, idx, QUERIES, docid_span=span).collect(),
        "one_bucket_batch_call")
    assert rows and jobs == 1


def test_build_job_count_is_pinned(spark, tmp_path_factory):
    """The fixture's build runs exactly BUILD_JOBS Spark jobs: a new
    auxiliary build job (or a removed one) fails here until the pin moves
    with it."""
    p = str(tmp_path_factory.mktemp("onebucket_build") / "idx")
    m, jobs = run_jobs(spark, lambda: _build(spark, _corpus(spark), p),
                       "one_bucket_build")
    assert m["stats"]["n_docs"] == 300
    assert jobs == BUILD_JOBS


@pytest.mark.parametrize("kind", ["bm25", "tfidf_cosine"])
@pytest.mark.parametrize("ties", ["asc", "desc"])
def test_one_bucket_equals_multi_bucket_and_oracle(spark, idx, kind, ties):
    oracle = idx[4]
    sc = R.Scorer(kind)
    one = _by_qid(_batch(spark, idx, QUERIES, scorer=sc, ties=ties).collect())
    four = _by_qid(_batch(spark, idx, QUERIES, scorer=sc, ties=ties,
                          n_buckets=4).collect())
    for qid, kw in QUERIES.items():
        want = _oracle(oracle, kw, 10, kind, ties)
        assert want
        _same(one[qid], want)
        _same(four[qid], want)
    for kw in (QUERIES[0], QUERIES[3]):
        want = _oracle(oracle, kw, 10, kind, ties)
        for nb in (None, 4):
            got = _single(spark, idx, kw, scorer=sc, ties=ties, n_buckets=nb)
            _same([(r.docId, r.score) for r in got.collect()], want)


def test_one_bucket_options_match_oracle(spark, idx):
    """Tombstones, k=None, a narrow docid_span and pre-analyzed weights,
    each on both plans."""
    p, m, segs, stats, oracle = idx
    kw = QUERIES[1]
    everything = _oracle(oracle, kw, None)
    deleted = np.array(sorted(d for d, _ in everything[:5]), dtype=np.int64)
    narrow = (2**61, 2**61 + 1000)  # a sizing hint only: nearly all docs lie outside
    for nb in (None, 4):
        got = _single(spark, idx, kw, n_buckets=nb, deleted=deleted).collect()
        _same([(r.docId, r.score) for r in got],
              _oracle(oracle, kw, 10, deleted=set(deleted.tolist())))
        got = _single(spark, idx, kw, k=None, n_buckets=nb).collect()
        _same([(r.docId, r.score) for r in got], everything)
        got = _single(spark, idx, kw, n_buckets=nb, docid_span=narrow).collect()
        _same([(r.docId, r.score) for r in got], everything[:10])
        full = _batch(spark, idx, QUERIES, k=None, n_buckets=nb,
                      docid_span=narrow).collect()
        for qid, got in _by_qid(full).items():
            got.sort(key=lambda it: (-it[1], -it[0]))
            _same(got, _oracle(oracle, QUERIES[qid], None))

    # parser-style {term: weight} boosts: BM25 is linear in the query weight
    words = {"apple": 2.5, "def": 0.5}
    weights = {analyze_query([w])[0]: wt for w, wt in words.items()}
    want: dict[int, float] = {}
    for w, wt in words.items():
        for d, s in oracle.score([w]).items():
            want[d] = want.get(d, 0.0) + wt * s
    want_top = sorted(want.items(), key=lambda it: (-it[1], -it[0]))[:10]
    for nb in (None, 4):
        got = _single(spark, idx, weights, n_buckets=nb, pre_analyzed=True)
        _same([(r.docId, r.score) for r in got.collect()], want_top)


def test_empty_hit_sets_return_typed_empty_frames(spark, idx):
    """Unknown terms, and a query whose every hit is tombstoned, answer with
    an empty frame of the entry point's schema on both plans."""
    oracle = idx[4]
    kw = ["tok1"]
    all_hits = np.array(sorted(d for d, _ in _oracle(oracle, kw, None)), dtype=np.int64)
    assert len(all_hits)

    def dtypes(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    for nb in (None, 4):
        for df in (_single(spark, idx, ["zzz_absent"], n_buckets=nb),
                   _single(spark, idx, kw, n_buckets=nb, deleted=all_hits)):
            assert dtypes(df.schema) == dtypes(R.SCORE_SCHEMA)
            assert df.collect() == []
        for df in (_batch(spark, idx, {0: ["zzz_absent"]}, n_buckets=nb),
                   _batch(spark, idx, {0: kw}, n_buckets=nb, deleted=all_hits),
                   _batch(spark, idx, {0: kw}, k=None, n_buckets=nb,
                          deleted=all_hits)):
            assert dtypes(df.schema) == dtypes(R.BATCH_SCHEMA)
            assert df.collect() == []


def test_one_bucket_serving_cache_keeps_bucketed_shards(spark, tmp_path_factory):
    """The serving cache still writes BUCKETED_SCHEMA shards at one bucket
    (binary block metadata, through prepare AND refresh), and serving from
    them answers like the in-plan one-bucket batch."""
    import pyarrow.feather as feather
    from pyspark.sql import functions as F

    from search_engine_spark.operators.serving import (
        prepare_serving_cache,
        refresh_serving_cache,
        score_queries_cached,
    )
    from search_engine_spark.sources.corpus import synthetic_corpus

    root = tmp_path_factory.mktemp("onebucket_cache")
    p, cdir = str(root / "idx"), str(root / "cache")
    corpus = synthetic_corpus(spark, n_docs=240, vocab_size=300, seed=3)
    delta = F.col("docId") % 6 == 0
    S.build_index(spark, corpus.where(~delta), p, analyzer="porter", n_batches=1)
    prepare_serving_cache(spark, p, cdir, n_buckets=1)
    S.build_one_batch(spark, corpus.where(delta), p, key="delta1", analyzer="porter")
    m = S.finalize_index(spark, p)
    cache = refresh_serving_cache(spark, p, cdir)
    assert cache["n_buckets"] == 1
    files = [f for fs in cache["shards"].values() for f in fs]
    assert any(".d" in f for f in files)  # the refresh wrote a delta shard
    want_schema = [(f.name, f.dataType.simpleString()) for f in R.BUCKETED_SCHEMA]
    type_names = {"int32": "int", "int64": "bigint", "string": "string",
                  "binary": "binary"}
    for f in files:
        schema = feather.read_table(os.path.join(cdir, f)).schema
        got = [(n, type_names[str(t)]) for n, t in zip(schema.names, schema.types)]
        assert got == want_schema, f

    stats = S.load_term_stats_pdf(p)
    cached = _by_qid(score_queries_cached(spark, cache, stats, QUERIES, k=10).collect())
    plan = _by_qid(R.score_queries_daat_batch(
        spark, S.load_segments(spark, p), stats, QUERIES, m["stats"]["n_docs"],
        m["stats"]["avgdl"], k=10).collect())
    assert plan and cached.keys() == plan.keys()
    for qid in plan:
        _same(cached[qid], plan[qid])
