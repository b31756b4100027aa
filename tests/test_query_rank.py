"""Query + ranking semantics vs reference fixtures and the numpy oracle."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import query as Q
from search_engine_spark.operators import rank as R
from search_engine_spark.plans.oracle import OracleIndex
from search_engine_spark.sources import segments as S
from tests.conftest import corpus_from_texts

# Team8TfIdfTest.java:37-41
TFIDF_DOCS = [
    "An apple a day keeps a doctor away",
    "One rotten apple spoils the whole barrel",
    "Fortune knocks once at everyone's rotten door",
]

# Team11PhraseSearchTest.java:25-33
PHRASE_DOCS = [
    "That sounds like a good idea. Maybe we should go out to eat beforehand.",
    "Let's meet at Summer Pizza House. I have not gone there for a long time.",
    "Good idea again. I heard they just came up with a new pizza.",
    "We can meet at Summer Pizza House at noon. That will give us plenty of time to enjoy our pizza.",
    "She graduated last June, and she will start her teaching career next week when the new school term begins.",
    "The kids might even look forward to going to school since they have so many friends to play with.",
    "I am always amazed by the things kindergarten teachers do so it's a good idea to let her join us.",
]


@pytest.fixture(scope="module")
def tfidf_index(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("tfidf") / "idx")
    corpus = corpus_from_texts(spark, TFIDF_DOCS)
    # one flush per doc in the reference; 3 batches ≙ 3 segments
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=3)
    return p, m, corpus


@pytest.fixture(scope="module")
def phrase_index(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("phrase") / "idx")
    corpus = corpus_from_texts(spark, PHRASE_DOCS)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=2)
    return p, m, corpus


def test_tfidf_reference_ordering(spark, tfidf_index):
    """Team8TfIdfTest: query [apple, apple, rotten] -> docs [1, 0, 2];
    topK=2 -> [1, 0]."""
    p, m, _ = tfidf_index
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    sc = R.Scorer(kind="tfidf_cosine")
    got = R.score_query_daat(
        spark, segs, stats, ["apple", "apple", "rotten"],
        m["stats"]["n_docs"], m["stats"]["avgdl"], sc, None,
    ).collect()
    assert [r.docId for r in got] == [1, 0, 2]
    assert got[0].score >= got[1].score >= got[2].score
    got2 = R.score_query_daat(
        spark, segs, stats, ["apple", "apple", "rotten"],
        m["stats"]["n_docs"], m["stats"]["avgdl"], sc, 2,
    ).collect()
    assert [r.docId for r in got2] == [1, 0]


def test_rank_identity_both_paths_both_scorers(spark, tfidf_index):
    p, m, corpus = tfidf_index
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    dec = S.decode_postings(segs)
    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)), "porter")
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    for kind in ("bm25", "tfidf_cosine"):
        sc = R.Scorer(kind=kind)
        exp = oracle.topk(["apple", "rotten", "door"], 3, kind)
        agg = [(r.docId, r.score) for r in R.score_query(
            spark, dec, stats, ["apple", "rotten", "door"], nd, avg, sc, 3).collect()]
        daat = [(r.docId, r.score) for r in R.score_query_daat(
            spark, segs, stats, ["apple", "rotten", "door"], nd, avg, sc, 3).collect()]
        for got in (agg, daat):
            assert [d for d, _ in got] == [d for d, _ in exp]
            assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, exp))


def test_boolean_queries(spark, phrase_index):
    p, m, corpus = phrase_index
    dec = S.decode_postings(S.load_segments(spark, p))
    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)), "porter")
    for kws in (["pizza"], ["good", "idea"], ["school"], ["pizza", "house"]):
        terms = Q.analyze_query(kws, "porter")
        assert {r.docId for r in Q.search_and(dec, terms).collect()} == oracle.search_and(terms)
        assert {r.docId for r in Q.search_or(dec, terms).collect()} == oracle.search_or(terms)
    # Q2 empty keyword -> empty (IIM:699-701)
    assert Q.search_and(dec, []).count() == 0
    assert Q.search_keyword(dec, "zzz_absent").count() == 0


def test_phrase_queries(spark, phrase_index):
    """Team11PhraseSearchTest: 'eat beforehand' -> doc 0;
    'Summer Pizza House' -> docs 1, 3 (cross-segment)."""
    p, m, corpus = phrase_index
    decp = S.decode_postings(S.load_segments(spark, p), None, True)
    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)), "porter")

    def phrase(kws):
        terms = Q.analyze_query(kws, "porter")
        got = {r.docId for r in Q.search_phrase(decp, terms).collect()}
        assert got == oracle.search_phrase(terms), kws
        return got

    assert phrase(["eat", "beforehand"]) == {0}
    assert phrase(["Summer", "Pizza", "House"]) == {1, 3}
    assert 2 in phrase(["good", "idea"])
    assert phrase(["beforehand", "eat"]) == set()


def test_full_scan_oracle_matches_index(spark, phrase_index):
    """Q1 FullScanSearcher ≙ index search (FullScanSearcher.java:27-40)."""
    p, _, corpus = phrase_index
    dec = S.decode_postings(S.load_segments(spark, p))
    kws = ["pizza", "house"]
    scan = {r.docId for r in Q.full_scan_search(corpus, kws, "porter").collect()}
    idx = {r.docId for r in Q.search_and(dec, Q.analyze_query(kws, "porter")).collect()}
    assert scan == idx


def test_rank_identity_synthetic(spark, tmp_path_factory):
    """North-rule check at a less trivial scale: 250-doc synthetic corpus,
    multi-batch + salting, BM25 top-10 rank-identical to the oracle."""
    from search_engine_spark.sources.corpus import synthetic_corpus

    p = str(tmp_path_factory.mktemp("synth") / "idx")
    corpus = synthetic_corpus(spark, n_docs=250, vocab_size=600, seed=11)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=2,
                      heavy_threshold=40, n_salts=4)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)), "porter")
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    for q in (["def", "import"], ["apple", "rotten", "tok3"], ["tok1"], ["string", "void", "tok7"]):
        exp = oracle.topk(q, 10, "bm25")
        got = [(r.docId, r.score) for r in R.score_query_daat(
            spark, segs, stats, q, nd, avg, R.Scorer(), 10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, exp))


def test_batch_scoring_matches_per_query(spark, tmp_path_factory):
    """score_queries_batch (one job, Q queries) must reproduce score_query
    (one job per query) exactly: same docIds, same order, same scores —
    both scorers, both tie modes, including a query whose terms are absent."""
    from search_engine_spark.sources.corpus import synthetic_corpus

    p = str(tmp_path_factory.mktemp("batch") / "idx")
    corpus = synthetic_corpus(spark, n_docs=300, vocab_size=500, seed=7)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=2)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    queries = {
        0: ["def", "import"],
        1: ["apple", "rotten", "tok3"],
        2: ["tok1"],
        3: ["string", "void", "tok7"],
        4: ["zzz_not_in_corpus"],
        5: ["tok3", "tok3", "import"],  # repeated keyword -> qtf=2
    }
    decoded = S.decode_postings(segs)
    for kind in ("bm25", "tfidf_cosine"):
        for ties in ("asc", "desc"):
            sc = R.Scorer(kind)
            batch = R.score_queries_batch(
                spark, decoded, stats, queries, nd, avg, sc, k=10,
                analyzer="porter", ties=ties,
            ).collect()
            by_q = {}
            for r in batch:
                by_q.setdefault(r.qid, []).append((r.docId, r.score))
            assert 4 not in by_q  # absent-term query yields no rows
            for qid, kw in queries.items():
                single = [
                    (r.docId, r.score)
                    for r in R.score_query(
                        spark, decoded, stats, kw, nd, avg, sc, k=10,
                        analyzer="porter", ties=ties,
                    ).collect()
                ]
                got = by_q.get(qid, [])
                assert [d for d, _ in got] == [d for d, _ in single], (kind, ties, qid)
                assert all(
                    abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, single)
                ), (kind, ties, qid)


def test_batch_daat_matches_per_query_daat(spark, tmp_path_factory):
    """score_queries_daat_batch (one workload through the kernel) must
    reproduce score_query_daat (its Q=1 case) per query, and agree with the
    declarative batch path."""
    from search_engine_spark.sources.corpus import synthetic_corpus

    p = str(tmp_path_factory.mktemp("bdaat") / "idx")
    corpus = synthetic_corpus(spark, n_docs=400, vocab_size=600, seed=19)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=2,
                      heavy_threshold=60, n_salts=4)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    queries = {
        0: ["def", "import"],
        1: ["apple", "rotten", "tok3"],
        2: ["tok1"],
        3: ["zzz_absent"],
        4: ["tok3", "tok3", "string"],
    }
    sc = R.Scorer("bm25")
    batch = R.score_queries_daat_batch(
        spark, segs, stats, queries, nd, avg, sc, k=10, ties="asc",
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.qid, []).append((r.docId, r.score))
    assert 3 not in by_q
    decl = R.score_queries_batch(
        spark, S.decode_postings(segs), stats, queries, nd, avg, sc, k=10,
        ties="asc",
    ).collect()
    decl_q = {}
    for r in decl:
        decl_q.setdefault(r.qid, []).append((r.docId, r.score))
    for qid, kw in queries.items():
        single = [
            (r.docId, r.score)
            for r in R.score_query_daat(
                spark, segs, stats, kw, nd, avg, sc, k=10, ties="asc",
            ).collect()
        ]
        got = by_q.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in single], qid
        assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, single)), qid
        dgot = decl_q.get(qid, [])
        assert [d for d, _ in dgot] == [d for d, _ in single], qid
    # k=None: exhaustive rows equal the declarative exhaustive rows
    full = R.score_queries_daat_batch(
        spark, segs, stats, {1: queries[1]}, nd, avg, sc, k=None, ties="asc",
    ).collect()
    dfull = R.score_queries_batch(
        spark, S.decode_postings(segs), stats, {1: queries[1]}, nd, avg, sc,
        k=None, ties="asc",
    ).collect()
    a = sorted((r.docId, round(r.score, 9)) for r in full)
    b = sorted((r.docId, round(r.score, 9)) for r in dfull)
    assert a == b


def test_batch_daat_matches_oracle(spark, tmp_path_factory):
    """The batch DAAT kernel must give every qid the oracle's top-10 (same
    docIds in order, scores within 1e-9) on the one-task plan and the
    bucketed plan alike. Covers both scorers, both tie orders, a term
    shared across queries, a duplicate-term query (qtf=2) and an absent
    term (no rows for that qid)."""
    from search_engine_spark.sources.corpus import synthetic_corpus

    p = str(tmp_path_factory.mktemp("vbatch") / "idx")
    corpus = synthetic_corpus(spark, n_docs=500, vocab_size=500, seed=31)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=2,
                      heavy_threshold=60, n_salts=4)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)), "porter")
    queries = {
        0: ["def", "import"],
        1: ["apple", "rotten", "tok3"],
        2: ["def"],                      # shares a term with qid 0
        3: ["tok3", "tok3", "string"],   # qtf=2
        4: ["zzz_absent"],
    }
    for kind in ("bm25", "tfidf_cosine"):
        sc = R.Scorer(kind)
        for ties in ("asc", "desc"):
            for n_buckets in (1, 4):
                by_q = {}
                for r in R.score_queries_daat_batch(
                    spark, segs, stats, queries, nd, avg, sc, k=10,
                    ties=ties, n_buckets=n_buckets,
                ).collect():
                    by_q.setdefault(r.qid, []).append((r.docId, r.score))
                case = (kind, ties, n_buckets)
                assert 4 not in by_q, case
                for qid, kw in queries.items():
                    want = oracle.topk(kw, 10, kind, ties)
                    got = by_q.get(qid, [])
                    assert [d for d, _ in got] == [d for d, _ in want], (case, qid)
                    assert all(
                        abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, want)
                    ), (case, qid)


def test_serving_fast_paths_identical(spark, tmp_path_factory):
    """Local pandas term_stats + manifest docid_span (the zero-aux-job
    serving setup) must change NOTHING about results, single-query or
    batch."""
    from search_engine_spark.sources.corpus import synthetic_corpus
    from search_engine_spark.sources.segments import docid_span, load_term_stats_pdf

    p = str(tmp_path_factory.mktemp("fast") / "idx")
    corpus = synthetic_corpus(spark, n_docs=300, vocab_size=400, seed=7)
    m = S.build_index(spark, corpus, p, analyzer="porter", heavy_threshold=50,
                      n_salts=4)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    span = docid_span(p)
    assert span is not None and span[0] <= span[1]
    assert m["stats"]["docid_lo"] == span[0] and m["stats"]["docid_hi"] == span[1]
    stats_pdf = load_term_stats_pdf(p)
    assert len(stats_pdf) == stats.count()
    sc = R.Scorer("bm25")
    kw = ["def", "tok1", "import"]
    base = [(r.docId, round(r.score, 9)) for r in R.score_query_daat(
        spark, segs, stats, kw, nd, avg, sc, k=10).collect()]
    fast = [(r.docId, round(r.score, 9)) for r in R.score_query_daat(
        spark, segs, stats_pdf, kw, nd, avg, sc, k=10,
        docid_span=span).collect()]
    assert base == fast and base
    queries = {0: kw, 1: ["tok2"], 2: ["zzz_absent"]}
    b0 = sorted((r.qid, r.docId, round(r.score, 9)) for r in
                R.score_queries_daat_batch(
                    spark, segs, stats, queries, nd, avg, sc, k=5).collect())
    b1 = sorted((r.qid, r.docId, round(r.score, 9)) for r in
                R.score_queries_daat_batch(
                    spark, segs, stats_pdf, queries, nd, avg, sc, k=5,
                    docid_span=span).collect())
    assert b0 == b1 and b0


def test_sharded_blob_merge_matches_row_merge(spark, tmp_path_factory, monkeypatch):
    """The packed-blob merge sharded across several tasks (qid % n_merge)
    must equal both the single-task blob merge and the distributed row
    merge. Shrink the per-task entry budget so a small workload forces
    n_merge > 1."""
    from search_engine_spark.sources.corpus import synthetic_corpus

    p = str(tmp_path_factory.mktemp("shardmerge") / "idx")
    corpus = synthetic_corpus(spark, n_docs=300, vocab_size=400, seed=23)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=1)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    queries = {
        i: kw
        for i, kw in enumerate(
            [["def"], ["import", "tok1"], ["tok2", "tok3"], ["string"],
             ["apple", "def"], ["tok1"], ["return"], ["class", "tok2"]]
        )
    }
    sc = R.Scorer("bm25")

    def rows(df):
        return sorted((r.qid, r.docId, round(r.score, 9)) for r in df.collect())

    monkeypatch.setattr(R, "_MERGE_ENTRIES_PER_TASK", 16)  # forces n_merge > 1
    sharded = rows(R.score_queries_daat_batch(
        spark, segs, stats, queries, nd, avg, sc, k=5, n_buckets=4))
    monkeypatch.setattr(R, "_MERGE_ENTRIES_PER_TASK", 1 << 19)
    single = rows(R.score_queries_daat_batch(
        spark, segs, stats, queries, nd, avg, sc, k=5, n_buckets=4))
    monkeypatch.setattr(R, "_BLOB_MERGE_CAP", 0)  # row merge path
    rowm = rows(R.score_queries_daat_batch(
        spark, segs, stats, queries, nd, avg, sc, k=5, n_buckets=4))
    assert sharded == single == rowm and sharded


def test_batch_topk_partial_prune_bounded(spark):
    """The mapInPandas partial top-k must re-prune its accumulator (state
    stays O(Q*k)) and still produce the exact per-qid top-k with ties."""
    import pandas as pd

    rows = [(i % 3, i, float(i % 97)) for i in range(6000)]
    scores = spark.createDataFrame(rows, "qid long, docId long, score double")
    out = R._batch_topk(scores.repartition(2), 5, "asc").collect()
    exp = {}
    pdf = pd.DataFrame(rows, columns=["qid", "docId", "score"])
    for qid, g in pdf.groupby("qid"):
        exp[qid] = list(
            g.sort_values(["score", "docId"], ascending=[False, True])
            .head(5)["docId"]
        )
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append(r.docId)
    assert got == exp


def test_daat_local_topk_tiebreak_both_modes(spark, tmp_path_factory):
    """Equal-score docs straddling the k boundary inside ONE bucket: the
    local truncation must honor `ties`. With ties=asc the global winners are
    the SMALLEST docIds — a bucket truncating docId-desc (the per-segment
    default) would drop them (VERDICT r1 'What's wrong' #1)."""
    p = str(tmp_path_factory.mktemp("ties") / "idx")
    # 6 identical docs -> identical BM25 scores; 1 distinct doc scores lower
    texts = ["apple pie sauce"] * 6 + ["apple orchard visit today maybe"]
    corpus = corpus_from_texts(spark, texts)
    m = S.build_index(spark, corpus, p, analyzer="naive", n_batches=1)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    for ties, expect in (("asc", [0, 1, 2]), ("desc", [5, 4, 3])):
        got = R.score_query_daat(
            spark, segs, stats, ["apple"], nd, avg, R.Scorer(), k=3,
            analyzer="naive", ties=ties, n_buckets=1,
        ).collect()
        assert [r.docId for r in got] == expect, ties
        # declarative path agrees (it sorts globally, no local truncation)
        decl = R.score_query(
            spark, S.decode_postings(segs, ["apple"]), stats, ["apple"],
            nd, avg, R.Scorer(), k=3, analyzer="naive", ties=ties,
        ).collect()
        assert [r.docId for r in decl] == expect, ties


def test_narrow_docid_span_is_a_hint_not_a_constraint(spark, tmp_path_factory):
    """A docid_span NARROWER than the data (stale manifest span: a batch
    committed after the last finalize_index, or a caller passing bad bounds)
    must neither crash the bucket splitter (docs above edges[-1] used to
    IndexError) nor silently drop docs outside the span (docs below
    lo_global used to fall into bucket 0 and get range-masked away). Edge
    buckets are open-ended, so any span is only a bucket-sizing hint."""
    from search_engine_spark.sources.corpus import synthetic_corpus

    p = str(tmp_path_factory.mktemp("spanhint") / "idx")
    corpus = synthetic_corpus(spark, n_docs=300, vocab_size=400, seed=17)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=2,
                      heavy_threshold=50, n_salts=4)
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    q = ["def", "apple", "tok3"]
    mid = 2**61  # hashed docIds span ~[0, 2^63); almost all fall OUTSIDE this
    narrow = (mid, mid + 1000)

    def rows(df):
        return sorted((r.docId, round(r.score, 9)) for r in df.collect())

    full = rows(R.score_query_daat(spark, segs, stats, q, nd, avg,
                                   R.Scorer(), 10, n_buckets=8))
    assert full
    got = rows(R.score_query_daat(spark, segs, stats, q, nd, avg, R.Scorer(),
                                  10, n_buckets=8, docid_span=narrow))
    assert got == full
    queries = {0: q, 1: ["tok1"]}
    bfull = rows(R.score_queries_daat_batch(
        spark, segs, stats, queries, nd, avg, R.Scorer(), 10, n_buckets=8))
    bgot = rows(R.score_queries_daat_batch(
        spark, segs, stats, queries, nd, avg, R.Scorer(), 10, n_buckets=8,
        docid_span=narrow))
    assert bgot == bfull and bfull


def test_more_like_this(spark, phrase_index):
    """MLT == (seed top-terms by tf·idf) run through the oracle scorer,
    seed excluded, (score desc, docId asc) top-k."""
    import math

    p, m, corpus = phrase_index
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)))
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]

    for seed_doc, top_terms, k in ((1, 5, 3), (3, 8, 5), (6, 4, 7)):
        seed = R.mlt_seed_terms(corpus, stats, seed_doc, nd, top_terms)
        # expansion oracle: tf·idf-heaviest terms of the seed doc
        tfs = {}
        for t in oracle.tokens[seed_doc]:
            tfs[t] = tfs.get(t, 0) + 1
        want_seed = sorted(
            ((t, tf, tf * math.log10(nd / oracle.df(t))) for t, tf in tfs.items()),
            key=lambda x: (-x[2], x[0]),
        )[:top_terms]
        assert seed == [(t, tf) for t, tf, _ in want_seed], seed_doc

        got = R.more_like_this(
            spark, corpus, segs, stats, seed_doc, nd, avg,
            top_terms=top_terms, k=k,
        ).collect()
        kw = [t for t, tf in seed for _ in range(tf)]
        want = [
            (d, s) for d, s in oracle.topk(kw, None, "tfidf_cosine", ties="asc")
            if d != seed_doc
        ][:k]
        assert [r.docId for r in got] == [d for d, _ in want], seed_doc
        assert all(abs(r.score - s) < 1e-9 for r, (_, s) in zip(got, want)), seed_doc

    # missing seed doc -> empty
    assert R.more_like_this(spark, corpus, segs, stats, 999, nd, avg).collect() == []


def test_score_with_boosts(spark, tfidf_index):
    """Boosted re-rank == base scores + literal bonuses; docs missing from
    the meta table keep their base score."""
    p, m, corpus = tfidf_index
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    base = R.score_query_daat(
        spark, segs, stats, ["apple", "rotten"], nd, avg, R.Scorer(), k=None
    )
    base_rows = {r.docId: r.score for r in base.collect()}
    meta = spark.createDataFrame(
        [(0, "a", "en"), (1, "b", "de")],  # doc 2 absent on purpose
        "docId long, src string, lang string",
    )
    boosts = {"src": {"a": 1.0, "b": 3.0}, "lang": {"de": 0.5}}
    got = {r.docId: r.score for r in R.score_with_boosts(
        base, meta, boosts, k=None).collect()}
    want = {
        0: base_rows[0] + 1.0,
        1: base_rows[1] + 3.0 + 0.5,
        2: base_rows[2],  # not in meta -> no boost
    }
    assert set(got) == set(want)
    assert all(abs(got[d] - want[d]) < 1e-12 for d in want)
    # top-k ordering respects the boosted score with docId tie-break
    top = R.score_with_boosts(base, meta, boosts, k=2).collect()
    order = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r.docId, round(r.score, 9)) for r in top] == [
        (d, round(s, 9)) for d, s in order
    ]


def test_search_after_pagination(spark, phrase_index):
    """Walking pages via (score, docId) cursors reconstructs the full
    ranking exactly once, including across tied scores."""
    p, m, _ = phrase_index
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    scored = R.score_query_daat(
        spark, segs, stats, ["pizza", "good", "idea"], nd, avg,
        R.Scorer(), k=None, ties="asc",
    )
    full = scored.orderBy(F.desc("score"), F.asc("docId")).collect()
    assert len(full) >= 4
    pages, cur = [], None
    for _ in range(10):
        page = (
            scored.orderBy(F.desc("score"), F.asc("docId")).limit(2).collect()
            if cur is None
            else R.search_after(scored, cur, 2).collect()
        )
        if not page:
            break
        pages.extend(page)
        cur = (page[-1].score, page[-1].docId)
    assert [(r.docId, r.score) for r in pages] == [(r.docId, r.score) for r in full]
    # cursor past the end -> empty page
    last = (full[-1].score, full[-1].docId)
    assert R.search_after(scored, last, 5).collect() == []


def test_score_query_fielded(spark, tmp_path):
    """Fielded weighted BM25: content-only fielded query equals plain DAAT;
    one-token field contributions are exactly weight * idf(field df)."""
    import math

    corpus = corpus_from_texts(spark, TFIDF_DOCS, analyzer_ids=None).withColumn(
        "lang", F.when(F.col("docId") == 0, "en").otherwise("de")
    )
    idx = str(tmp_path / "fielded_rank_idx")
    m = S.build_index(
        spark, corpus, idx, analyzer="naive", n_batches=1, num_segments=4,
        fields={"lang": "naive"},
    )
    segs, stats = S.load_segments(spark, idx), S.load_term_stats(spark, idx)
    nd = m["stats"]["n_docs"]
    by_field = m["stats"]["avgdl_by_field"]
    assert by_field["lang"] == pytest.approx(1.0)

    q = ["rotten", "apple"]
    plain = R.score_query_daat(
        spark, segs, stats, q, nd, by_field[""], R.Scorer("bm25"),
        k=None, analyzer="naive", ties="asc",
    )
    content_only = R.score_query_fielded(
        spark, segs, stats, {None: (q, 1.0)}, nd, by_field,
        k=None, analyzer="naive",
    )
    a = {r.docId: r.score for r in plain.collect()}
    b = {r.docId: r.score for r in content_only.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[d] - b[d]) < 1e-9 for d in a)

    both = {
        r.docId: r.score
        for r in R.score_query_fielded(
            spark, segs, stats, {None: (q, 1.0), "lang": (["en"], 0.5)},
            nd, by_field, k=None, analyzer="naive",
        ).collect()
    }
    idf_en = math.log((nd - 1 + 0.5) / (1 + 0.5) + 1.0)  # df(lang:en) = 1
    assert both[0] == pytest.approx(a[0] + 0.5 * idf_en, abs=1e-9)
    for d in (1, 2):
        if d in a:
            assert both[d] == pytest.approx(a[d], abs=1e-9)


def test_rrf_fuse(spark):
    """RRF laws on hand-computed lists: exact 1/(c+rank) sums, overlap
    dominance, tie-break on id."""
    from search_engine_spark.operators.rank import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 5.0), (11, 4.0), (12, 3.0)], "docId long, score double"
    )
    vec = spark.createDataFrame(
        [(12, 0.9), (10, 0.8), (13, 0.7)], "docId long, score double"
    )
    got = {r.docId: r.rrf for r in rrf_fuse([lex, vec], k=10, c=60).collect()}
    # ranks: lex 10->1, 11->2, 12->3 ; vec 12->1, 10->2, 13->3
    assert got[10] == pytest.approx(1 / 61 + 1 / 62)
    assert got[12] == pytest.approx(1 / 63 + 1 / 61)
    assert got[11] == pytest.approx(1 / 62)
    assert got[13] == pytest.approx(1 / 63)
    # both-list docs beat single-list docs
    assert min(got[10], got[12]) > max(got[11], got[13])
    # score ties rank by id ascending: (20,1.0) before (21,1.0)
    tied = spark.createDataFrame(
        [(21, 1.0), (20, 1.0)], "docId long, score double"
    )
    t = {r.docId: r.rrf for r in rrf_fuse([tied], k=2).collect()}
    assert t[20] == pytest.approx(1 / 61) and t[21] == pytest.approx(1 / 62)


def test_explain_score_sums_to_score(spark, tfidf_index):
    """Q8 explain: per-(doc, term) BM25 factor rows must sum (by doc) to the
    exhaustive declarative score, factor columns must match hand-computed
    values, and doc_ids must narrow without changing rows."""
    import math

    p, m, corpus = tfidf_index
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    decoded = S.decode_postings(segs)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    q = ["apple", "apple", "rotten"]
    ex = R.explain_score(spark, decoded, stats, q, nd, avg).collect()
    assert ex
    # factors: qtf from the analyzed query, idf from df, contribution formula
    for r in ex:
        idf = math.log((nd - r.df + 0.5) / (r.df + 0.5) + 1.0)
        assert abs(r.idf - idf) < 1e-12
        want = (r.qtf * r.idf * r.tf * (1.2 + 1.0)
                / (r.tf + 1.2 * (1.0 - 0.75 + 0.75 * r.dl / avg)))
        assert abs(r.contribution - want) < 1e-12
    sums = {}
    for r in ex:
        sums[r.docId] = sums.get(r.docId, 0.0) + r.contribution
    scored = R.score_query(
        spark, S.decode_postings(segs), stats, q, nd, avg, k=None
    ).collect()
    assert {r.docId: r.score for r in scored}.keys() == sums.keys()
    for r in scored:
        assert abs(sums[r.docId] - r.score) < 1e-9
    # narrowing to one doc keeps exactly that doc's rows
    one = R.explain_score(spark, decoded, stats, q, nd, avg,
                          doc_ids=[ex[0].docId]).collect()
    assert {r.docId for r in one} == {ex[0].docId}
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        R.explain_score(spark, decoded, stats, q, nd, avg,
                        scorer=R.Scorer("tfidf_cosine"))


def test_dismax_laws(spark, tfidf_index):
    """DisjunctionMax: tie=1.0 recovers the BM25 sum of score_query,
    tie=0.0 is the per-term max, and scores interpolate monotonically."""
    p, m, _ = tfidf_index
    segs, stats = S.load_segments(spark, p), S.load_term_stats(spark, p)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    q = ["apple", "apple", "rotten"]
    dec = S.decode_postings(segs, Q.analyze_query(q, "porter"))

    def dismax(tie):
        return {
            r.docId: r.score
            for r in R.score_query_dismax(
                spark, dec, stats, q, nd, avg, R.Scorer("bm25"),
                tie_breaker=tie, k=None,
            ).collect()
        }

    full = {
        r.docId: r.score
        for r in R.score_query(
            spark, dec, stats, q, nd, avg, R.Scorer("bm25"), k=None
        ).collect()
    }
    d0, d3, d1 = dismax(0.0), dismax(0.3), dismax(1.0)
    assert set(d0) == set(d3) == set(d1) == set(full)
    for doc in full:
        assert d1[doc] == pytest.approx(full[doc], abs=1e-12)  # tie=1 == sum
        assert d0[doc] <= d3[doc] <= d1[doc] + 1e-12  # monotone in tie
        # tie=0 == the best single-term contribution: <= the sum, and equal
        # to it only when one term carries the whole score
        assert d0[doc] <= full[doc] + 1e-12
    # at least one doc matches BOTH terms, so max < sum strictly somewhere
    assert any(d0[doc] < full[doc] - 1e-12 for doc in full)
    with pytest.raises(ValueError):
        R.score_query_dismax(
            spark, dec, stats, q, nd, avg, tie_breaker=1.5
        )
