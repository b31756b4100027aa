"""Bucketized serving cache: cached scoring must be bit-identical to the
in-plan batch path, and a stale cache must refuse to serve."""

import pytest

from search_engine_spark.operators import rank as R
from search_engine_spark.operators.serving import (
    ServingCacheStale,
    load_serving_cache,
    prepare_serving_cache,
    score_queries_cached,
)
from search_engine_spark.sources import segments as S
from search_engine_spark.sources.segments import load_term_stats_pdf
from tests.conftest import corpus_from_texts, run_jobs

DOCS = [
    "spark scan table scan filter join",
    "table a b c d e scan",
    "scan table",
    "join filter spark spark",
    "table x scan y table z z scan",
    "apple rotten apple",
    "def import tok1 tok2",
    "import tok1",
]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("serve")
    idx, cdir = str(root / "idx"), str(root / "cache")
    corpus = corpus_from_texts(spark, DOCS)
    m = S.build_index(spark, corpus, idx, analyzer="naive", n_batches=2)
    cache = prepare_serving_cache(spark, idx, cdir, n_buckets=4)
    return idx, cache, m


def _rows(df):
    return sorted((r.qid, r.docId, round(r.score, 12)) for r in df.collect())


def test_cached_matches_in_plan(spark, served):
    idx, cache, m = served
    segs, stats = S.load_segments(spark, idx), load_term_stats_pdf(idx)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    queries = {
        0: ["scan", "table"],
        1: ["apple"],
        2: ["import", "tok1"],
        3: ["zzz_absent"],
        4: ["spark", "spark", "join"],
    }
    for ties in ("desc", "asc"):
        for sc in (R.Scorer("bm25"), R.Scorer("tfidf_cosine")):
            a = _rows(score_queries_cached(
                spark, cache, stats, queries, scorer=sc, k=3,
                analyzer="naive", ties=ties))
            b = _rows(R.score_queries_daat_batch(
                spark, segs, stats, queries, nd, avg, sc, k=3,
                analyzer="naive", ties=ties,
                docid_span=(m["stats"]["docid_lo"], m["stats"]["docid_hi"])))
            assert a == b and a
    # meta round-trips through disk
    reloaded = load_serving_cache(cache["cache_dir"])
    assert reloaded["generation"] == cache["generation"]
    a2 = _rows(score_queries_cached(
        spark, reloaded, stats, {0: ["scan"]}, analyzer="naive"))
    assert a2


def test_cached_deleted_mask(spark, served):
    idx, cache, m = served
    import numpy as np

    stats = load_term_stats_pdf(idx)
    # tombstone docs 0 and 4 via the explicit array (no manifest commit)
    dead = np.array(sorted([0, 4]), dtype=np.int64)
    got = _rows(score_queries_cached(
        spark, cache, stats, {0: ["scan"]}, analyzer="naive", deleted=dead))
    assert got and all(d not in (0, 4) for _, d, _ in got)


def test_stale_cache_refuses(spark, served, tmp_path_factory):
    idx, cache, m = served
    from search_engine_spark.operators.delete import add_tombstones

    stats = load_term_stats_pdf(idx)
    ids = spark.createDataFrame([(2,)], "docId long")
    add_tombstones(spark, idx, ids)  # bumps the manifest generation
    with pytest.raises(ServingCacheStale):
        score_queries_cached(spark, cache, stats, {0: ["scan"]}, analyzer="naive")
    # explicit opt-out still serves (caller owns the consistency trade)
    got = _rows(score_queries_cached(
        spark, cache, stats, {0: ["scan"]}, analyzer="naive",
        check_generation=False))
    assert got
    # re-prepare picks up the new generation and serves again
    cache2 = prepare_serving_cache(
        spark, idx, str(tmp_path_factory.mktemp("serve2") / "cache"),
        n_buckets=4)
    got2 = _rows(score_queries_cached(
        spark, cache2, stats, {0: ["scan"]}, analyzer="naive"))
    assert got2


def test_visibility_probe_is_one_job_and_names_a_missing_shard(
        spark, served, tmp_path_factory):
    """The commit gate probes every shard file from a task in one Spark
    job; a deleted shard raises ServingCacheUnreachable naming the file."""
    import os
    import shutil

    from search_engine_spark.operators import serving as SV

    _, cache, _ = served
    cdir = str(tmp_path_factory.mktemp("probe") / "cache")
    shutil.copytree(cache["cache_dir"], cdir)
    rows = {d["bucket"]: d["rows"] for d in cache["buckets"]}
    expect = [(fs[0], rows[int(b)]) for b, fs in cache["shards"].items()]
    assert len(expect) > 1
    _, jobs = run_jobs(spark, lambda: SV._probe_shards_visible(spark, cdir, expect),
                       "probe_ok")
    assert jobs == 1

    victim = expect[-1][0]
    os.remove(os.path.join(cdir, victim))
    with pytest.raises(SV.ServingCacheUnreachable, match="not a shared store") as e:
        SV._probe_shards_visible(spark, cdir, expect)
    assert "task@" in str(e.value) and victim in str(e.value)
    assert "driver@" in str(e.value)


def test_fielded_cache_meta_uses_content_avgdl(spark, tmp_path_factory):
    """On a fielded index the cache meta's default avgdl must be the content
    field's own (manifest avgdl_by_field['']), not the global mix — and
    cached scoring with defaults must equal the in-plan path scored with the
    content avgdl."""
    root = tmp_path_factory.mktemp("fielded_cache")
    idx = str(root / "idx")
    corpus = corpus_from_texts(spark, DOCS)
    m = S.build_index(
        spark, corpus, idx, analyzer="naive", n_batches=1,
        fields={"lang": "naive"},
    )
    content_avgdl = m["stats"]["avgdl_by_field"][""]
    assert content_avgdl != m["stats"]["avgdl"]  # fields shift the global mix
    cache = prepare_serving_cache(spark, idx, str(root / "cache"), n_buckets=2)
    assert abs(cache["avgdl"] - content_avgdl) < 1e-12
    segs, stats = S.load_segments(spark, idx), load_term_stats_pdf(idx)
    queries = {0: ["scan", "table"]}
    a = _rows(score_queries_cached(spark, cache, stats, queries, k=5,
                                   analyzer="naive"))
    b = _rows(R.score_queries_daat_batch(
        spark, segs, stats, queries, m["stats"]["n_docs"], content_avgdl,
        R.Scorer(), k=5, analyzer="naive",
        docid_span=(m["stats"]["docid_lo"], m["stats"]["docid_hi"])))
    assert a == b and a


def test_refresh_tombstone_only_is_metadata(spark, tmp_path_factory):
    """A tombstone-only generation bump refreshes without touching shards;
    cached scoring with the live deleted mask matches the in-plan path."""
    import os

    import numpy as np

    from search_engine_spark.operators.delete import add_tombstones, deleted_array
    from search_engine_spark.operators.serving import refresh_serving_cache

    root = tmp_path_factory.mktemp("refresh_ts")
    idx, cdir = str(root / "idx"), str(root / "cache")
    corpus = corpus_from_texts(spark, DOCS)
    m = S.build_index(spark, corpus, idx, analyzer="naive", n_batches=1)
    cache = prepare_serving_cache(spark, idx, cdir, n_buckets=4)
    shards_before = sorted(f for f in os.listdir(cdir) if f.endswith(".feather"))
    add_tombstones(spark, idx, spark.createDataFrame([(0,)], "docId long"))
    stats = load_term_stats_pdf(idx)
    with pytest.raises(ServingCacheStale):
        score_queries_cached(spark, cache, stats, {0: ["scan"]}, analyzer="naive")
    cache2 = refresh_serving_cache(spark, idx, cdir)
    assert sorted(
        f for f in os.listdir(cdir) if f.endswith(".feather")
    ) == shards_before  # metadata-only: no shard rewrites
    dead = deleted_array(spark, idx)
    got = _rows(score_queries_cached(
        spark, cache2, stats, {0: ["scan"]}, analyzer="naive", deleted=dead))
    assert got and all(d != 0 for _, d, _ in got)
    segs = S.load_segments(spark, idx)
    want = _rows(R.score_queries_daat_batch(
        spark, segs, stats, {0: ["scan"]}, m["stats"]["n_docs"],
        m["stats"]["avgdl"], R.Scorer(), k=10, analyzer="naive",
        deleted=dead,
        docid_span=(m["stats"]["docid_lo"], m["stats"]["docid_hi"])))
    assert got == want


def test_refresh_appends_delta_batch(spark, tmp_path_factory):
    """New committed batches bucketize incrementally: base shards stay
    byte-identical, delta shards appear, and refreshed scoring equals both
    a full re-prepare and the in-plan path over the grown index — including
    docIds OUTSIDE the original sizing span (edge-bucket clamp)."""
    import os

    from pyspark.sql import functions as F

    from search_engine_spark.operators.serving import refresh_serving_cache

    root = tmp_path_factory.mktemp("refresh_delta")
    idx, cdir = str(root / "idx"), str(root / "cache")
    corpus = corpus_from_texts(spark, DOCS)
    S.build_index(spark, corpus, idx, analyzer="naive", n_batches=1)
    prepare_serving_cache(spark, idx, cdir, n_buckets=4)
    base_mtimes = {
        f: os.path.getmtime(os.path.join(cdir, f))
        for f in os.listdir(cdir)
        if f.endswith(".feather")
    }
    # delta docs 100..102 — beyond the original docid span on purpose
    extra = corpus_from_texts(
        spark, ["scan the new table", "fresh apple pie", "scan scan scan"]
    ).withColumn("docId", F.col("docId") + F.lit(100))
    S.build_one_batch(spark, extra, idx, key="delta1", analyzer="naive",
                      num_segments=4)
    m = S.finalize_index(spark, idx)
    assert m["stats"]["n_docs"] == len(DOCS) + 3
    cache = refresh_serving_cache(spark, idx, cdir)
    assert cache["generation"] == m["generation"]
    assert cache["n_docs"] == len(DOCS) + 3
    deltas = [f for f in os.listdir(cdir)
              if f.endswith(".feather") and ".d" in f]
    assert deltas  # incremental shards landed
    for f, t in base_mtimes.items():  # base shards untouched
        assert os.path.getmtime(os.path.join(cdir, f)) == t
    stats = load_term_stats_pdf(idx)
    queries = {0: ["scan", "table"], 1: ["apple"], 2: ["scan"]}
    got = _rows(score_queries_cached(
        spark, cache, stats, queries, k=10, analyzer="naive"))
    assert any(d >= 100 for _, d, _ in got)  # new docs actually serve
    full = prepare_serving_cache(
        spark, idx, str(root / "cache_full"), n_buckets=4)
    want_full = _rows(score_queries_cached(
        spark, full, stats, queries, k=10, analyzer="naive"))
    segs = S.load_segments(spark, idx)
    want_plan = _rows(R.score_queries_daat_batch(
        spark, segs, stats, queries, m["stats"]["n_docs"],
        m["stats"]["avgdl"], R.Scorer(), k=10, analyzer="naive",
        docid_span=(m["stats"]["docid_lo"], m["stats"]["docid_hi"])))
    assert got == want_full == want_plan

    # a compaction rewrites the batch set away -> refresh must fall back
    # to a full prepare and keep serving correctly
    m2 = S.merge_all_batches(spark, idx)
    with pytest.raises(ServingCacheStale):
        score_queries_cached(spark, cache, stats, {0: ["scan"]},
                             analyzer="naive")
    cache3 = refresh_serving_cache(spark, idx, cdir)
    assert cache3["generation"] == m2["generation"]
    assert not any(
        ".d" in f for fs in cache3["shards"].values() for f in fs
    )  # full prepare: single base shard per bucket again
    got3 = _rows(score_queries_cached(
        spark, cache3, stats, queries, k=10, analyzer="naive"))
    assert got3 == want_plan


# one additive refresh of a small delta (local[4], 4 shuffle partitions),
# measured and stable across runs: the splitter-and-shard-write stage, its
# adaptive-execution sub-job and the shard visibility probe. A delta below
# 2 * rank._WORK_PER_BUCKET postings skips the splitter's rebalance shuffle.
REFRESH_JOBS = 3


def test_refresh_delta_job_count_is_pinned(spark, tmp_path_factory):
    """One additive ``refresh_serving_cache`` delta runs exactly
    REFRESH_JOBS Spark jobs."""
    from search_engine_spark.operators.serving import refresh_serving_cache

    root = tmp_path_factory.mktemp("refresh_pin")
    idx, cdir = str(root / "idx"), str(root / "cache")
    S.build_index(spark, corpus_from_texts(spark, DOCS), idx, analyzer="naive")
    prepare_serving_cache(spark, idx, cdir, n_buckets=4)
    extra = corpus_from_texts(spark, ["scan the new table", "fresh apple pie"])
    S.build_one_batch(spark, extra.withColumn("docId", extra.docId + 100), idx,
                      key="delta1", analyzer="naive", num_segments=4)
    S.finalize_index(spark, idx)
    cache, jobs = run_jobs(spark, lambda: refresh_serving_cache(spark, idx, cdir),
                           "refresh_delta")
    assert cache["refresh_mode"] == "delta"
    assert jobs == REFRESH_JOBS


def test_refresh_folds_delta_shards(spark, tmp_path_factory):
    """Repeated refreshes must not grow per-bucket read amplification
    unboundedly: at fold_threshold the bucket's files concat into one (in
    kernel read order), replaced files are unlinked after the meta commit,
    and scoring stays equal to a full re-prepare."""
    import os

    from pyspark.sql import functions as F

    from search_engine_spark.operators.serving import refresh_serving_cache

    root = tmp_path_factory.mktemp("refresh_fold")
    idx, cdir = str(root / "idx"), str(root / "cache")
    S.build_index(spark, corpus_from_texts(spark, DOCS), idx,
                  analyzer="naive", n_batches=1)
    prepare_serving_cache(spark, idx, cdir, n_buckets=2)
    for i in range(3):  # three commits -> three incremental refreshes
        extra = corpus_from_texts(
            spark, [f"scan wave{i} table", f"apple wave{i}"]
        ).withColumn("docId", F.col("docId") + F.lit(100 * (i + 1)))
        S.build_one_batch(spark, extra, idx, key=f"w{i}", analyzer="naive",
                          num_segments=4)
        S.finalize_index(spark, idx)
        cache = refresh_serving_cache(spark, idx, cdir, fold_threshold=2)
    assert all(len(fs) <= 2 for fs in cache["shards"].values())
    on_disk = {f for f in os.listdir(cdir) if f.endswith(".feather")}
    referenced = {f for fs in cache["shards"].values() for f in fs}
    # deferred gc: folded-away files survive THIS refresh (an in-flight
    # reader or racing refresher may still hold them)...
    assert set(cache["gc_pending"]) and on_disk == referenced | set(
        cache["gc_pending"]
    )
    # ...and the NEXT refresh (any commit — a tombstone here) unlinks them
    from search_engine_spark.operators.delete import add_tombstones

    add_tombstones(spark, idx, spark.createDataFrame([(999999,)], "docId long"))
    cache = refresh_serving_cache(spark, idx, cdir, fold_threshold=2)
    on_disk = {f for f in os.listdir(cdir) if f.endswith(".feather")}
    assert on_disk == {f for fs in cache["shards"].values() for f in fs}
    stats = load_term_stats_pdf(idx)
    queries = {0: ["scan", "table"], 1: ["apple"]}
    got = _rows(score_queries_cached(
        spark, cache, stats, queries, k=20, analyzer="naive"))
    full = prepare_serving_cache(spark, idx, str(root / "cache_full"),
                                 n_buckets=2)
    want = _rows(score_queries_cached(
        spark, full, stats, queries, k=20, analyzer="naive"))
    assert got == want and any(d >= 300 for _, d, _ in got)


def test_refresh_rejects_rebuilt_index(spark, tmp_path_factory):
    """An index rmtree'd and rebuilt at the same path reuses batch keys (and
    can reuse generations) — refresh must detect the identity change via the
    recorded commit fingerprints and fall back to a FULL prepare, never mix
    old shards with the new corpus."""
    import os
    import shutil

    from search_engine_spark.operators.serving import refresh_serving_cache

    root = tmp_path_factory.mktemp("refresh_rebuilt")
    idx, cdir = str(root / "idx"), str(root / "cache")
    S.build_index(spark, corpus_from_texts(spark, DOCS), idx,
                  analyzer="naive", n_batches=1)
    cache = prepare_serving_cache(spark, idx, cdir, n_buckets=2)
    old_gen = cache["generation"]
    # rebuild a DIFFERENT corpus at the same path, same keys
    shutil.rmtree(idx)
    m2 = S.build_index(
        spark, corpus_from_texts(spark, ["walrus tusk", "walrus walrus"]),
        idx, analyzer="naive", n_batches=1)
    cache2 = refresh_serving_cache(spark, idx, cdir)
    assert cache2["generation"] == m2["generation"]
    assert not any(".d" in f for f in os.listdir(cdir))  # full prepare
    stats = load_term_stats_pdf(idx)
    got = _rows(score_queries_cached(
        spark, cache2, stats, {0: ["walrus"], 1: ["scan"]}, analyzer="naive"))
    assert got and all(q == 0 for q, _, _ in got)  # old corpus gone
    del old_gen


def test_membership_index_daat_and_cache(spark, tmp_path_factory):
    """ADVICE r4: a membership index (empty tf/dl blobs) must serve the
    ranked paths — score_query_daat, the batch kernel, and the serving
    cache — under the documented tf=1/dl=1 reading, identical to the
    declarative exhaustive path over the decoded postings."""
    root = tmp_path_factory.mktemp("memb_rank")
    idx, cdir = str(root / "idx"), str(root / "cache")
    corpus = corpus_from_texts(spark, DOCS)
    m = S.build_index(spark, corpus, idx, analyzer="naive", n_batches=2,
                      membership=True, with_positions=False)
    segs = S.load_segments(spark, idx)
    assert segs.selectExpr("sum(octet_length(tfs))").first()[0] == 0
    stats = load_term_stats_pdf(idx)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    span = (m["stats"]["docid_lo"], m["stats"]["docid_hi"])
    decoded = S.decode_postings_packed(segs)
    queries = {0: ["scan", "table"], 1: ["apple"], 2: ["spark", "join"]}
    ts_df = S.load_term_stats(spark, idx)
    for sc in (R.Scorer("bm25"), R.Scorer("tfidf_cosine")):
        # oracle: declarative scoring over decoded (tf=1, dl=1) postings
        for qid, kws in queries.items():
            want = sorted((r.docId, round(r.score, 12)) for r in R.score_query(
                spark, decoded, ts_df, kws, nd, avg, sc, k=5,
                analyzer="naive").collect())
            got = sorted((r.docId, round(r.score, 12)) for r in R.score_query_daat(
                spark, segs, ts_df, kws, nd, avg, sc, k=5,
                analyzer="naive", docid_span=span).collect())
            assert got == want and got, (sc.kind, qid)
        batch = _rows(R.score_queries_daat_batch(
            spark, segs, ts_df, queries, nd, avg, sc, k=5,
            analyzer="naive", docid_span=span))
        assert batch
    cache = prepare_serving_cache(spark, idx, cdir, n_buckets=4)
    cached = _rows(score_queries_cached(
        spark, cache, stats, queries, k=5, analyzer="naive"))
    in_plan = _rows(R.score_queries_daat_batch(
        spark, segs, load_term_stats_pdf(idx), queries, nd, avg,
        R.Scorer("bm25"), k=5, analyzer="naive", docid_span=span))
    assert cached == in_plan and cached


def test_non_shared_store_fails_loudly(spark, tmp_path_factory, monkeypatch):
    """VERDICT r4 item 3: the serving cache assumes one shared filesystem.
    A misconfiguration (executors writing shards the serving tasks can't
    see) must fail LOUDLY at prepare commit time and at serve time — never
    silently serve a partial index."""
    from search_engine_spark.operators import serving as SV

    root = tmp_path_factory.mktemp("nonshared")
    idx, cdir = str(root / "idx"), str(root / "cache")
    S.build_index(spark, corpus_from_texts(spark, DOCS), idx,
                  analyzer="naive", n_batches=1)

    # (a) prepare-time gate: simulate executor-local writes by making the
    # shard writer drop its files in a DIFFERENT directory than the one the
    # meta (and probe) uses — exactly what a node-local cache_dir does on a
    # multi-box cluster.
    elsewhere = str(root / "executor_local")
    import os as _os
    _os.makedirs(elsewhere)
    real_writer = SV._write_bucket_shards

    def misdirected(bucketed, cdir_arg, suffix):
        return real_writer(bucketed, elsewhere, suffix)

    monkeypatch.setattr(SV, "_write_bucket_shards", misdirected)
    with pytest.raises(SV.ServingCacheUnreachable, match="not a shared store"):
        prepare_serving_cache(spark, idx, cdir, n_buckets=4)
    # nothing was published: no meta committed
    assert not _os.path.exists(_os.path.join(cdir, SV.META_FILE))
    monkeypatch.undo()

    # (b) a correctly shared prepare passes the gate
    cache = prepare_serving_cache(spark, idx, cdir, n_buckets=4)
    stats = load_term_stats_pdf(idx)
    got = _rows(score_queries_cached(
        spark, cache, stats, {0: ["scan"]}, analyzer="naive"))
    assert got

    # (c) serve-time gate: a shard that disappears from THIS node's view
    # (second isolated work dir / partial mount) raises, never partial
    # results
    victim = [b for b in cache["buckets"] if b["rows"]][0]["bucket"]
    fname = cache["shards"][str(victim)][0]
    _os.rename(_os.path.join(cdir, fname), _os.path.join(elsewhere, fname))
    with pytest.raises(Exception, match="not visible|ServingCacheUnreachable"):
        score_queries_cached(
            spark, cache, stats, {0: ["scan"]}, analyzer="naive"
        ).collect()
