"""B7 deletion (operators/delete.py): tombstones, query-side anti-filter,
DAAT kernel mask, and the purge rewrite.

The reference leaves deleteDocuments unimplemented (IIM:1375-1377 —
mirrored by operators/query.delete_documents); these tests cover the
engine's real tombstone implementation. Oracle pattern: expected sets are
recomputed in plain Python over the fixture texts, and the purge result is
compared for exact segment/stat equality against a FRESH index built on
the already-filtered corpus — physical deletion must be indistinguishable
from never having indexed the docs.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import delete as D
from search_engine_spark.operators.query import search_keyword
from search_engine_spark.operators.rank import Scorer, score_query_daat
from search_engine_spark.sources import segments as S
from tests.conftest import corpus_from_texts

BASE = [
    "apple banana cherry",
    "apple apple dog",
    "banana dog egg",
    "cherry egg fig",
]


def _texts(n: int = 40) -> list[str]:
    return [f"{BASE[i % 4]} tok{i % 7} filler{i}" for i in range(n)]


def _build(spark, tmp_index, n=40, **kw):
    corpus = corpus_from_texts(spark, _texts(n))
    kw.setdefault("analyzer", "naive")
    kw.setdefault("n_batches", 2)
    kw.setdefault("num_segments", 4)
    m = S.build_index(spark, corpus, tmp_index, **kw)
    return corpus, m


def test_tombstones_filter_keyword_search(spark, tmp_index):
    corpus, _ = _build(spark, tmp_index)
    D.add_tombstones(spark, tmp_index, corpus.where(F.col("docId") % 5 == 0).select("docId"))
    tomb = D.load_tombstones(spark, tmp_index)
    dec = S.decode_postings(S.load_segments(spark, tmp_index), ["apple"])
    got = sorted(r.docId for r in D.live(search_keyword(dec, "apple"), tomb).collect())
    exp = [
        i for i, t in enumerate(_texts()) if "apple" in t.split() and i % 5 != 0
    ]
    assert got == exp
    # second set unions with the first
    D.add_tombstones(spark, tmp_index, corpus.where(F.col("docId") % 7 == 1).select("docId"))
    tomb = D.load_tombstones(spark, tmp_index)
    got = sorted(r.docId for r in D.live(search_keyword(dec, "apple"), tomb).collect())
    assert got == [i for i in exp if i % 7 != 1]


def test_delete_by_keyword_uses_index_lookup(spark, tmp_index):
    corpus, _ = _build(spark, tmp_index)
    D.delete_by_keyword(spark, tmp_index, "apple", analyzer="naive")
    tomb = D.load_tombstones(spark, tmp_index)
    dead = sorted(r.docId for r in tomb.collect())
    assert dead == [i for i, t in enumerate(_texts()) if "apple" in t.split()]
    # every apple doc is gone from an anti-filtered search; other terms keep
    # their non-apple docs
    dec = S.decode_postings(S.load_segments(spark, tmp_index), ["apple", "banana"])
    assert D.live(search_keyword(dec, "apple"), tomb).count() == 0
    got = sorted(r.docId for r in D.live(search_keyword(dec, "banana"), tomb).collect())
    assert got == [
        i
        for i, t in enumerate(_texts())
        if "banana" in t.split() and "apple" not in t.split()
    ]


def test_daat_deleted_mask(spark, tmp_index):
    """The kernel-side mask: (a) exhaustive scoring with `deleted` equals
    exhaustive scoring without it minus the deleted docs (live scores are
    untouched — lazy-deletion stats semantics), and (b) the top-k equals
    the top-k of that filtered ranking."""
    corpus, m = _build(spark, tmp_index, heavy_threshold=5, n_salts=2)
    segs, stats = S.load_segments(spark, tmp_index), S.load_term_stats(spark, tmp_index)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    D.add_tombstones(spark, tmp_index, corpus.where(F.col("docId") % 3 == 0).select("docId"))
    deleted = D.deleted_array(spark, tmp_index)
    q = ["apple", "banana", "tok1"]

    full = score_query_daat(
        spark, segs, stats, q, nd, avg, Scorer(), k=None, analyzer="naive"
    ).toPandas()
    masked = score_query_daat(
        spark, segs, stats, q, nd, avg, Scorer(), k=None, analyzer="naive",
        deleted=deleted,
    ).toPandas()
    exp = full[~full.docId.isin(set(deleted.tolist()))]
    lhs = masked.sort_values("docId").reset_index(drop=True)
    rhs = exp.sort_values("docId").reset_index(drop=True)
    pd.testing.assert_frame_equal(lhs, rhs)

    k = 5
    topk = score_query_daat(
        spark, segs, stats, q, nd, avg, Scorer(), k=k, analyzer="naive",
        deleted=deleted,
    ).toPandas()
    exp_k = exp.sort_values(
        ["score", "docId"], ascending=[False, False]
    ).head(k).reset_index(drop=True)
    pd.testing.assert_frame_equal(topk.reset_index(drop=True), exp_k)


def test_purge_equals_fresh_build_on_filtered_corpus(spark, tmp_index, tmp_path):
    corpus, _ = _build(spark, tmp_index, heavy_threshold=5, n_salts=2)
    D.add_tombstones(spark, tmp_index, corpus.where(F.col("docId") % 3 == 0).select("docId"))
    m = D.purge_deletes(spark, tmp_index)

    idx2 = str(tmp_path / "rebuild")
    m2 = S.build_index(
        spark, corpus.where(F.col("docId") % 3 != 0), idx2,
        analyzer="naive", n_batches=1, num_segments=4,
        heavy_threshold=5, n_salts=2,
    )
    assert m["stats"] == m2["stats"]
    assert S.segment_dict(spark, tmp_index) == S.segment_dict(spark, idx2)
    # positions survive the purge byte-identically (posbin slice round-trip)
    assert S.segment_dict(spark, tmp_index, positional=True) == S.segment_dict(
        spark, idx2, positional=True
    )
    # term stats agree (df/cf/max_tf recomputed from the rewritten batch)
    ts1 = {r.term: (r.df, r.cf) for r in S.load_term_stats(spark, tmp_index).collect()}
    ts2 = {r.term: (r.df, r.cf) for r in S.load_term_stats(spark, idx2).collect()}
    assert ts1 == ts2
    # tombstones cleared; a second purge is a no-op
    assert D.load_tombstones(spark, tmp_index) is None
    before = S.read_manifest(tmp_index)
    assert D.purge_deletes(spark, tmp_index)["batches"] == before["batches"]


def test_purge_without_tombstones_is_noop(spark, tmp_index):
    _, m = _build(spark, tmp_index, n=8, n_batches=1)
    out = D.purge_deletes(spark, tmp_index)
    assert out["batches"].keys() == m["batches"].keys()


def test_parity_mirror_still_raises():
    from search_engine_spark.operators.query import delete_documents

    with pytest.raises(NotImplementedError):
        delete_documents("anything")


def test_relocated_index_compact_and_purge(spark, tmp_index, tmp_path):
    """A copied/moved index keeps the ORIGINAL absolute paths in its
    manifest. compact(), purge_deletes() and load_tombstones() must resolve
    batch/tombstone dirs re-rooted under the index dir they were given
    (like load_segments does) — honoring the stale paths would merge stale
    data from the old location and rmtree directories outside the index."""
    import shutil

    corpus, m = _build(spark, tmp_index)
    D.delete_by_keyword(spark, tmp_index, "dog", analyzer="naive")
    expected = sorted(
        r.docId
        for r in D.live(
            search_keyword(S.decode_postings(S.load_segments(spark, tmp_index)), "apple"),
            D.load_tombstones(spark, tmp_index),
        ).select("docId").collect()
    )

    moved = str(tmp_path / "relocated_idx")
    shutil.copytree(tmp_index, moved)
    shutil.rmtree(tmp_index)  # old location GONE: stale paths would fail loudly

    # tombstones resolve at the new location
    got = sorted(
        r.docId
        for r in D.live(
            search_keyword(S.decode_postings(S.load_segments(spark, moved)), "apple"),
            D.load_tombstones(spark, moved),
        ).select("docId").collect()
    )
    assert got == expected

    # compaction at the new location reads/merges the relocated batches
    mm = S.read_manifest(moved)
    S.compact(spark, moved, sorted(mm["batches"]))
    assert len(S.read_manifest(moved)["batches"]) == 1
    got2 = sorted(
        r.docId
        for r in D.live(
            search_keyword(S.decode_postings(S.load_segments(spark, moved)), "apple"),
            D.load_tombstones(spark, moved),
        ).select("docId").collect()
    )
    assert got2 == expected

    # purge physically rewrites at the new location and clears tombstones
    D.purge_deletes(spark, moved)
    assert not (S.read_manifest(moved).get("tombstones") or [])
    got3 = sorted(
        r.docId
        for r in search_keyword(
            S.decode_postings(S.load_segments(spark, moved)), "apple"
        ).select("docId").collect()
    )
    assert got3 == expected
