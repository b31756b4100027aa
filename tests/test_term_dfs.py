"""The driver-side term dictionary lookup (``segments.term_dfs``) and the
sorted ``term_stats`` layout it prunes.

Every form of term stats gives the same dfs: the plain parquet scan (read
on the driver, no Spark job), the pandas frame, a filtered Spark frame and
a federation's summed stats (both through one Spark job). ``finalize_index``
writes each file term-sorted, so row-group term ranges are disjoint; an
index written unsorted still answers the same.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import rank as R
from search_engine_spark.operators.build import term_stats_from_segments
from search_engine_spark.operators.federation import (
    build_sharded_index,
    global_term_stats,
)
from search_engine_spark.sources import segments as S
from search_engine_spark.sources.corpus import synthetic_corpus
from tests.conftest import run_jobs

QUERIES = [["apple", "rotten"], ["def", "import", "tok3"], ["string"]]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    # a space and a literal "%20" in the path: inputFiles() hands back
    # percent-encoded URIs, which must decode to exactly this directory
    p = str(tmp_path_factory.mktemp("termdfs") / "a b%20c" / "idx")
    corpus = synthetic_corpus(spark, n_docs=200, vocab_size=300, seed=17)
    m = S.build_index(spark, corpus, p, analyzer="porter", n_batches=2)
    return p, corpus, m


def _term_lists(pdf):
    terms = sorted(pdf["term"])
    present = [terms[0], terms[len(terms) // 2], terms[-1]]
    # absent terms below, inside and above the dictionary's range
    absent = ["", terms[0] + "_absent", "\uffff_absent"]
    assert not set(absent) & set(terms)
    return [present + absent, present, absent, []]


def _files(index_dir):
    return sorted(glob.glob(os.path.join(index_dir, "term_stats", "*.parquet")))


def _ranges(path):
    """(min, max) term of each row group of one parquet file."""
    with pq.ParquetFile(path) as f:
        col = f.schema_arrow.get_field_index("term")
        md = f.metadata
        return [(md.row_group(i).column(col).statistics.min,
                 md.row_group(i).column(col).statistics.max)
                for i in range(md.num_row_groups)]


def _assert_sorted_layout(index_dir):
    files = _files(index_dir)
    assert files
    for path in files:
        terms = pq.read_table(path, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), path
        ranges = _ranges(path)
        assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges


def test_every_stats_form_gives_the_same_dfs(spark, idx, tmp_path_factory):
    p, corpus, _ = idx
    pdf = S.load_term_stats_pdf(p)
    truth = dict(zip(pdf["term"], pdf["df"].astype(int)))
    plain = S.load_term_stats(spark, p)
    filtered = plain.where(F.col("df") > 0)
    fed_root = str(tmp_path_factory.mktemp("termdfs_fed"))
    build_sharded_index(spark, corpus, fed_root, n_shards=2)
    fed = global_term_stats(spark, fed_root)

    # only the bare scan qualifies for the driver read, and its files are
    # the index's own, decoded from their URIs
    assert sorted(S._plain_parquet_paths(plain)) == _files(p)
    assert S._plain_parquet_paths(filtered) is None
    assert S._plain_parquet_paths(fed) is None

    for i, terms in enumerate(_term_lists(pdf)):
        want = {t: truth[t] for t in terms if t in truth}
        got, jobs = run_jobs(spark, lambda: S.term_dfs(plain, terms), f"tdfs_plain{i}")
        assert got == want and jobs == 0
        assert all(type(v) is int for v in got.values())
        assert S.term_dfs(pdf, terms) == want
        for name, frame in (("filtered", filtered), ("fed", fed)):
            got, jobs = run_jobs(spark, lambda: S.term_dfs(frame, terms),
                                 f"tdfs_{name}{i}")
            assert got == want
            assert jobs >= (1 if terms else 0)


def test_term_stats_is_sorted_in_disjoint_row_groups(spark, idx, tmp_path_factory,
                                                     monkeypatch):
    """Each term_stats file is term-sorted with disjoint row-group ranges;
    at a small row-group bound a lookup of k terms keeps at most k row
    groups per file and still answers like the pandas frame."""
    p = idx[0]
    _assert_sorted_layout(p)

    small = str(tmp_path_factory.mktemp("termdfs_small") / "idx")
    shutil.copytree(p, small)
    monkeypatch.setattr(S, "_TERM_STATS_ROW_GROUP_BYTES", 1024)
    S._clear_coverage(os.path.join(small, "term_stats"))  # full-path rewrite
    S.finalize_index(spark, small)
    _assert_sorted_layout(small)
    assert max(len(_ranges(f)) for f in _files(small)) > 1

    pdf = S.load_term_stats_pdf(small)
    truth = dict(zip(pdf["term"], pdf["df"].astype(int)))
    plain = S.load_term_stats(spark, small)
    for terms in _term_lists(pdf):
        want = sorted(set(terms))
        for path in _files(small):
            with pq.ParquetFile(path) as f:
                assert len(S._term_row_groups(f, want)) <= len(want)
        assert S.term_dfs(plain, terms) == {t: truth[t] for t in terms if t in truth}


def test_unsorted_term_stats_gives_same_dfs_and_top10(spark, idx, tmp_path_factory):
    """An index whose term_stats was written before the sorted layout
    (unsorted coalesce(4)) looks up the same dfs and ranks the same top-10."""
    p, _, m = idx
    old = str(tmp_path_factory.mktemp("termdfs_old") / "idx")
    shutil.copytree(p, old)
    stats_dir = os.path.join(old, "term_stats")
    term_stats_from_segments(S.load_segments(spark, old)).coalesce(4).write.mode(
        "overwrite").parquet(stats_dir)
    unsorted = [pq.read_table(f, columns=["term"])["term"].to_pylist()
                for f in _files(old)]
    assert any(t != sorted(t) for t in unsorted)

    new_stats, old_stats = S.load_term_stats(spark, p), S.load_term_stats(spark, old)
    pdf = S.load_term_stats_pdf(p)
    for terms in _term_lists(pdf):
        assert S.term_dfs(old_stats, terms) == S.term_dfs(new_stats, terms)

    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    for kw in QUERIES:
        want = R.score_query_daat(spark, S.load_segments(spark, p), new_stats, kw,
                                  nd, avg, k=10).collect()
        got = R.score_query_daat(spark, S.load_segments(spark, old), old_stats, kw,
                                 nd, avg, k=10).collect()
        assert want and got == want


def test_dictionary_cache_follows_the_files(spark, tmp_path_factory):
    """``term_dfs`` keeps each frame's dictionary footers, keyed by file
    path, size and mtime. After ``finalize_index`` replaces the dictionary
    file (a new uuid name), a frame loaded afresh in the same process
    answers with the new dfs, and the old frame raises as an uncached read
    would: a cached footer never serves a deleted file. A file rewritten in
    place is read afresh."""
    p = str(tmp_path_factory.mktemp("termdfs_fresh") / "idx")
    corpus = synthetic_corpus(spark, n_docs=240, vocab_size=300, seed=23)
    delta = F.col("docId") % 4 == 0
    S.build_index(spark, corpus.where(~delta), p, analyzer="porter", n_batches=1)
    terms = _term_lists(S.load_term_stats_pdf(p))[0] + ["appl", "tok3"]
    old = S.load_term_stats(spark, p)
    before = S.term_dfs(old, terms)
    assert S.term_dfs(old, terms) == before  # served from the cached footer
    (old_file,) = _files(p)

    S.build_one_batch(spark, corpus.where(delta), p, key="delta1", analyzer="porter")
    S.finalize_index(spark, p)
    (new_file,) = _files(p)
    assert new_file != old_file and not os.path.exists(old_file)
    pdf = S.load_term_stats_pdf(p)
    truth = dict(zip(pdf["term"], pdf["df"].astype(int)))
    want = {t: truth[t] for t in terms if t in truth}
    assert want != before
    assert S.term_dfs(S.load_term_stats(spark, p), terms) == want
    with pytest.raises(FileNotFoundError):
        S.term_dfs(old, terms)

    # the old frame's file name, rewritten with the new dictionary
    shutil.copyfile(new_file, old_file)
    assert S.term_dfs(old, terms) == want
