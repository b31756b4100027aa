"""``finalize_index`` after an additive commit merges the new batch into the
term dictionary on the driver, with no Spark job; compaction, purge, an
index without a coverage record and a crash between the dictionary write
and its coverage record take the full Spark recompute.

Whichever path ran, the dictionary, the docId span and the per-field token
sums equal a full recompute from every segment, and ``fsck`` finds no
term_stats mismatch. The driver-written dictionary keeps the sorted layout
``term_dfs`` prunes, and is no larger than Spark's file for the same rows.
"""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators.build import term_stats_from_segments
from search_engine_spark.operators.delete import add_tombstones, purge_deletes
from search_engine_spark.operators.fsck import fsck_index
from search_engine_spark.sources import segments as S
from search_engine_spark.sources.corpus import synthetic_corpus
from tests.conftest import run_jobs

N_PARTS = 6  # base = parts 0-1, deltas = parts 2-5

# one micro-batch commit (build_one_batch + finalize_index) of a delta onto
# an existing index, local[4] with 4 shuffle partitions, measured and stable
# across runs. The segment write runs as four adaptive-execution jobs: the
# fixture corpus's own shuffle (synthetic_corpus repartitions its row
# ranges), ensure_parallelism's round-robin repartition, the (term, salt)
# hash exchange, and the result stage that writes (and counts the docs).
# The fifth is ensure_parallelism's rdd.getNumPartitions(), which under
# adaptive execution runs the corpus's shuffle to plan it. Batch stats are
# read from the written files, and finalize adds none.
COMMIT_JOBS = 5


def _parts(spark):
    corpus = synthetic_corpus(spark, n_docs=400, vocab_size=500, seed=23)
    part = F.pmod(F.xxhash64("docId"), F.lit(N_PARTS))
    return corpus, [corpus.where(part == i) for i in range(N_PARTS)]


def _base(spark, corpus, idx, **kw):
    base = corpus.where(F.pmod(F.xxhash64("docId"), F.lit(N_PARTS)) < 2)
    return S.build_index(spark, base, idx, analyzer="porter", n_batches=1,
                         num_segments=4, **kw)


def _commit(spark, idx, sub, key, **kw):
    """One micro-batch commit -> (manifest, finalize's Spark job count)."""
    S.build_one_batch(spark, sub, idx, key, analyzer="porter", num_segments=4, **kw)
    return run_jobs(spark, lambda: S.finalize_index(spark, idx), f"finalize_{key}")


def _stats_dir(idx):
    return os.path.join(idx, "term_stats")


def _dict_files(idx):
    return sorted(glob.glob(os.path.join(_stats_dir(idx), "*.parquet")))


def _dictionary(idx):
    return S.load_term_stats_pdf(idx).sort_values("term").reset_index(drop=True)


def _live(idx):
    m = S.read_manifest(idx)
    return {k: b["committed_at"] for k, b in m["batches"].items() if b.get("committed")}


def _assert_equals_full_recompute(spark, idx, tmp_path):
    """Dictionary, span and stats of ``idx`` equal a full recompute: the
    segment agg, ``term_stats_from_segments`` row for row, ``fsck``, and a
    full-path finalize of a copy without its coverage record."""
    m = S.read_manifest(idx)
    segs = S.load_segments(spark, idx)
    span = segs.agg(F.min("min_docid"), F.max(F.element_at("block_last_docid", -1))).first()
    assert (m["stats"]["docid_lo"], m["stats"]["docid_hi"]) == (span[0], span[1])
    want = term_stats_from_segments(segs).toPandas().sort_values("term").reset_index(drop=True)
    pd.testing.assert_frame_equal(_dictionary(idx), want)
    rep = fsck_index(spark, idx)
    assert rep["ok"], rep["errors"]
    assert rep["term_stats_mismatches"] == 0
    assert S._read_coverage(_stats_dir(idx))["batches"] == _live(idx)

    full = str(tmp_path / f"full{m['generation']}")
    shutil.copytree(idx, full)
    S._clear_coverage(_stats_dir(full))
    mf, jobs = run_jobs(spark, lambda: S.finalize_index(spark, full), f"full{m['generation']}")
    assert jobs > 0  # the full path ran
    pd.testing.assert_frame_equal(_dictionary(idx), _dictionary(full))
    assert m["stats"] == mf["stats"]
    return full


def test_additive_commits_take_the_incremental_path(spark, tmp_path):
    """Three additive commits finalize with 0 Spark jobs; a repeat
    finalize rewrites nothing. Then a tombstone (incremental, no new
    batch), compaction and purge (both full), and a commit after them
    (incremental again) — each equal to a full recompute."""
    idx = str(tmp_path / "idx")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx)
    assert S._read_coverage(_stats_dir(idx))["batches"] == _live(idx)
    for i in (2, 3, 4):
        _, jobs = _commit(spark, idx, parts[i], f"d{i}")
        assert jobs == 0
        assert len(_dict_files(idx)) == 1  # the driver-written file
        full = _assert_equals_full_recompute(spark, idx, tmp_path)
    # the driver's file is no larger than Spark's for the same rows
    size = lambda d: sum(os.path.getsize(f) for f in _dict_files(d))  # noqa: E731
    assert size(idx) <= size(full)

    before = [(f, os.stat(f).st_mtime_ns) for f in _dict_files(idx)]
    _, jobs = run_jobs(spark, lambda: S.finalize_index(spark, idx), "finalize_again")
    assert jobs == 0
    assert [(f, os.stat(f).st_mtime_ns) for f in _dict_files(idx)] == before

    docs = corpus.select("docId").orderBy("docId").limit(7)
    add_tombstones(spark, idx, docs)
    _, jobs = run_jobs(spark, lambda: S.finalize_index(spark, idx), "finalize_tomb")
    assert jobs == 0
    _assert_equals_full_recompute(spark, idx, tmp_path)

    S.compact(spark, idx, sorted(_live(idx))[:3])
    assert len(_live(idx)) == 2
    _assert_equals_full_recompute(spark, idx, tmp_path)

    m = purge_deletes(spark, idx)
    assert list(m["batches"]) == list(_live(idx)) and len(_live(idx)) == 1
    _assert_equals_full_recompute(spark, idx, tmp_path)

    _, jobs = _commit(spark, idx, parts[5], "d5")
    assert jobs == 0
    _assert_equals_full_recompute(spark, idx, tmp_path)


def test_fielded_index_field_tokens_are_incremental(spark, tmp_path):
    """Per-field token sums (and so per-field avgdl) add the new batch's
    own on the incremental path and equal a full recompute."""
    idx = str(tmp_path / "fidx")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx, fields={"lang": "naive"})
    for i in (2, 3):
        m, jobs = _commit(spark, idx, parts[i], f"d{i}", fields={"lang": "naive"})
        assert jobs == 0
        assert set(m["stats"]["field_tokens"]) == {"lang"}
        assert set(m["stats"]["avgdl_by_field"]) == {"", "lang"}
        _assert_equals_full_recompute(spark, idx, tmp_path)


def test_index_without_coverage_record_takes_full_path_once(spark, tmp_path):
    """An index finalized before coverage records existed (no record, no
    batch spans, no raw field tokens) takes the full path once — span from
    the segment agg — then the incremental path."""
    idx = str(tmp_path / "old")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx)
    m = S.read_manifest(idx)
    for b in m["batches"].values():
        b.pop("docid_lo"), b.pop("docid_hi")
    S.write_manifest(idx, m)
    S._clear_coverage(_stats_dir(idx))

    _, jobs = run_jobs(spark, lambda: S.finalize_index(spark, idx), "finalize_old")
    assert jobs > 0
    _assert_equals_full_recompute(spark, idx, tmp_path)
    _, jobs = _commit(spark, idx, parts[2], "d2")
    assert jobs == 0
    _assert_equals_full_recompute(spark, idx, tmp_path)


def test_crash_before_coverage_commit_takes_full_path(spark, tmp_path, monkeypatch):
    """A finalize that dies between the dictionary write and the coverage
    record leaves no record, so the next finalize recomputes in full
    instead of adding the batch a second time."""
    idx = str(tmp_path / "crash")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx)

    def crash(*a, **kw):
        raise RuntimeError("killed before the coverage commit")

    monkeypatch.setattr(S, "_write_coverage", crash)
    with pytest.raises(RuntimeError, match="coverage commit"):
        _commit(spark, idx, parts[2], "d2")
    assert S._read_coverage(_stats_dir(idx)) is None
    monkeypatch.undo()

    _, jobs = run_jobs(spark, lambda: S.finalize_index(spark, idx), "finalize_recover")
    assert jobs > 0
    _assert_equals_full_recompute(spark, idx, tmp_path)
    _, jobs = _commit(spark, idx, parts[3], "d3")
    assert jobs == 0
    _assert_equals_full_recompute(spark, idx, tmp_path)


def test_driver_written_dictionary_layout(spark, tmp_path, monkeypatch):
    """The merged dictionary is term-sorted with disjoint row-group term
    ranges; at a 1 KiB row-group bound a lookup of k terms keeps at most k
    row groups and answers like the pandas frame."""
    from tests.test_term_dfs import _assert_sorted_layout, _ranges, _term_lists

    monkeypatch.setattr(S, "_TERM_STATS_ROW_GROUP_BYTES", 1024)
    idx = str(tmp_path / "layout")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx)
    _, jobs = _commit(spark, idx, parts[2], "d2")
    assert jobs == 0
    (path,) = _dict_files(idx)
    _assert_sorted_layout(idx)
    assert len(_ranges(path)) > 1

    pdf = S.load_term_stats_pdf(idx)
    truth = dict(zip(pdf["term"], pdf["df"].astype(int)))
    plain = S.load_term_stats(spark, idx)
    for terms in _term_lists(pdf):
        want = sorted(set(terms))
        with pq.ParquetFile(path) as f:
            assert len(S._term_row_groups(f, want)) <= len(want)
        assert S.term_dfs(plain, terms) == {t: truth[t] for t in terms if t in truth}


def test_micro_batch_commit_job_count_is_pinned(spark, tmp_path):
    """One additive micro-batch commit runs exactly COMMIT_JOBS Spark
    jobs, none of them in finalize_index."""
    idx = str(tmp_path / "pin")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx)

    def commit():
        S.build_one_batch(spark, parts[2], idx, "d2", analyzer="porter", num_segments=4)
        return S.finalize_index(spark, idx)

    m, jobs = run_jobs(spark, commit, "micro_batch_commit")
    assert "d2" in m["batches"] and jobs == COMMIT_JOBS


def test_concurrent_commits_and_finalizers_never_double_count(spark, tmp_path):
    """More threads than cores each commit batches and finalize at once.
    The dictionary lock keeps every merge on a matching (dictionary,
    coverage record) pair, so no batch is added twice: the result equals a
    full recompute. Batches are copies of one real delta dir."""
    import sys
    import threading
    import time

    idx = str(tmp_path / "conc")
    corpus, parts = _parts(spark)
    _base(spark, corpus, idx)
    S.build_one_batch(spark, parts[2], idx, "d2", analyzer="porter", num_segments=4)
    proto = S.read_manifest(idx)["batches"]["d2"]
    errors = []

    def worker(w):
        try:
            for j in range(3):
                key = f"w{w}_{j}"
                shutil.copytree(S.batch_path(idx, "d2"), S.batch_path(idx, key))
                entry = {**proto, "committed_at": time.time()}
                S.update_manifest(idx, lambda fresh: fresh["batches"].update({key: entry}))
                S.finalize_index(spark, idx)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(_live(idx)) == 2 + 8 * 3
    _assert_equals_full_recompute(spark, idx, tmp_path)
