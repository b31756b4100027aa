"""Bucketize invariants for the distributed DAAT shuffle.

The splitter re-keys packed segment rows by docId-range bucket two ways
(rank._split_partition, whole partition at once): dense rows ship whole
blocks to every bucket they overlap (the kernel range-masks decoded
docIds), sparse rows take a vectorized exact re-encode. These tests pin
the invariant both paths share: masked per-bucket decodes reassemble
EXACTLY each term's full posting lists, with no posting lost, duplicated,
or mis-bucketed — the property every downstream score depends on — and
the output keeps input row order, then bucket order.
"""

from __future__ import annotations

import types

import numpy as np
import pytest

from search_engine_spark.operators import rank as R
from search_engine_spark.operators.build import BLOCK_SIZE, _combine_large, _decode_packed
from search_engine_spark.sources import segments as S


@pytest.fixture(scope="module")
def packed_rows(spark, tmp_path_factory):
    from search_engine_spark.sources.corpus import synthetic_corpus

    # small vocab over many docs -> a real mix of dense rows (common terms,
    # thousands of postings: whole-block duplication path) and sparse rows
    # (rare terms: exact-split path) at low bucket counts
    p = str(tmp_path_factory.mktemp("bkt") / "idx")
    corpus = synthetic_corpus(spark, n_docs=6000, vocab_size=150, seed=5)
    S.build_index(spark, corpus, p, analyzer="porter", n_batches=1,
                  heavy_threshold=100, n_salts=2)
    cols = ["term", "max_tf", "docids", "tfs", "dls", "block_last_docid",
            "block_max_tf", "block_docid_off", "block_tf_off", "block_dl_off",
            "min_docid", "ndocs"]
    tbl = S.load_segments(spark, p).select(*cols).toArrow()
    span = S.docid_span(p)
    return tbl, list(tbl.to_pandas().itertuples(index=False)), span


def _edges(span, n_buckets):
    lo, hi = span
    edges = np.unique(np.linspace(lo, hi, n_buckets + 1).astype(np.int64)[1:])
    edges[-1] = hi
    return edges


def _split_table(tbl, edges):
    return R._split_partition(_combine_large(tbl.to_batches()), edges)


def _split(tbl, edges) -> list:
    """Splitter output rows as namespaces."""
    return [types.SimpleNamespace(**r) for r in _split_table(tbl, edges).to_pylist()]


def _row_postings(tbl) -> list:
    """(docIds, tfs, dls) of every packed row of an Arrow table, decoded in
    one pass by the format's decoder."""
    d = _decode_packed(tbl)
    r = d["rows"]
    return [(d["docid"][a:b], d["tf"][a:b], d["dl"][a:b]) for a, b in zip(r[:-1], r[1:])]


def _row_covered(r, edges):
    """Bucket span of a row, mirroring the splitter's computation."""
    blast = np.asarray(r.block_last_docid, dtype=np.int64)
    b_hi = int(np.searchsorted(edges, blast[-1], "left"))
    b_lo = int(np.searchsorted(edges, r.min_docid, "left"))
    return b_hi - b_lo + 1


def _takes_exact_path(r, edges):
    covered = _row_covered(r, edges)
    return covered > 1 and r.ndocs < covered * (BLOCK_SIZE // 2)


@pytest.mark.parametrize("n_buckets", [4, 16, 64])
def test_split_reassembles_every_row(packed_rows, n_buckets):
    tbl, rows, span = packed_rows
    edges = _edges(span, n_buckets)
    n_exact = sum(_takes_exact_path(r, edges) for r in rows)
    n_dup = len(rows) - n_exact
    # per term (salted sub-lists hold disjoint docs): the input rows' full
    # posting lists, and the masked decodes of every bucketed row
    full, got = {}, {}
    for r, dtl in zip(rows, _row_postings(tbl)):
        full.setdefault(r.term, []).append(dtl)
    out = _split_table(tbl, edges)
    for r, (d, t, l) in zip(out.to_pylist(), _row_postings(out)):
        ns = types.SimpleNamespace(**r)
        i0 = np.searchsorted(d, ns.lo_docid, "left")
        i1 = np.searchsorted(d, ns.hi_docid, "right")
        d, t, l = d[i0:i1], t[i0:i1], l[i0:i1]
        # masked postings stay inside the bucket's owned range and the
        # per-slice block metadata stays a valid bound
        assert ((d >= ns.lo_docid) & (d <= ns.hi_docid)).all()
        if len(t):
            assert int(t.max()) <= ns.max_tf
        got.setdefault(ns.term, []).append((d, t, l))
    assert set(got) == set(full)
    for term, parts in got.items():
        want = [np.concatenate(c) for c in zip(*full[term])]
        have = [np.concatenate(c) for c in zip(*parts)]
        # a doc appears in exactly one bucket
        assert len(np.unique(have[0])) == len(have[0])
        wo, ho = np.argsort(want[0], kind="stable"), np.argsort(have[0], kind="stable")
        for w, h in zip(want, have):
            assert np.array_equal(w[wo], h[ho])
    # the corpus mixes heavy (salted, dense) and rare terms, so at low
    # bucket counts BOTH splitter paths fire (probed: 699/320 rows at 4
    # buckets, 977/42 at 16; at 64 every row is sparse relative to its
    # coverage and the exact path correctly takes over)
    if n_buckets <= 16:
        assert n_exact > 0 and n_dup > 0
    assert n_exact + n_dup == len(rows)


@pytest.mark.parametrize("n_buckets", [4, 16])
def test_split_keeps_row_then_bucket_order(packed_rows, n_buckets):
    """The whole-partition split of a mix of dense, sparse and one-bucket
    rows equals the row-by-row splits concatenated: input row order, then
    bucket ascending."""
    tbl, _, span = packed_rows
    edges = _edges(span, n_buckets)
    head = tbl.slice(0, 60)
    whole = _split(head, edges)
    per_row = [ns for i in range(head.num_rows) for ns in _split(head.slice(i, 1), edges)]
    assert whole == per_row
    assert len(whole) > head.num_rows  # some rows span several buckets


def test_exact_split_block_is_small(packed_rows):
    """The exact path only fires for sparse rows: its single-block slices
    stay well under one block ON AVERAGE (the dispatch bound is per covered
    bucket in expectation; a skewed bucket can exceed it slightly)."""
    tbl, rows, span = packed_rows
    edges = _edges(span, 64)
    exact = [i for i, r in enumerate(rows) if _takes_exact_path(r, edges)]
    sizes = []
    out = _split_table(tbl.take(exact), edges)
    for r, (d, _, _) in zip(out.to_pylist(), _row_postings(out)):
        assert len(r["block_last_docid"]) // 8 == 1  # one block per slice
        sizes.append(len(d))
    assert sizes
    assert float(np.mean(sizes)) < BLOCK_SIZE // 2
    assert max(sizes) < 2 * BLOCK_SIZE
