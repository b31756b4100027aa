"""Property tests for the Arrow pack/merge kernels (no Spark session).

Random posting sets -> ``_segment_encoder`` -> decoded dict must equal the
input; feeding the packed rows through ``_compact_merge_encoder`` (the
byte-level compaction kernel, which re-derives absolute docIds from the
delta restarts each row lists in ``block_docid_off``) must preserve
everything again. This fuzzes the
parts golden tests can't reach: block boundaries at exactly/off-by-one
BLOCK_SIZE, empty position blobs, large docId gaps, multi-chunk output.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.functions.codec import varbyte_decode
from search_engine_spark.operators import build as B
from search_engine_spark.sources.segments import blockwise_delta_decode

postings_strategy = st.lists(
    st.tuples(
        st.sampled_from(["alpha", "beta", "g", "dddd"]),
        st.integers(0, 2**40),          # docId (large gaps stress varbyte)
        st.integers(1, 300),            # tf
        st.integers(1, 500),            # dl
        st.binary(min_size=0, max_size=6),  # opaque per-posting posbin
    ),
    min_size=1,
    max_size=400,
    unique_by=lambda t: (t[0], t[1]),
)


def _encode(posts):
    batch = pa.RecordBatch.from_pydict(
        {
            "term": pa.array([p[0] for p in posts], pa.string()),
            "salt": pa.array([0] * len(posts), pa.int32()),
            "docId": pa.array([p[1] for p in posts], pa.int64()),
            "tf": pa.array([p[2] for p in posts], pa.int64()),
            "dl": pa.array([p[3] for p in posts], pa.int64()),
            "posbin": pa.array([p[4] for p in posts], pa.binary()),
        }
    )
    return pa.Table.from_batches(list(B._segment_encoder(iter([batch]))))


def _decode(tbl) -> dict:
    out = {}
    for r in tbl.to_pylist():
        docids = blockwise_delta_decode(r["docids"])
        tfs = varbyte_decode(r["tfs"])
        dls = varbyte_decode(r["dls"])
        lens = varbyte_decode(r["poslens"])
        offs = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        # block metadata must describe the decoded stream exactly
        bstarts = np.arange(0, len(docids), B.BLOCK_SIZE)
        last = docids[np.minimum(bstarts + B.BLOCK_SIZE - 1, len(docids) - 1)]
        assert list(last) == r["block_last_docid"]
        for i, (d, tf, dl) in enumerate(zip(docids, tfs, dls)):
            pos = r["positions"][int(offs[i]) : int(offs[i + 1])]
            out[(r["term"], int(d))] = (int(tf), int(dl), bytes(pos))
    return out


@settings(max_examples=30, deadline=None)
@given(postings_strategy)
def test_segment_encoder_roundtrip_and_compact_idempotent(posts):
    expected = {(t, d): (tf, dl, pb) for t, d, tf, dl, pb in posts}
    packed = _encode(posts)
    assert _decode(packed) == expected
    # compaction kernel over the packed rows (single partition) re-derives
    # identical content — byte-level merge is lossless
    cols = packed.select(
        ["term", "salt", "docids", "tfs", "dls", "block_docid_off", "poslens",
         "positions"]
    )
    merged = pa.Table.from_batches(
        list(B._compact_merge_encoder(iter(cols.to_batches())))
    )
    assert _decode(merged) == expected


def test_isin_expr_matches_column_isin_under_both_parser_modes():
    """isin_expr and isin_where must select exactly Column.isin's rows for values with
    quotes, backslashes, unicode, and ints — under the default parser AND
    spark.sql.parser.escapedStringLiterals=true (the legacy/Hive-compat
    mode that changes backslash handling in SQL string literals)."""
    from pyspark.sql import functions as F

    from search_engine_spark.functions.predicates import isin_expr, isin_where
    from search_engine_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    rows = ["plain", "has'quote", "back\\slash", "both\\'mix", 'd"quote',
            "unié", "tab\tsep", ""]
    df = spark.createDataFrame([(v,) for v in rows], ["term"])
    for mode in ("false", "true"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        try:
            for vals in (
                ["plain"],
                ["has'quote", "back\\slash"],
                ["both\\'mix", 'd"quote', "unié", "plain"],
                ["absent"],
                [],
            ):
                got = sorted(
                    r.term for r in df.where(isin_expr("term", vals)).collect()
                )
                exp = sorted(
                    r.term
                    for r in df.where(df.term.isin(vals) if vals else F.lit(False)).collect()
                )
                assert got == exp, (mode, vals)
                got = sorted(r.term for r in isin_where(df, "term", vals).collect())
                assert got == exp, (mode, vals)
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")


# --- boolean-tree evaluator vs python ground truth -------------------------

_VOCAB = ["aa", "bb", "cc", "dd"]


def _tree_strategy():
    leaf = st.sampled_from(_VOCAB).map(lambda t: ("term", t))
    return st.recursive(
        leaf,
        lambda children: st.one_of(
            children.map(lambda c: ("not", c)),
            st.lists(children, min_size=2, max_size=3).map(lambda cs: ("and", cs)),
            st.lists(children, min_size=2, max_size=3).map(lambda cs: ("or", cs)),
        ),
        max_leaves=6,
    )


@settings(max_examples=30, deadline=None)
@given(
    tree=_tree_strategy(),
    docs=st.lists(
        st.sets(st.sampled_from(_VOCAB)), min_size=1, max_size=8
    ),
)
def test_search_bool_matches_python_oracle(spark, tree, docs):
    """For any nested tree and any tiny corpus: search_bool == per-doc
    python evaluation, restricted to docs containing >= 1 leaf term (the
    index-candidate set); purely negative trees raise instead."""
    from search_engine_spark.operators.build import build_postings
    from search_engine_spark.operators.query import (
        _bool_eval_py,
        bool_leaf_terms,
        search_bool,
    )

    rows = [(i, " ".join(sorted(d)) if d else "zz") for i, d in enumerate(docs)]
    corpus = spark.createDataFrame(rows, "docId long, content string")
    postings = build_postings(corpus, "naive")
    if _bool_eval_py(tree, set()):
        with pytest.raises(ValueError):
            search_bool(postings, tree)
        return
    leaves = set(bool_leaf_terms(tree))
    got = sorted(r.docId for r in search_bool(postings, tree).collect())
    exp = [
        i for i, d in enumerate(docs)
        if (d & leaves) and _bool_eval_py(tree, d)
    ]
    assert got == exp


@settings(max_examples=20, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["p", "q", "r", "x"]), min_size=1, max_size=10),
        min_size=1,
        max_size=6,
    ),
    slop=st.integers(min_value=0, max_value=3),
)
def test_sloppy_phrase_matches_bruteforce(spark, docs, slop):
    """search_sloppy_phrase == brute-force ordered-window check for random
    tiny corpora over the phrase (p, q, r)."""
    from search_engine_spark.operators.query import search_sloppy_phrase

    terms = ["p", "q", "r"]

    def brute(toks):
        def ok(start_positions, remaining):
            if not remaining:
                return True
            t = remaining[0]
            for i, tok in enumerate(toks):
                if tok == t and any(
                    1 <= i - p <= slop + 1 for p in start_positions
                ):
                    if ok([i], remaining[1:]):
                        return True
            return False

        firsts = [i for i, tok in enumerate(toks) if tok == terms[0]]
        return any(ok([i], terms[1:]) for i in firsts)

    # positional postings built directly from the token lists (the segment
    # codec path is covered by tests/test_query_ext.py::test_sloppy_phrase)
    rows = []
    for i, d in enumerate(docs):
        for t in set(d):
            rows.append((t, i, [j for j, tok in enumerate(d) if tok == t]))
    dec = spark.createDataFrame(rows, "term string, docId long, positions array<int>")
    got = sorted(
        r.docId for r in search_sloppy_phrase(dec, terms, slop).collect()
    )
    exp = sorted(i for i, d in enumerate(docs) if brute(d))
    assert got == exp
