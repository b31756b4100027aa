"""The one decoder of the packed posting format (``build._decode_packed``).

Every reader decodes through it, so these tests round-trip what the writers
produce: the block encoder's rows at ``BLOCK_SIZE`` and at one block per
group, membership rows (empty tf/dl bytes), rows with positions, build
mini-blocks, and the bucket splitter's output — including an exact-split
slice of more than ``BLOCK_SIZE`` postings, whose one delta chain a decoder
restarting on a fixed 128-value grid would corrupt. No Spark session.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from search_engine_spark.functions.codec import delta_varbyte_encode, varbyte_encode
from search_engine_spark.operators import build as B
from search_engine_spark.operators import rank as R

SIZES = [1, 128, 129, 300, 2, 640, 7]


def _groups(rng, sizes, base=0):
    """Per group: sorted docIds with random gaps, tfs, dls, and each
    posting's sorted positions."""
    out = []
    for n in sizes:
        d = base + np.cumsum(rng.integers(1, 3000, n)).astype(np.int64)
        tf = rng.integers(1, 300, n).astype(np.int64)
        dl = rng.integers(1, 20000, n).astype(np.int64)
        pos = [np.sort(rng.choice(5000, rng.integers(1, 6), replace=False)) for _ in range(n)]
        out.append((d, tf, dl, pos))
    return out


def _flat(groups, i):
    return np.concatenate([g[i] for g in groups])


def _blocks_table(groups, block_size, membership):
    """An Arrow table of ``_pack_blocks`` rows (docids/tfs/dls and their
    ``block_docid_off`` lists), as the segment writer lays them out."""
    docid = _flat(groups, 0)
    gs = np.cumsum([0] + [len(g[0]) for g in groups[:-1]]).astype(np.int64)
    tf = None if membership else _flat(groups, 1)
    dl = None if membership else _flat(groups, 2)
    p = B._pack_blocks(docid, tf, dl, gs, block_size)
    ng, b = len(gs), p["blocks"]
    return pa.table({
        "docids": B._binary_array(*p["docids"], 0, ng),
        "tfs": B._binary_array(*p["tfs"], 0, ng),
        "dls": B._binary_array(*p["dls"], 0, ng),
        "block_docid_off": pa.ListArray.from_arrays(
            pa.array(b.astype(np.int32)), pa.array(p["block_docid_off"].astype(np.int32))),
    })


@pytest.mark.parametrize("block_size", [B.BLOCK_SIZE, None])
@pytest.mark.parametrize("membership", [False, True])
def test_pack_blocks_round_trip(block_size, membership):
    groups = _groups(np.random.default_rng(11), SIZES)
    d = B._decode_packed(_blocks_table(groups, block_size, membership))
    assert list(d["rows"]) == list(np.cumsum([0] + SIZES))
    assert np.array_equal(d["docid"], _flat(groups, 0))
    ones = np.ones(sum(SIZES), dtype=np.int64)
    assert np.array_equal(d["tf"], ones if membership else _flat(groups, 1))
    assert np.array_equal(d["dl"], ones if membership else _flat(groups, 2))
    assert d["membership"] is membership


def _segment_table(groups, membership=False):
    """Packed segment rows with positions, through the segment writer."""
    n = [len(g[0]) for g in groups]
    blobs = [delta_varbyte_encode(p) for g in groups for p in g[3]]
    lens = np.array([len(x) for x in blobs], dtype=np.int64)
    batches = B._pack_sorted(
        pa.array([f"t{i:02d}" for i in range(len(groups))]),
        np.repeat(np.arange(len(groups)), n), np.zeros(sum(n), dtype=np.int64),
        _flat(groups, 0), None if membership else _flat(groups, 1),
        None if membership else _flat(groups, 2),
        np.frombuffer(b"".join(blobs), dtype=np.uint8),
        np.cumsum(np.append(0, lens[:-1])), lens,
        np.cumsum([0] + n[:-1]).astype(np.int64),
    )
    return pa.Table.from_batches(list(batches)), blobs


@pytest.mark.parametrize("membership", [False, True])
def test_segment_rows_with_positions(membership):
    groups = _groups(np.random.default_rng(5), SIZES)
    tbl, blobs = _segment_table(groups, membership)
    d = B._decode_packed(tbl, positions="values")
    assert np.array_equal(d["docid"], _flat(groups, 0))
    assert not d["pos_null"].any()
    data = d["pos_data"]
    got = [bytes(data[s : s + n]) for s, n in zip(d["pos_start"], d["pos_len"])]
    assert got == blobs
    po = d["pos_offs"]
    want = [p for g in groups for p in g[3]]
    assert len(po) == len(want) + 1
    for i, p in enumerate(want):
        assert np.array_equal(d["positions"][po[i] : po[i + 1]], p)


def test_rows_without_positions_read_null():
    groups = _groups(np.random.default_rng(2), [3, 200])
    tbl = _blocks_table(groups, B.BLOCK_SIZE, False)
    tbl = tbl.append_column("poslens", pa.nulls(2, pa.binary()))
    tbl = tbl.append_column("positions", pa.nulls(2, pa.binary()))
    d = B._decode_packed(tbl, positions="values")
    assert d["pos_data"] is None
    assert np.array_equal(d["docid"], _flat(groups, 0))


def test_miniblock_rows_restart_only_at_row_starts():
    """Build mini-blocks carry no block offsets: each row is one delta
    chain, however many postings it holds."""
    groups = _groups(np.random.default_rng(9), [300, 1, 129])
    docids = [delta_varbyte_encode(g[0]) for g in groups]
    tbl = pa.table({
        "docids": pa.array(docids, pa.binary()),
        "tfs": pa.array([varbyte_encode(g[1]) for g in groups], pa.binary()),
        "dls": pa.array([b""] * 3, pa.binary()),
    })
    d = B._decode_packed(tbl)
    assert np.array_equal(d["docid"], _flat(groups, 0))
    assert np.array_equal(d["tf"], _flat(groups, 1))
    assert (d["dl"] == 1).all() and not d["membership"]


def _bucketed_postings(out):
    """Per term: the (docId, tf, dl) postings the bucketed rows hold inside
    their bucket's [lo_docid, hi_docid] range."""
    d = B._decode_packed(out)
    r, got = d["rows"], {}
    for i, row in enumerate(out.select(["term", "lo_docid", "hi_docid"]).to_pylist()):
        s = slice(r[i], r[i + 1])
        keep = (d["docid"][s] >= row["lo_docid"]) & (d["docid"][s] <= row["hi_docid"])
        got.setdefault(row["term"], []).append(
            np.stack([d["docid"][s], d["tf"][s], d["dl"][s]])[:, keep])
    return {t: np.concatenate(v, axis=1) for t, v in got.items()}


def test_split_partition_round_trip_with_a_long_exact_slice():
    """Whole-block slices and exact slices decode back to every input
    posting. The sparse row below takes the exact path (300 postings over
    16 buckets, under BLOCK_SIZE/2 per bucket on average) but puts 200 of
    them in bucket 0: that slice is ONE block of 200 postings."""
    rng = np.random.default_rng(1)
    edges = np.arange(1, 17, dtype=np.int64) * 6250 - 1
    sparse = np.concatenate([np.arange(1, 201), np.linspace(6300, 99000, 100).astype(np.int64)])
    dense = np.sort(rng.choice(np.arange(1, 12000), 3000, replace=False)).astype(np.int64)
    groups = []
    for d in (sparse, dense):
        n = len(d)
        groups.append((d, rng.integers(1, 40, n).astype(np.int64),
                       rng.integers(1, 900, n).astype(np.int64), [np.array([0])] * n))
    tbl, _ = _segment_table(groups)
    out = R._split_partition(B._combine_large(tbl.to_batches()), edges)
    first = out.slice(0, 1).to_pylist()[0]
    assert first["term"] == "t00" and first["bucket"] == 0
    assert len(first["block_docid_off"]) == 4  # one block ...
    assert B._decode_packed(out.slice(0, 1))["rows"][-1] == 200 > B.BLOCK_SIZE  # ... of 200
    got = _bucketed_postings(out)
    for i, (d, tf, dl, _) in enumerate(groups):
        assert np.array_equal(got[f"t{i:02d}"], np.stack([d, tf, dl]))


def test_blockwise_delta_decode_is_the_segment_row_case():
    from search_engine_spark.sources.segments import blockwise_delta_decode

    groups = _groups(np.random.default_rng(4), [300])
    tbl = _blocks_table(groups, B.BLOCK_SIZE, True)
    assert np.array_equal(blockwise_delta_decode(tbl.column("docids")[0].as_py()),
                          groups[0][0])
