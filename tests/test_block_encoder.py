"""The whole-partition block encoder against a per-group reference.

``build._pack_sorted`` encodes every (term, salt) group of a partition at
once. The reference below encodes one group and one block at a time with
the plain codec functions, the way the segment layout is specified: docIds
delta-coded with the chain restarting at every BLOCK_SIZE-posting block,
tfs/dls/position-blob lengths varbyte-coded, block byte offsets relative
to the group. Every packed row must equal the reference row value for
value, and the output chunks must split where the reference's running
payload count crosses ``_PACK_FLUSH_BYTES``. No Spark session.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from search_engine_spark.functions.codec import delta_varbyte_encode, varbyte_encode
from search_engine_spark.operators import build as B


def _reference_row(term, salt, d, tf, dl, blobs):
    bs = B.BLOCK_SIZE
    starts = list(range(0, len(d), bs))
    blocks = [slice(s, s + bs) for s in starts]
    row = {"term": term, "salt": salt, "min_docid": int(d[0]), "ndocs": len(d)}
    dbin = [delta_varbyte_encode(d[b]) for b in blocks]
    row["docids"] = b"".join(dbin)
    row["block_last_docid"] = [int(d[b][-1]) for b in blocks]
    row["block_docid_off"] = list(np.cumsum([0] + [len(x) for x in dbin[:-1]]))
    if tf is None:
        row.update(sum_tf=len(d), max_tf=1, tfs=b"", dls=b"")
        row["block_max_tf"] = [1] * len(blocks)
        row["block_tf_off"] = row["block_dl_off"] = [0] * len(blocks)
    else:
        row.update(sum_tf=int(tf.sum()), max_tf=int(tf.max()))
        row["block_max_tf"] = [int(tf[b].max()) for b in blocks]
        for name, vals in (("tfs", tf), ("dls", dl)):
            parts = [varbyte_encode(vals[b]) for b in blocks]
            row[name] = b"".join(parts)
            row[f"block_{name[:-1]}_off"] = list(np.cumsum([0] + [len(x) for x in parts[:-1]]))
    if blobs is None:
        row["poslens"] = row["positions"] = None
    else:
        row["poslens"] = varbyte_encode([len(x) for x in blobs])
        row["positions"] = b"".join(blobs)
    for k in ("block_docid_off", "block_tf_off", "block_dl_off"):
        row[k] = [int(x) for x in row[k]]
    return row


def _groups(rng, docid_base, sizes, terms_salts):
    """Sorted postings of groups with the given sizes: docIds ascending
    from ``docid_base`` with random gaps, random tfs/dls/position blobs."""
    out = []
    for (term, salt), n in zip(terms_salts, sizes):
        d = docid_base + np.cumsum(rng.integers(1, 1000, n)).astype(np.int64)
        tf = rng.integers(1, 300, n).astype(np.int64)
        dl = rng.integers(1, 20000, n).astype(np.int64)
        blobs = [bytes(rng.integers(0, 256, rng.integers(0, 5)).astype(np.uint8)) for _ in range(n)]
        out.append((term, salt, d, tf, dl, blobs))
    return out


def _pack(groups, membership=False, positions=True):
    """Run _pack_sorted over groups (already in (term, salt, docId) order)."""
    vocab = sorted({g[0] for g in groups})
    codes = np.concatenate([[vocab.index(g[0])] * len(g[2]) for g in groups]).astype(np.int64)
    salt = np.concatenate([[g[1]] * len(g[2]) for g in groups]).astype(np.int64)
    docid = np.concatenate([g[2] for g in groups])
    tf = None if membership else np.concatenate([g[3] for g in groups])
    dl = None if membership else np.concatenate([g[4] for g in groups])
    gs = np.cumsum([0] + [len(g[2]) for g in groups[:-1]]).astype(np.int64)
    if positions:
        blobs = [b for g in groups for b in g[5]]
        lens = np.array([len(b) for b in blobs], dtype=np.int64)
        starts = np.cumsum(np.append(0, lens[:-1])).astype(np.int64)
        pool = np.frombuffer(b"".join(blobs) or b"\0", dtype=np.uint8)
    else:
        pool = starts = lens = None
    return list(B._pack_sorted(pa.array(vocab), codes, salt, docid, tf, dl,
                               pool, starts, lens, gs))


def _reference(groups, membership=False, positions=True):
    return [
        _reference_row(t, s, d, None if membership else tf, None if membership else dl,
                       blobs if positions else None)
        for t, s, d, tf, dl, blobs in groups
    ]


def _rows(batches):
    return [r for b in batches for r in b.to_pylist()]


# group sizes around the block size: one posting, a full block, one past,
# several blocks with a short tail
SIZES = [1, 128, 129, 300, 2, 640, 7]


@pytest.mark.parametrize("membership", [False, True])
@pytest.mark.parametrize("positions", [True, False])
def test_pack_equals_per_group_reference(membership, positions):
    rng = np.random.default_rng(7)
    keys = [("alpha", 0), ("beta", 0), ("beta", 1), ("beta", 3), ("gamma", 0),
            ("heavy", 0), ("heavy", 2)]
    groups = _groups(rng, 0, SIZES, keys)
    got = _rows(_pack(groups, membership, positions))
    assert got == _reference(groups, membership, positions)
    assert [r["salt"] for r in got] == [s for _, s in keys]


@pytest.mark.parametrize("nbytes", [2, 3, 5])
def test_docids_of_every_varbyte_width(nbytes):
    """Block-start docIds are stored absolute, so every block's first value
    takes ``nbytes`` varbyte bytes here; the gaps inside take 1-2."""
    rng = np.random.default_rng(nbytes)
    base = 1 << (7 * (nbytes - 1))
    groups = _groups(rng, base, [1, 129, 400], [("a", 0), ("b", 0), ("b", 1)])
    got = _rows(_pack(groups))
    assert got == _reference(groups)
    first = got[0]["docids"]
    assert len(first) == nbytes and all(x & 0x80 for x in first[:-1])


def test_empty_partition_packs_nothing():
    z = np.empty(0, dtype=np.int64)
    assert list(B._pack_sorted(pa.array([], pa.string()), z, z, z, z, z,
                               None, None, None, z)) == []
    assert list(B._segment_encoder(iter([]))) == []
    assert list(B._merge_encoder(iter([]))) == []
    assert list(B._compact_merge_encoder(iter([]))) == []


def test_output_chunks_at_flush_threshold(monkeypatch):
    """A chunk closes with the group whose payload (docid, tf, dl, position
    and position-length bytes) brings the chunk to _PACK_FLUSH_BYTES."""
    rng = np.random.default_rng(3)
    keys = [(f"t{i:02d}", 0) for i in range(len(SIZES) * 2)]
    groups = _groups(rng, 1 << 20, SIZES * 2, keys)
    want = _reference(groups)
    limit = 900
    monkeypatch.setattr(B, "_PACK_FLUSH_BYTES", limit)
    batches = _pack(groups)
    chunks, cur, pend = [], [], 0
    for r in want:
        cur.append(r)
        pend += sum(len(r[k]) for k in ("docids", "tfs", "dls", "poslens", "positions"))
        if pend >= limit:
            chunks.append(cur)
            cur, pend = [], 0
    chunks += [cur] if cur else []
    assert len(chunks) > 2
    assert [b.to_pylist() for b in batches] == chunks
