"""Index construction (reference operators B1-B5, S8).

Reference lifecycle (``InvertedIndexManager.java``): ``addDocument`` buffers
per-term TreeMaps (IIM:163-201), ``flush`` writes a term-sorted segment
triplet (IIM:301-328), ``mergeSegments`` sort-merges pairs (IIM:583-687).

Spark-first rebuild — the whole build is ONE shuffle:

    corpus (docId, content)
      -> mapInPandas(posting_kernel)         # B1: tokenize + per-doc postings
         (term, docId, tf, dl, posbin)       #     positions already varbyte-packed
      -> salt heavy terms                    # skew: term -> (term, salt)
      -> repartition(term, salt)             # B2/B3: the one (hash) shuffle
      -> mapInArrow(segment_encoder)         # S8: numpy lexsort + packed rows,
      -> parquet segments/                   #     straight off Arrow buffers;
                                             # term-sorted files => row-group
                                             # min/max pushdown on `term`
(term stats fall out of the packed rows with a cheap second-stage agg —
no re-shuffle of raw postings. The batch's doc count rides the same job:
one marker row per map partition, summed by an observation after the
shuffle; see ``build_segments_combined``.)

Scale notes (100 TB):
- postings never materialize per-token rows (no posexplode): the kernel
  emits per-(doc,term) rows straight from Arrow batches.
- heavy terms (code keywords: ``def``, ``return`` ...) are salted into
  ``n_salts`` sub-lists BEFORE the range shuffle, so no reducer gets a
  whole mega posting list; each salted sub-list keeps docId order, so the
  delta codec stays valid; the query path unions salted rows.
- dl (doc length) is denormalized into each packed row, so BM25 scoring
  needs NO join against a doclens table at query time.
- every reduce kernel (build merge, compaction merge, posting-level S8)
  packs its whole partition at once through ONE block encoder
  (``_pack_blocks``): block boundaries for every (term, salt) row, one
  varbyte pass per stream with docId delta restarts at block starts, row
  and block byte offsets from one cumsum, Arrow columns built from those
  offsets and buffers — no Python work per packed row. The bucket splitter
  (``rank._split_partition``) re-encodes its exact slices with it too.
- every reader of those rows decodes through ONE decoder
  (``_decode_packed``): a whole Arrow table of packed rows in one varbyte
  pass per stream, delta chains restarting where each row's
  ``block_docid_off`` says — the merges, the splitter, the DAAT kernel
  and the segment decoders. Only ``fsck`` keeps its own per-block reader,
  as the independent check of the bytes.
- the build is batched by a pure function of docId (``batch_of``); each
  batch commits atomically into the manifest -> resumable (see segments.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.analyzers import get_analyzer
from ..functions.codec import varbyte_decode, varbyte_encode
from ..functions.predicates import isin_expr

# positions travel as a delta+varbyte blob PER POSTING (`posbin`), packed on
# the map side: an array<int> column through the shuffle costs ~5x in
# UnsafeRow width, sort time, and Arrow<->pandas per-element conversion.
# The blob bytes are exactly the per-doc segment encoding, so the reducer
# only concatenates them.
POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("docId", LongType(), False),
        StructField("tf", IntegerType(), False),
        StructField("dl", IntegerType(), False),
        StructField("posbin", BinaryType(), True),
    ]
)

SEGMENT_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("salt", IntegerType(), False),
        StructField("min_docid", LongType(), False),
        StructField("ndocs", IntegerType(), False),
        StructField("sum_tf", LongType(), False),
        StructField("max_tf", IntegerType(), False),
        StructField("docids", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("dls", BinaryType(), False),
        StructField("poslens", BinaryType(), True),
        StructField("positions", BinaryType(), True),
        StructField("block_last_docid", ArrayType(LongType()), False),
        StructField("block_max_tf", ArrayType(IntegerType()), False),
        # byte offsets of each block inside docids/tfs/dls — the delta chain
        # restarts at every block, so a block is independently decodable
        # (the bucket splitter ships whole blocks as byte slices)
        StructField("block_docid_off", ArrayType(IntegerType()), False),
        StructField("block_tf_off", ArrayType(IntegerType()), False),
        StructField("block_dl_off", ArrayType(IntegerType()), False),
    ]
)

BLOCK_SIZE = 128  # postings per block-max block (Ding & Suel, SIGIR'11)


def _batch_postings(pdf: pd.DataFrame, fn):
    """Tokenize one Arrow batch into posting-level flat arrays.

    Returns (terms_obj, docid, tf, dl, posbuf, bbound) — one entry per
    (doc, term) group; ``posbuf`` is the batch's position blobs concatenated
    (per-posting delta chains), ``bbound`` the per-posting byte offsets.
    Flat token stream + one factorize + lexsort + run-length pass — no
    pandas explode / groupby.agg (object-heavy allocations anti-scale under
    many concurrent workers: measured 4.8x slower, memory-bandwidth-bound).
    """
    toks_list = [fn(t) if t else [] for t in pdf["content"].values]
    dl = np.fromiter((len(t) for t in toks_list), dtype=np.int64, count=len(toks_list))
    total = int(dl.sum())
    if total == 0:
        return None
    flat = np.empty(total, dtype=object)
    off = 0
    for t in toks_list:
        flat[off : off + len(t)] = t
        off += len(t)
    doc_idx = np.repeat(np.arange(len(toks_list)), dl)
    starts = np.zeros(len(toks_list) + 1, dtype=np.int64)
    starts[1:] = np.cumsum(dl)
    pos = (np.arange(total) - starts[doc_idx]).astype(np.int32)
    codes, uniques = pd.factorize(pd.Series(flat), sort=False)
    order = np.lexsort((codes, doc_idx))
    d_s, c_s, p_s = doc_idx[order], codes[order], pos[order]
    newgrp = np.empty(total, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1])
    gstart = np.flatnonzero(newgrp)
    tf = np.diff(np.append(gstart, total)).astype(np.int64)
    # positions (sorted within group: lexsort is stable) -> one vectorized
    # delta+varbyte pass, chain restarting per posting
    deltas = p_s.astype(np.int64)
    deltas[1:] -= p_s[:-1]
    deltas[gstart] = p_s[gstart]
    posbuf = varbyte_encode(deltas)
    blens = _byte_lens(deltas)
    bbound = np.zeros(len(gstart) + 1, dtype=np.int64)
    np.cumsum(np.add.reduceat(blens, gstart), out=bbound[1:])
    return (
        uniques[c_s[gstart]],
        pdf["docId"].values[d_s[gstart]].astype(np.int64),
        tf,
        dl[d_s[gstart]],
        posbuf,
        bbound,
    )


def build_postings(
    corpus: DataFrame, analyzer: str = "porter", term_prefix: str = ""
) -> DataFrame:
    """B1 (+A9): corpus -> (term, docId, tf, dl, posbin) posting rows.

    Row-level output — the query/oracle surface. The segment BUILD path uses
    :func:`build_miniblocks` (map-side combine) instead.

    ``term_prefix`` namespaces every emitted term (fielded indexing: the
    ``path:`` / ``lang:`` Lucene-field shape) — applied AFTER analysis so
    the analyzer never sees or mangles the prefix.
    """

    def kernel(batches):
        fn = get_analyzer(analyzer)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = _batch_postings(pdf, fn)
            if out is None:
                continue
            terms, docid, tf, dl, posbuf, bbound = out
            if term_prefix:
                terms = (term_prefix + pd.Series(terms, dtype=object)).values
            yield pd.DataFrame(
                {
                    "term": terms,
                    "docId": docid,
                    "tf": tf.astype("int32"),
                    "dl": dl.astype("int32"),
                    "posbin": [
                        posbuf[bbound[k] : bbound[k + 1]] for k in range(len(terms))
                    ],
                }
            )

    from ._parallel import ensure_parallelism

    src = ensure_parallelism(corpus.select("docId", "content"))
    return src.mapInPandas(kernel, POSTINGS_SCHEMA)


def heavy_terms(postings: DataFrame, threshold: int) -> list[str]:
    """Skew detection: terms whose df exceeds `threshold`. Returned list is
    small (code keywords / stopword-like terms) and is broadcast."""
    rows = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > threshold)
        .select("term")
        .collect()
    )
    return sorted(r[0] for r in rows)


def heavy_terms_sampled(
    corpus: DataFrame, analyzer: str, threshold: int, sample_mod: int = 64
) -> list[str]:
    """Skew detection on a deterministic 1/sample_mod docId slice.

    Heavy terms are by definition massively frequent, so a hash slice finds
    them reliably; tokenizing the full corpus twice (or persisting raw
    postings) just for df stats would dominate the build at scale. The slice
    is a pure function of docId — partition- and resume-independent.
    """
    if sample_mod <= 1:
        return heavy_terms(build_postings(corpus, analyzer), threshold)
    sub = corpus.where(F.pmod(F.xxhash64("docId"), F.lit(sample_mod)) == 0)
    return heavy_terms(
        build_postings(sub, analyzer), max(1, threshold // sample_mod)
    )


def salted(postings: DataFrame, heavy: list[str], n_salts: int) -> DataFrame:
    """term -> (term, salt): heavy terms fan out over `n_salts` deterministic
    salts (pure function of docId — resume-safe); light terms salt=0."""
    if not heavy or n_salts <= 1:
        return postings.withColumn("salt", F.lit(0))
    is_heavy = isin_expr("term", heavy)
    return postings.withColumn(
        "salt",
        F.when(is_heavy, (F.pmod(F.col("docId"), F.lit(n_salts))).cast("int")).otherwise(
            F.lit(0)
        ),
    )


def _byte_lens(values: np.ndarray) -> np.ndarray:
    """Varbyte byte-length per value (same thresholds as the encoder)."""
    lens = np.ones(len(values), dtype=np.int64)
    if len(values) == 0:
        return lens
    mx = int(values.max())
    for k in range(1, 9):
        if mx < (1 << (7 * k)):
            break
        lens += values >= (np.int64(1) << (7 * k))
    return lens


def _varbyte_stream(values: np.ndarray, restarts: np.ndarray | None = None):
    """One varbyte pass over a whole partition's values -> (bytes as a
    uint8 array, cum) where value i's bytes are ``buf[cum[i]:cum[i+1]]``.
    With ``restarts``, values are delta-coded with the chain restarting at
    each restart index (a block start), so every block decodes on its own."""
    if restarts is not None:
        d = values.copy()
        d[1:] -= values[:-1]
        d[restarts] = values[restarts]
        values = d
    cum = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(_byte_lens(values), out=cum[1:])
    return np.frombuffer(varbyte_encode(values), dtype=np.uint8), cum


def _pack_blocks(docid, tf, dl, gs, block_size):
    """THE block encoder: sorted postings in contiguous groups starting at
    ``gs`` -> every group's packed columns, one varbyte pass per stream.

    Blocks hold ``block_size`` postings (the last one of a group fewer);
    ``block_size`` None makes each group a single block. The docId delta
    chain restarts at every block start, and group and block byte offsets
    are read off each stream's one cumsum of byte lengths. ``tf``/``dl``
    None is membership mode (see ``_pack_sorted``): empty tf/dl bytes,
    all-zero tf/dl block offsets, tf read as constant 1.

    Returns a dict: per group ``min_docid``/``ndocs``/``sum_tf``/``max_tf``;
    per stream ``docids``/``tfs``/``dls`` a (bytes, group offsets) pair;
    per block, flat in group order with group offsets ``blocks``:
    ``block_last_docid``, ``block_max_tf`` and the byte offsets
    ``block_docid_off``/``block_tf_off``/``block_dl_off`` (relative to the
    group's first byte)."""
    n, ng = len(docid), len(gs)
    bounds = np.append(gs, n)
    glen = np.diff(bounds)
    nblk = -(-glen // block_size) if block_size else np.ones(ng, dtype=np.int64)
    blocks = np.zeros(ng + 1, dtype=np.int64)
    np.cumsum(nblk, out=blocks[1:])
    bgrp = np.repeat(np.arange(ng), nblk)
    bstart = gs[bgrp]
    if block_size:
        bstart = bstart + (np.arange(int(blocks[-1])) - blocks[bgrp]) * block_size
    bend = np.append(bstart[1:], n)
    out = {
        "min_docid": docid[gs],
        "ndocs": glen,
        "blocks": blocks,
        "block_last_docid": docid[bend - 1],
    }

    def stream(name, values, restarts=None):
        buf, cum = _varbyte_stream(values, restarts)
        out[name] = (buf, cum[bounds])
        out[f"block_{name[:-1]}_off"] = cum[bstart] - cum[gs[bgrp]]

    stream("docids", docid, bstart)
    if tf is None:
        empty = (np.empty(0, dtype=np.uint8), np.zeros(ng + 1, dtype=np.int64))
        out["tfs"] = out["dls"] = empty
        out["block_tf_off"] = out["block_dl_off"] = np.zeros(len(bstart), dtype=np.int64)
        out["block_max_tf"] = np.ones(len(bstart), dtype=np.int64)
        out["sum_tf"], out["max_tf"] = glen, np.ones(ng, dtype=np.int64)
        return out
    stream("tfs", tf)
    stream("dls", dl)
    out["block_max_tf"] = np.maximum.reduceat(tf, bstart)
    out["sum_tf"] = np.add.reduceat(tf, gs)
    out["max_tf"] = np.maximum.reduceat(out["block_max_tf"], blocks[:-1])
    return out


def _undo_deltas(values: np.ndarray, restarts: np.ndarray) -> np.ndarray:
    """THE delta-undo step: running sums of ``values``, with the chain
    restarting (the value stored absolute) at every index of ``restarts``
    — sorted, unique, and starting at 0."""
    csum = np.cumsum(values)
    if not len(csum):
        return csum
    base = np.zeros(len(restarts), dtype=np.int64)
    base[1:] = csum[restarts[1:] - 1]
    return csum - np.repeat(base, np.diff(np.append(restarts, len(csum))))


def _value_index(body: np.ndarray) -> np.ndarray:
    """Varbyte values ending before each byte of ``body`` (one more entry
    than bytes): maps the byte offset of a value start to its index."""
    ends = np.zeros(len(body) + 1, dtype=np.int64)
    np.cumsum(body < 0x80, out=ends[1:])
    return ends


def _column(tbl, name: str):
    """One contiguous Arrow array of a RecordBatch or Table column."""
    import pyarrow as pa

    c = tbl.column(name)
    if not isinstance(c, pa.ChunkedArray):
        return c
    return c.chunk(0) if c.num_chunks == 1 else c.combine_chunks()


def _decode_packed(tbl, positions: str | None = None) -> dict:
    """THE decoder of the packed posting format: every row of an Arrow
    table (or RecordBatch) of packed rows -> flat postings, one varbyte
    pass per stream and no Python work per row. It reads all three row
    kinds: segment rows (``SEGMENT_SCHEMA``), bucketed rows
    (``rank.BUCKETED_SCHEMA``) and build mini-blocks (``MINIBLOCK_SCHEMA``).

    The docId delta chain restarts at every row start and at every byte
    offset the row lists in ``block_docid_off``: a ``list<int32>`` in
    segment rows, little-endian int32 bytes in bucketed rows, absent from
    mini-blocks. Restarts never follow a fixed BLOCK_SIZE grid (an
    exact-split slice is one block of any size). An EMPTY tf or dl blob
    (a membership row) reads as all 1s.

    Returns a dict: ``rows`` (row i holds postings ``rows[i]:rows[i+1]``)
    and flat int64 ``docid``; when the table has tf/dl blobs, flat int64
    ``tf`` and ``dl`` and ``membership``, true when no row carries tf or dl
    bytes. ``positions="bytes"`` adds each posting's
    position blob as a byte range of ``pos_data``: ``pos_start`` and
    ``pos_len``, and ``pos_null``, true for rows without positions
    (``pos_data`` is None when no row has any). ``positions="values"`` also
    decodes them, each posting's blob its own delta chain, into flat int64
    ``positions`` with per-posting offsets ``pos_offs``."""
    import pyarrow as pa

    names = tbl.schema.names
    d_offs, d_data = _binary_offsets(_column(tbl, "docids"))
    body = d_data[d_offs[0] : d_offs[-1]]
    ends = _value_index(body)
    rel = d_offs - d_offs[0]
    rows = ends[rel]
    counts = np.diff(rows)
    starts = [rel[:-1]]
    if "block_docid_off" in names:
        blk = _column(tbl, "block_docid_off")
        if pa.types.is_list(blk.type):
            o = blk.offsets.to_numpy().astype(np.int64)
            boff = blk.values.to_numpy()[o[0] : o[-1]]
            nblk = np.diff(o)
        else:
            o, data = _binary_offsets(blk)
            boff = data[o[0] : o[-1]].view("<i4")
            nblk = np.diff(o) // 4
        starts.append(np.repeat(rel[:-1], nblk) + boff)
    docid = _undo_deltas(varbyte_decode(body), np.unique(ends[np.concatenate(starts)]))
    npost = len(docid)

    def per_posting(name, fill):
        # a row with an empty blob reads `fill` for each of its postings
        offs, data = _binary_offsets(_column(tbl, name))
        vals = varbyte_decode(data[offs[0] : offs[-1]])
        if len(vals) == npost:
            return vals, False
        full = np.diff(offs) > 0
        out = np.full(npost, fill, dtype=np.int64)
        out[np.repeat(full, counts)] = vals
        return out, not full.any()

    out = {"rows": rows, "docid": docid}
    if "tfs" in names:
        out["tf"], no_tf = per_posting("tfs", 1)
        out["dl"], no_dl = per_posting("dls", 1)
        out["membership"] = no_tf and no_dl
    if positions is None:
        return out
    pcol = _column(tbl, "positions" if "positions" in names else "posbin")
    out["pos_data"] = None
    if pcol.null_count == len(pcol):
        return out
    plens, _ = per_posting("poslens", 0)
    p_offs, p_data = _binary_offsets(pcol)
    excl = np.zeros(npost + 1, dtype=np.int64)
    np.cumsum(plens, out=excl[1:])
    out.update(
        pos_data=p_data, pos_len=plens,
        pos_start=np.repeat(p_offs[:-1] - excl[rows[:-1]], counts) + excl[:-1],
        pos_null=pcol.is_null().to_numpy(zero_copy_only=False),
    )
    if positions == "values":
        pbody = p_data[p_offs[0] : p_offs[-1]]
        pos_offs = _value_index(pbody)[np.append(out["pos_start"], p_offs[-1]) - p_offs[0]]
        out["positions"] = _undo_deltas(varbyte_decode(pbody), np.unique(pos_offs[:-1]))
        out["pos_offs"] = pos_offs
    return out


def _binary_array(buf: np.ndarray, offs: np.ndarray, c0: int, c1: int):
    """Arrow binary array of items c0..c1-1 of a (bytes, offsets) stream,
    built straight from the buffers."""
    import pyarrow as pa

    o = offs[c0 : c1 + 1]
    return pa.Array.from_buffers(
        pa.binary(), c1 - c0,
        [None, pa.py_buffer((o - o[0]).astype(np.int32)), pa.py_buffer(buf[o[0] : o[-1]])],
    )


def _pa_types():
    import pyarrow as pa

    return {
        "term": pa.string(),
        "salt": pa.int32(),
        "min_docid": pa.int64(),
        "ndocs": pa.int32(),
        "sum_tf": pa.int64(),
        "max_tf": pa.int32(),
        "docids": pa.binary(),
        "tfs": pa.binary(),
        "dls": pa.binary(),
        "poslens": pa.binary(),
        "positions": pa.binary(),
        "block_last_docid": pa.list_(pa.int64()),
        "block_max_tf": pa.list_(pa.int32()),
        "block_docid_off": pa.list_(pa.int32()),
        "block_tf_off": pa.list_(pa.int32()),
        "block_dl_off": pa.list_(pa.int32()),
    }


def _binary_offsets(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of an Arrow (Large)Binary/(Large)String array as numpy
    — zero-copy views into the Arrow buffers, honoring the array's slice
    offset. Large types carry int64 offsets (the >2 GiB-per-partition case —
    see :func:`_combine_large`)."""
    import pyarrow as pa

    buffers = arr.buffers()
    wide = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    dt = np.int64 if wide else np.int32
    offs = np.frombuffer(buffers[1], dtype=dt)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else np.empty(0, np.uint8)
    return offs.astype(np.int64), data


def _combine_large(batch_list):
    """Combine input Arrow batches into ONE chunk per column safely.

    ``combine_chunks`` on 32-bit-offset binary/string columns overflows
    (ArrowInvalid) once a reduce partition's concatenated payload exceeds
    2 GiB — exactly the regime large builds hit. Cast every binary/string
    column to its large_* (64-bit-offset) type BEFORE combining; downstream
    numpy code reads offsets via :func:`_binary_offsets` either way.
    """
    import pyarrow as pa

    tbl = pa.Table.from_batches(batch_list)
    fields = [
        pa.field(
            f.name,
            pa.large_binary()
            if pa.types.is_binary(f.type)
            else pa.large_string()
            if pa.types.is_string(f.type)
            else f.type,
        )
        for f in tbl.schema
    ]
    return tbl.cast(pa.schema(fields)).combine_chunks()


def _gather_bytes(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate data[starts[i]:starts[i]+lens[i]] for all i, vectorized.
    Returns (gathered bytes, output offsets of each piece)."""
    out_offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out_offs[1:])
    total = int(out_offs[-1])
    idx = np.repeat(starts - out_offs[:-1], lens) + np.arange(total, dtype=np.int64)
    return data[idx], out_offs


def _segment_encoder(batches):
    """S8 kernel (``mapInArrow``): whole-partition Arrow-native encoder.

    Works directly on Arrow buffers — no pandas rows, no per-row Python
    objects (the Arrow->pandas conversion of term strings and posbin blobs
    dominated the reduce stage and anti-scaled under concurrent workers):

    - terms: dictionary-encode -> integer codes; lexicographic rank computed
      on the (tiny) dictionary only;
    - sort: numpy lexsort on (docId, salt, term-rank) — replaces the JVM
      ``sortWithinPartitions`` entirely;
    - posbin: per-group concatenation is a vectorized byte-gather from the
      Arrow data buffer (no bytes objects materialize per row).

    Materializes one partition per worker; size segments (num_segments) so a
    partition's postings fit worker memory — at cluster scale that is the
    normal shuffle-partition sizing rule.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    batch_list = [b for b in batches if b.num_rows]
    if not batch_list:
        return
    tbl = _combine_large(batch_list)
    n = tbl.num_rows
    term_arr = tbl.column("term").chunk(0)
    salt = tbl.column("salt").chunk(0).to_numpy().astype(np.int64)
    docid = tbl.column("docId").chunk(0).to_numpy().astype(np.int64)
    tf = tbl.column("tf").chunk(0).to_numpy().astype(np.int64)
    dl = tbl.column("dl").chunk(0).to_numpy().astype(np.int64)
    pos_arr = tbl.column("posbin").chunk(0)
    has_pos = pos_arr.null_count < n

    de = pc.dictionary_encode(term_arr)
    codes = de.indices.to_numpy().astype(np.int64)
    vocab = de.dictionary.to_pylist()
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[np.argsort(np.array(vocab, dtype=object), kind="stable")] = np.arange(len(vocab))
    key = rank[codes]

    order = np.lexsort((docid, salt, key))
    key_s, salt_s, docid_s = key[order], salt[order], docid[order]
    tf_s, dl_s, codes_s = tf[order], dl[order], codes[order]

    newgrp = np.empty(n, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (key_s[1:] != key_s[:-1]) | (salt_s[1:] != salt_s[:-1])
    gs = np.flatnonzero(newgrp)

    if has_pos:
        p_offs, p_data = _binary_offsets(pos_arr)
        starts_s = p_offs[:-1][order]
        lens_s = (p_offs[1:] - p_offs[:-1])[order]
    else:
        starts_s = lens_s = None
    yield from _pack_sorted(
        de.dictionary, codes_s, salt_s, docid_s, tf_s, dl_s,
        (p_data if has_pos else None), starts_s, lens_s, gs,
    )


# flush a packed output batch once its binary payload reaches this size —
# keeps every emitted RecordBatch far below the 2 GiB int32-offset ceiling
# of the (non-large) Arrow binary columns Spark expects back
_PACK_FLUSH_BYTES = 256 << 20


def _pack_sorted(vocab, codes_s, salt_s, docid_s, tf_s, dl_s,
                 pos_data, pos_starts_s, pos_lens_s, gs):
    """Sorted posting-level flat arrays -> packed-segment RecordBatches
    (a generator: output is CHUNKED by payload bytes, never one giant batch).

    Whole-partition encode: :func:`_pack_blocks` block-encodes every
    (term, salt) group at once, and the Arrow binary and list columns are
    built from its offsets and buffers — no Python work per group.
    ``vocab`` is the Arrow term dictionary ``codes_s`` index into; ``gs``
    the first sorted posting of each group.

    ``pos_data``: byte pool holding every posting's position blob;
    ``pos_starts_s``/``pos_lens_s``: per-posting (start, len) into it, in
    sorted row order. Per-group concat is a single vectorized byte-gather.

    ``tf_s``/``dl_s`` = None is MEMBERSHIP mode (trigram/substring indexes:
    tf==1 by construction, dl unused) — tf/dl blobs are stored EMPTY, which
    on a dense-id trigram index removes ~64% of payload bytes (measured,
    tools/index_size.py). Summary fields stay truthful under the tf=1
    reading: sum_tf=ndocs, max_tf=1, block_max_tf all 1.
    """
    import pyarrow as pa

    ng = len(gs)
    if ng == 0:
        return
    types = _pa_types()
    schema = pa.schema([pa.field(f.name, types[f.name]) for f in SEGMENT_SCHEMA.fields])
    p = _pack_blocks(docid_s, tf_s, dl_s, gs, BLOCK_SIZE)
    streams = {k: p[k] for k in ("docids", "tfs", "dls")}
    if pos_data is not None:
        gathered, out_offs = _gather_bytes(pos_data, pos_starts_s, pos_lens_s)
        pbuf, pcum = _varbyte_stream(pos_lens_s)
        bounds = np.append(gs, len(docid_s))
        streams["poslens"] = (pbuf, pcum[bounds])
        streams["positions"] = (gathered, out_offs[bounds])
    # flush a chunk once its payload reaches _PACK_FLUSH_BYTES, counting
    # the group that crosses the threshold in (cum = payload before group g)
    cum = np.zeros(ng + 1, dtype=np.int64)
    for _, offs in streams.values():
        cum += offs - offs[0]
    codes_g = codes_s[gs]
    c0 = 0
    while c0 < ng:
        c1 = min(int(np.searchsorted(cum, cum[c0] + _PACK_FLUSH_BYTES, "left")), ng)
        cols = {
            "term": vocab.take(pa.array(codes_g[c0:c1])).cast(pa.string()),
            "salt": pa.array(salt_s[gs[c0:c1]].astype(np.int32)),
        }
        for name in ("min_docid", "ndocs", "sum_tf", "max_tf"):
            cols[name] = pa.array(p[name][c0:c1], types[name])
        for name in ("docids", "tfs", "dls", "poslens", "positions"):
            cols[name] = (
                _binary_array(*streams[name], c0, c1)
                if name in streams else pa.nulls(c1 - c0, pa.binary())
            )
        b = p["blocks"][c0 : c1 + 1]
        for name in ("block_last_docid", "block_max_tf", "block_docid_off",
                     "block_tf_off", "block_dl_off"):
            cols[name] = pa.ListArray.from_arrays(
                pa.array((b - b[0]).astype(np.int32)),
                pa.array(p[name][b[0] : b[-1]], types[name].value_type),
            )
        yield pa.RecordBatch.from_arrays([cols[f.name] for f in schema], schema=schema)
        c0 = c1


# ---------------------------------------------------------------------------
# map-side combine: the build shuffles packed per-term MINI-BLOCKS, not
# posting rows. Each map partition tokenizes its docs and emits one packed
# row per (term, salt): sorted docId deltas, tfs, dls, per-posting position
# blob lengths, concatenated position blobs. The shuffle then moves ~5-8x
# fewer, wider rows (the JVM row<->Arrow conversion cost is per-ROW), and the
# reducer merges mini-blocks fully vectorized. This is the classic partial
# aggregation / LSM shape for inverted-index builds.

MINIBLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("salt", IntegerType(), False),
        StructField("ndocs", IntegerType(), False),
        StructField("docids", BinaryType(), False),   # delta varbyte, restart/row
        StructField("tfs", BinaryType(), False),      # varbyte
        StructField("dls", BinaryType(), False),      # varbyte
        StructField("poslens", BinaryType(), True),   # varbyte per-posting blob len
        StructField("posbin", BinaryType(), True),    # concat per-posting blobs
    ]
)


# salt of the per-partition doc-count marker rows (``build_miniblocks``);
# every real (term, salt) row has salt >= 0
DOC_MARKER_SALT = -1


def _slice_all(buf: bytes, gs: np.ndarray, ge: np.ndarray, bounds: np.ndarray):
    """Per-group byte slices of a whole-partition varbyte buffer, where
    ``bounds`` holds cumulative byte offsets per value."""
    return [buf[int(bounds[s]) : int(bounds[e])] for s, e in zip(gs, ge)]


def build_miniblocks(
    corpus: DataFrame,
    analyzer: str = "porter",
    heavy: list[str] | None = None,
    n_salts: int = 8,
    with_positions: bool = True,
    term_prefix: str = "",
    membership: bool = False,
) -> DataFrame:
    """Map-side combine kernel: corpus partition -> packed (term, salt)
    mini-blocks. Salting happens here (needs per-posting docId).

    ``term_prefix`` namespaces emitted terms post-analysis (fielded
    indexing). The prefix is constant per call, so it is applied to the
    factorized VOCAB (once per unique term, not per posting) and cannot
    change the sort/grouping order; ``heavy`` membership is checked on the
    UNPREFIXED analyzed token — skew detection stays field-local.

    ``membership`` emits EMPTY tf/dl blobs (trigram/substring indexes where
    tf==1 by construction): the shuffle then moves docid bytes only, and
    the merge encoder's decode reports the empties and it packs membership
    rows (``_pack_blocks`` with tf None).

    The content pass (no ``term_prefix``) also yields one doc-count marker
    row per partition, even an empty one: ``term=""``, ``salt=-1``,
    ``ndocs`` = the partition's input rows (empty docs and docs with no
    tokens included), empty blobs. ``build_segments_combined`` counts the
    batch's docs from these rows and drops them before the merge."""
    heavy_set = frozenset(heavy or [])
    do_salt = bool(heavy_set) and n_salts > 1

    def kernel(batches):
        fn = get_analyzer(analyzer)
        parts, n_rows = [], 0
        for pdf in batches:
            n_rows += len(pdf)
            if len(pdf):
                out = _batch_postings(pdf, fn)
                if out is not None:
                    parts.append(out)
        if not term_prefix:
            yield pd.DataFrame(
                {"term": [""], "salt": np.int32(DOC_MARKER_SALT), "ndocs": np.int32(n_rows),
                 "docids": [b""], "tfs": [b""], "dls": [b""], "poslens": [None],
                 "posbin": [None]})
        if not parts:
            return
        terms = np.concatenate([p[0] for p in parts])
        docid = np.concatenate([p[1] for p in parts])
        tf = np.concatenate([p[2] for p in parts])
        dl = np.concatenate([p[3] for p in parts])
        # per-posting position blob (start, len) into one concatenated pool
        pool = b"".join(p[4] for p in parts)
        pstarts_parts, off = [], 0
        for p in parts:
            pstarts_parts.append(p[5][:-1] + off)
            off += int(p[5][-1])
        pstarts = np.concatenate(pstarts_parts)
        plens = np.concatenate([np.diff(p[5]) for p in parts])
        pos_data = np.frombuffer(pool, dtype=np.uint8)

        codes, uniques = pd.factorize(pd.Series(terms), sort=False)
        codes = codes.astype(np.int64)
        vocab = list(uniques)
        rank = np.empty(len(vocab), dtype=np.int64)
        rank[np.argsort(np.array(vocab, dtype=object), kind="stable")] = np.arange(len(vocab))
        key = rank[codes]
        if do_salt:
            hmask = np.fromiter((t in heavy_set for t in vocab), dtype=bool, count=len(vocab))
            salt = np.where(hmask[codes], docid % n_salts, 0).astype(np.int64)
        else:
            salt = np.zeros(len(codes), dtype=np.int64)
        order = np.lexsort((docid, salt, key))
        codes_s, salt_s = codes[order], salt[order]
        docid_s, tf_s, dl_s = docid[order], tf[order], dl[order]
        key_s = key[order]
        n = len(order)
        newgrp = np.empty(n, dtype=bool)
        newgrp[0] = True
        newgrp[1:] = (key_s[1:] != key_s[:-1]) | (salt_s[1:] != salt_s[:-1])
        gs = np.flatnonzero(newgrp)
        ge = np.append(gs[1:], n)

        # whole-partition encodes, sliced per group by byte offsets
        deltas = docid_s.copy()
        deltas[1:] -= docid_s[:-1]
        deltas[gs] = docid_s[gs]
        dbuf = varbyte_encode(deltas)
        dbounds = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(_byte_lens(deltas), out=dbounds[1:])
        out_vocab = [term_prefix + v for v in vocab] if term_prefix else vocab
        d = {
            "term": [out_vocab[int(codes_s[s])] for s in gs],
            "salt": salt_s[gs].astype("int32"),
            "ndocs": (ge - gs).astype("int32"),
            "docids": _slice_all(dbuf, gs, ge, dbounds),
        }
        if membership:
            d["tfs"] = [b""] * len(gs)
            d["dls"] = [b""] * len(gs)
        else:
            tbuf = varbyte_encode(tf_s)
            tbounds = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(_byte_lens(tf_s), out=tbounds[1:])
            lbuf = varbyte_encode(dl_s)
            lbounds = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(_byte_lens(dl_s), out=lbounds[1:])
            d["tfs"] = _slice_all(tbuf, gs, ge, tbounds)
            d["dls"] = _slice_all(lbuf, gs, ge, lbounds)
        if with_positions:
            plens_s = plens[order]
            pstarts_s = pstarts[order]
            gathered, out_offs = _gather_bytes(pos_data, pstarts_s, plens_s)
            gbytes = gathered.tobytes()
            pbuf = varbyte_encode(plens_s)
            pbounds = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(_byte_lens(plens_s), out=pbounds[1:])
            d["poslens"] = _slice_all(pbuf, gs, ge, pbounds)
            d["posbin"] = [
                gbytes[int(out_offs[s]) : int(out_offs[e])] for s, e in zip(gs, ge)
            ]
        else:
            d["poslens"] = [None] * len(gs)
            d["posbin"] = [None] * len(gs)
        yield pd.DataFrame(d)

    from ._parallel import ensure_parallelism

    src = ensure_parallelism(corpus.select("docId", "content"))
    return src.mapInPandas(kernel, MINIBLOCK_SCHEMA)


def _merge_encoder(batches):
    """Reduce kernel: packed rows -> merged packed segment rows. The build
    merges (term, salt) mini-blocks; compaction (``_compact_merge_encoder``)
    merges packed segment rows, whose delta chains restart at every block
    their ``block_docid_off`` lists.

    Every column decodes in one pass through :func:`_decode_packed`, then
    the flat postings feed the same lexsort + pack as the posting-level
    path. Rows without tf/dl bytes repack as membership rows. The shuffle
    moves packed rows (bytes), never per-posting rows, and the kernel never
    materializes Python objects per posting.
    """
    import pyarrow.compute as pc

    batch_list = [b for b in batches if b.num_rows]
    if not batch_list:
        return
    tbl = _combine_large(batch_list)
    d = _decode_packed(tbl, positions="bytes")
    row_of_post = np.repeat(np.arange(tbl.num_rows), np.diff(d["rows"]))
    de = pc.dictionary_encode(tbl.column("term").chunk(0))
    rcodes = de.indices.to_numpy().astype(np.int64)
    vocab = de.dictionary.to_pylist()
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[np.argsort(np.array(vocab, dtype=object), kind="stable")] = np.arange(len(vocab))
    codes = rcodes[row_of_post]
    key = rank[codes]
    salt = tbl.column("salt").chunk(0).to_numpy().astype(np.int64)[row_of_post]
    docid = d["docid"]

    order = np.lexsort((docid, salt, key))
    codes_s, salt_s = codes[order], salt[order]
    docid_s, key_s = docid[order], key[order]
    newgrp = np.empty(len(order), dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (key_s[1:] != key_s[:-1]) | (salt_s[1:] != salt_s[:-1])
    has_pos = d["pos_data"] is not None
    yield from _pack_sorted(
        de.dictionary, codes_s, salt_s, docid_s,
        None if d["membership"] else d["tf"][order],
        None if d["membership"] else d["dl"][order],
        d["pos_data"],
        d["pos_start"][order] if has_pos else None,
        d["pos_len"][order] if has_pos else None,
        np.flatnonzero(newgrp),
    )


_compact_merge_encoder = _merge_encoder


# Fielded-term separator: a C0 control char NO analyzer can emit from real
# text (':' is everywhere in source code — "std::vector", "key:value" — and
# naive/porter tokenizers keep it inside tokens, which would make content
# terms collide with field terms and corrupt per-field token accounting).
# Content containing U+001F is out of contract.
FIELD_SEP = "\x1f"


def build_segments_combined(
    corpus: DataFrame,
    analyzer: str,
    num_segments: int,
    heavy: list[str] | None = None,
    n_salts: int = 8,
    with_positions: bool = True,
    fields: dict[str, tuple[str, list[str]]] | None = None,
    membership: bool = False,
) -> DataFrame:
    """The build path: map-side combine -> one hash shuffle of mini-blocks ->
    vectorized merge into packed segments.

    ``fields`` maps extra corpus COLUMNS to ``(analyzer, heavy_terms)``:
    each is tokenized independently and emitted as ``<col><FIELD_SEP><token>`` terms
    (the Lucene fielded-index shape — ``path:util``, ``lang:python``). All
    field mini-blocks UNION BEFORE the single hash shuffle, so fielding adds
    zero extra shuffles; field dl is the FIELD's own token length, which is
    exactly what per-field BM25 wants. Field heavy lists matter at scale:
    a low-cardinality field term (``lang:en``) is the heaviest posting list
    in the index and must salt like any skewed content term.

    Returns ``(segments, observation)``. After the frame's one action,
    ``observation.get["ndocs"]`` is the number of input docs: the sum of
    the content pass's marker rows, taken by a ``DataFrame.observe`` that
    sits after the hash exchange, in the result stage. Spark merges a
    result task's accumulator updates once per partition; a shuffle-map
    task's updates can merge again when its stage is recomputed, so an
    observation on the map side could count a doc twice. The markers are
    dropped right after it, before the merge encoder."""
    mini = build_miniblocks(
        corpus.select("docId", "content"), analyzer, heavy, n_salts,
        with_positions, membership=membership,
    )
    for col, (fanalyzer, fheavy) in sorted((fields or {}).items()):
        fmini = build_miniblocks(
            corpus.select("docId", F.col(col).cast("string").alias("content")),
            fanalyzer,
            fheavy,
            n_salts,
            with_positions,
            term_prefix=f"{col}{FIELD_SEP}",
            membership=membership,
        )
        mini = mini.unionByName(fmini)
    marker = F.col("salt") == DOC_MARKER_SALT
    ndocs = Observation()
    mini = (
        mini.repartition(num_segments, "term", "salt")
        .observe(ndocs, F.coalesce(F.sum(F.when(marker, F.col("ndocs"))), F.lit(0)).alias("ndocs"))
        .where(~marker)
    )
    packed = mini.mapInArrow(_merge_encoder, SEGMENT_SCHEMA)
    return packed.withColumn("seg", F.spark_partition_id()), ndocs


def encode_segments(
    postings: DataFrame,
    num_segments: int,
    heavy: list[str] | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """B2/B3 + S8: salted hash shuffle -> Arrow-native sort+pack kernel.

    Output carries ``seg = spark_partition_id`` — each partition IS a
    segment. HASH partitioning on (term, salt), not range: a range shuffle
    runs a separate RangePartitioner *sampling job* that recomputes the whole
    upstream tokenize pipeline, and Zipf term frequencies make sampled range
    bounds skew-prone anyway. With hash, each (term, salt) lands in exactly
    one partition and salting alone bounds the heaviest reducer. The
    in-partition (term, salt, docId) sort happens inside the Arrow kernel
    (numpy lexsort — cheaper than the JVM row sort and feeds the encoder
    zero-copy), so the files still come out term-sorted.

    Pruning tradeoff vs range partitioning (explicit): with hash, every
    segment file spans the full term alphabet, so `term IN (...)` pushdown
    skips ROW GROUPS inside each file (min/max stats on the sorted term
    column) but can no longer skip WHOLE FILES — a point query touches every
    segment file's footer. Measured impact on query latency is recorded in
    BENCH.md; the build-side win (no RangePartitioner sampling job that
    re-runs the tokenize pipeline) dominates at build scale.
    """
    p = salted(postings, heavy or [], n_salts)
    p = p.repartition(num_segments, "term", "salt")
    packed = p.mapInArrow(_segment_encoder, SEGMENT_SCHEMA)
    return packed.withColumn("seg", F.spark_partition_id())


def term_stats_from_segments(segments: DataFrame) -> DataFrame:
    """Q6-adjacent: (term, df, cf, max_tf) from packed rows — aggregates the
    tiny packed relation, never re-shuffles raw postings."""
    return segments.groupBy("term").agg(
        F.sum("ndocs").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        F.max("max_tf").alias("max_tf"),
    )
