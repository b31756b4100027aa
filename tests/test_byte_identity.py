"""Pinned bytes of the packed segment rows and the serving shards.

One fixture exercises every path that packs postings or re-keys them by
bucket: the build merge (two salted batches with positions and one delta
commit), the compaction merge, the posting-level encoder of a purge, a
membership index without positions, and the bucket splitter of both a
prepared cache and a delta refresh (its single-bucket, whole-block and
exact-split rows). Each digest is a SHA-256 over the rows in a fixed
order; the pinned values were taken from the per-group encoder and the
per-row splitter that the whole-partition ones replaced, so a change in
any packed byte, any block offset or any shard row fails here.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.feather as feather
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import serving as SV
from search_engine_spark.operators.build import _pa_types
from search_engine_spark.operators.delete import add_tombstones, purge_deletes
from search_engine_spark.sources import segments as S
from search_engine_spark.sources.corpus import synthetic_corpus

DIGESTS = {
    "built": "8a5d6af9cca355125c75121c53a35e228e03e016491aafee6f1699a2869d872f",
    "built_shards": "f2efd224fb573855440f10ffefd593c89f198acd310fe3485f662242a788a8df",
    "compacted": "103d01e9fc3f1e17c3ca4385ef9beb4d1c9fbdd395fea1bed83eb0b707bf5458",
    "purged": "07ab55d0b2f2fc35ca0dac779882426bd4283d07d9f12bc952e789822dc7efaa",
    "membership": "b34d3375d17bd2bda466deb741f2b4c266d46556541ebd592777e8db407f52e1",
    "membership_shards": "9a9d26849588fbd61b37832c57a35b3606fd7d3f767c6599c94af813f39318e6",
}


def _rows_digest(tbl: pa.Table, keys: list[str]) -> str:
    tbl = tbl.sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    for name in sorted(tbl.column_names):
        h.update(name.encode())
        h.update(repr(tbl.column(name).to_pylist()).encode())
    return h.hexdigest()


def _segments_digest(idx: str) -> str:
    types = _pa_types()
    # the segment columns plus the int32 ``seg`` partition id
    schema = pa.schema([(f.name, types.get(f.name, pa.int32()))
                        for f in S.SEGMENT_DIR_SCHEMA])
    m = S.read_manifest(idx)
    tables = [pq.read_table(S.batch_path(idx, k), schema=schema)
              for k, b in sorted(m["batches"].items()) if b.get("committed")]
    return _rows_digest(pa.concat_tables(tables), ["term", "salt", "min_docid"])


def _shards_digest(cache: str) -> str:
    with open(os.path.join(cache, SV.META_FILE)) as f:
        meta = json.load(f)
    h = hashlib.sha256()
    for b in sorted(meta["shards"], key=int):
        for i, name in enumerate(meta["shards"][b]):
            tbl = feather.read_table(os.path.join(cache, name))
            h.update(f"{b}/{i}".encode())
            h.update(_rows_digest(tbl, ["term", "lo_docid", "docids"]).encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def digests(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bytes")
    idx, cache = str(root / "idx"), str(root / "cache")
    corpus = synthetic_corpus(spark, n_docs=800, vocab_size=300, seed=41)
    part = F.pmod(F.xxhash64("docId"), F.lit(4))
    kw = dict(analyzer="porter", num_segments=4, heavy_threshold=40, n_salts=2)
    S.build_index(spark, corpus.where(part < 3), idx, n_batches=2, **kw)
    SV.prepare_serving_cache(spark, idx, cache, n_buckets=2)
    S.build_one_batch(spark, corpus.where(part == 3), idx, "d1", **kw)
    S.finalize_index(spark, idx)
    assert SV.refresh_serving_cache(spark, idx, cache)["refresh_mode"] == "delta"
    out = {"built": _segments_digest(idx), "built_shards": _shards_digest(cache)}
    S.compact(spark, idx, ["0", "1"])
    out["compacted"] = _segments_digest(idx)
    add_tombstones(spark, idx, corpus.where(F.pmod(F.col("docId"), F.lit(7)) == 0))
    purge_deletes(spark, idx)
    out["purged"] = _segments_digest(idx)

    midx, mcache = str(root / "midx"), str(root / "mcache")
    S.build_index(spark, corpus, midx, analyzer="naive", n_batches=1,
                  num_segments=4, with_positions=False, membership=True)
    out["membership"] = _segments_digest(midx)
    SV.prepare_serving_cache(spark, midx, mcache, n_buckets=2)
    out["membership_shards"] = _shards_digest(mcache)
    return out


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_packed_bytes_are_pinned(digests, name):
    assert digests[name] == DIGESTS[name]
