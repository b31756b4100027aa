"""B7 ``deleteDocuments`` — a real implementation, Lucene-style tombstones.

The reference declares deletion but never implements it
(``InvertedIndexManager.java`` throws ``UnsupportedOperationException``,
IIM:1375-1377); :func:`..operators.query.delete_documents` mirrors that as
the parity surface. This module is the engine's actual deletion path,
using the standard segmented-index design:

- **delete** appends a docId tombstone set (parquet) under the index dir
  and commits it to the manifest — O(|deleted|), segments untouched;
- **query** anti-filters against the tombstone union: declaratively via
  :func:`live` (broadcast ``left_anti``), or inside the distributed DAAT
  kernel via ``score_query_daat(..., deleted=deleted_array(...))`` — the
  kernel masks decoded postings before they are scored;
- **corpus statistics stay as-built until purge** (df/idf/avgdl do not
  shift when a doc is tombstoned) — the standard lazy-deletion semantics:
  deleted docs stop matching immediately, surviving docs' scores move only
  when :func:`purge_deletes` rewrites the segments;
- **purge** physically drops tombstoned postings: decode packed rows at
  posting granularity with position blobs kept as opaque byte slices
  (``decode_postings_packed``), broadcast anti-join the tombstones, and
  re-encode through the same salted hash-shuffle encoder as the build
  (``encode_segments``) into ONE new batch; stats are recomputed and the
  tombstones cleared. Compaction-grade cost — run it on the compaction
  cadence, not per delete.

Scale posture: tombstone sets are plain docId parquet; the query-side
filter is a broadcast anti-join / numpy-sorted-array mask (deletion sets
are purge-bounded, ≪ corpus — purge before they are not). Nothing here
shuffles raw postings except the purge rewrite itself, which shuffles the
same packed mini-block volume as a compaction.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.segments import (
    ManifestConflict,
    _release_rewrite_key,
    _reserve_rewrite_key,
    _segment_file_stats,
    batch_path,
    decode_docids,
    decode_postings,
    decode_postings_packed,
    load_segments,
    read_manifest,
    read_segment_dirs,
    update_manifest,
)

TOMBSTONE_DIR = "tombstones"


def _tombstone_path(index_dir: str, sid) -> str:
    """Tombstone-set dir re-rooted under ``index_dir`` (same rule as
    ``segments.batch_path``: never trust the manifest's absolute paths —
    a relocated index keeps stale ones)."""
    return os.path.join(index_dir, TOMBSTONE_DIR, f"set={sid}")


def add_tombstones(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame, id_col: str = "docId"
) -> dict:
    """Append one tombstone set (distinct docIds) and commit it to the
    manifest. Write-then-commit: a crash before the manifest flip leaves an
    orphan directory the next call overwrites, never a half-visible set."""
    m = read_manifest(index_dir)
    sets = m.get("tombstones") or []
    sid = max((s["id"] for s in sets), default=-1) + 1
    out = _tombstone_path(index_dir, sid)
    df = doc_ids.select(F.col(id_col).cast("long").alias("docId")).distinct()
    df.write.mode("overwrite").parquet(out)
    n = int(spark.read.parquet(out).count())

    def _commit(fresh: dict) -> None:
        live_sets = fresh.setdefault("tombstones", [])
        if any(s["id"] == sid for s in live_sets):
            # a concurrent add_tombstones took our set id — our parquet dir
            # was possibly overwritten by theirs; the caller must retry
            raise ManifestConflict(f"tombstone set {sid} already committed")
        live_sets.append(
            {"id": sid, "path": out, "ndocs": n, "created_at": time.time()}
        )

    m2 = update_manifest(index_dir, _commit)
    if m2.get("serving_cache"):
        # tombstones change no shards, only the generation — the attached
        # cache catches up metadata-only (see serving.attach_serving_cache)
        from .serving import maybe_refresh_attached

        maybe_refresh_attached(spark, index_dir, m2)
    return m2


def delete_by_keyword(
    spark: SparkSession, index_dir: str, keyword: str, analyzer: str = "porter"
) -> dict:
    """The reference's API shape (``deleteDocuments(keyword)``): the term's
    own postings locate the docIds — a pure index lookup with parquet term
    pushdown, no corpus scan."""
    from .query import analyze_query

    terms = analyze_query([keyword], analyzer)
    ids = (
        decode_postings(load_segments(spark, index_dir), terms)
        .select("docId")
        .distinct()
    )
    return add_tombstones(spark, index_dir, ids)


def delete_by_query(
    spark: SparkSession, index_dir: str, query: str, analyzer: str = "porter"
) -> dict:
    """Delete-by-query (the Elasticsearch ``_delete_by_query`` /
    Lucene ``IndexWriter.deleteDocuments(Query)`` shape): evaluate a
    boolean AND/OR/NOT query string against the index and tombstone every
    matching docId.

    The match is :func:`..operators.query.search_bool` — leaf terms seek
    via ``In`` pushdown, one collect_set agg, the tree as a codegen
    expression — so deletion cost is query cost + O(|matches|) tombstone
    write; segments are untouched until :func:`purge_deletes`. Purely
    negative queries are rejected by ``parse_bool``'s Lucene MUST_NOT rule
    (they would tombstone the whole corpus)."""
    from .query import bool_leaf_terms, parse_bool, search_bool

    tree = parse_bool(query, analyzer)
    segs = load_segments(spark, index_dir)
    # decode only the leaf terms' rows (In pushdown at the parquet scan);
    # search_bool's own postings_for filter is then a no-op
    decoded = decode_postings(segs, bool_leaf_terms(tree))
    # search_bool is already one row per docId; add_tombstones dedups again
    ids = search_bool(decoded, tree).select("docId")
    return add_tombstones(spark, index_dir, ids)


def load_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Union of all live tombstone sets (distinct), or None if none."""
    sets = read_manifest(index_dir).get("tombstones") or []
    if not sets:
        return None
    paths = [_tombstone_path(index_dir, s["id"]) for s in sets]
    return spark.read.parquet(*paths).distinct()


def deleted_array(spark: SparkSession, index_dir: str) -> np.ndarray | None:
    """Tombstones as a sorted int64 array for the DAAT kernel mask.

    Driver collect by design: deletion sets are purge-bounded and ship to
    executors via the kernel closure (wrap in ``sparkContext.broadcast`` and
    pass ``bc.value`` for multi-query reuse on a cluster)."""
    t = load_tombstones(spark, index_dir)
    if t is None:
        return None
    return np.sort(np.fromiter((r.docId for r in t.collect()), dtype=np.int64))


def live(df: DataFrame, tombstones: DataFrame | None, id_col: str = "docId") -> DataFrame:
    """Anti-filter any docId-keyed relation against the tombstones."""
    if tombstones is None:
        return df
    t = tombstones.select(F.col("docId").alias(id_col))
    return df.join(F.broadcast(t), id_col, "left_anti")


def purge_deletes(spark: SparkSession, index_dir: str) -> dict:
    """Physically rewrite all batches without tombstoned postings, then
    clear the tombstones. Commit order (crash-safe at every step, manifest
    is the source of truth): write new batch -> flip manifest -> drop old
    segment dirs and tombstone sets."""
    from ..operators.build import encode_segments
    from ..sources.segments import finalize_index

    m = read_manifest(index_dir)
    sets = m.get("tombstones") or []
    if not sets:
        return m
    tomb = spark.read.parquet(
        *[_tombstone_path(index_dir, s["id"]) for s in sets]
    ).distinct()

    old_keys = [k for k, b in m["batches"].items() if b.get("committed")]
    # re-rooted like load_segments — a relocated index's manifest keeps
    # stale absolute paths; honoring them here would merge stale data and
    # rmtree directories OUTSIDE the index
    old_paths = [batch_path(index_dir, k) for k in old_keys]
    heavy = sorted(
        {t for b in m["batches"].values() for t in b.get("heavy_terms", [])}
    )
    # read the OLD batch dirs explicitly, not the segments/ root: the new
    # batch is written under the same root while this plan is still lazy,
    # and the rewrite must never list its own output
    posts = decode_postings_packed(read_segment_dirs(spark, *old_paths))
    livep = posts.join(F.broadcast(tomb), "docId", "left_anti")
    packed = encode_segments(
        livep, m["num_segments"], heavy, m.get("n_salts", 8)
    )
    # reserved "m<N>" key under the manifest lock — same collision rules as
    # compact(): never share a batch dir with an in-flight writer
    new_id = _reserve_rewrite_key(index_dir)
    out = batch_path(index_dir, new_id)
    packed.write.mode("overwrite").parquet(out)

    # doc count: the source batches' own counts (which include docs with no
    # tokens) minus the tombstoned docs the source postings hold. A
    # tombstoned doc with no tokens has no postings, so it cannot be seen
    # here and stays counted. Postings and tokens are read on the driver
    # from the rewritten batch's files.
    gone = (
        decode_docids(read_segment_dirs(spark, *old_paths))
        .join(F.broadcast(tomb), "docId", "left_semi")
        .distinct()
        .count()
    )
    per_seg = _segment_file_stats(out)
    entry = {
        "committed": True,
        "path": out,
        "ndocs": sum(m["batches"][k]["ndocs"] for k in old_keys) - gone,
        "npostings": sum(r["post"] for r in per_seg),
        "total_tokens": sum(r["tok"] for r in per_seg),
        "heavy_terms": heavy,
        "purged_from": old_keys,
        "purged_tombstones": int(tomb.count()),
        "committed_at": time.time(),
    }

    def _commit(fresh: dict) -> None:
        committed_now = {
            k for k, b in fresh.get("batches", {}).items()
            if b.get("committed") and k != new_id
        }
        if committed_now != set(old_keys):
            # a batch landed (or vanished) while we rewrote: replacing the
            # batch map would erase it from the manifest — abort
            raise ManifestConflict(
                f"batches changed during purge: {sorted(committed_now ^ set(old_keys))}"
            )
        sets_now = {s2["id"] for s2 in (fresh.get("tombstones") or [])}
        if sets_now != {s2["id"] for s2 in sets}:
            raise ManifestConflict("tombstone sets changed during purge")
        fresh["batches"] = {new_id: entry}
        fresh["tombstones"] = []

    try:
        update_manifest(index_dir, _commit)
    except ManifestConflict:
        shutil.rmtree(out, ignore_errors=True)
        _release_rewrite_key(index_dir, new_id)
        raise
    for p in old_paths:
        if os.path.abspath(p) != os.path.abspath(out):
            shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(os.path.join(index_dir, TOMBSTONE_DIR), ignore_errors=True)
    return finalize_index(spark, index_dir)
