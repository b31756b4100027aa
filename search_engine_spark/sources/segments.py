"""Segment store: manifest, resumable batched build, decode, compaction.

Reference mapping:
- S8/S9/S10 segment writer/readers (``InvertedIndexManager.java:203-485``)
  -> packed parquet rows + predicate-pushdown reads (row-group min/max on the
  term-sorted files replace the manual header RID seeks).
- B2 ``flush`` (IIM:301-328) -> one committed *batch* of segments; the flush
  threshold becomes a docId-hash batch split (pure function of docId =>
  idempotent, resume-safe).
- B4/B5 ``mergeSegments``/``mergeAllSegments`` (IIM:583-687) ->
  :func:`compact`: decode + re-encode into one batch. No docID rebasing —
  docIDs are globally stable, so merge is a by-term repack.
- Resumability (north rule): every batch commit atomically rewrites
  ``manifest.json`` (tmp + rename) with lineage + per-batch stats; re-running
  :func:`build_index` skips committed batches byte-identically.

Layout::

    index_dir/
      manifest.json
      segments/batch=<i>/           term-sorted packed parquet
      term_stats/                   (term, df, cf, max_tf) parquet, each
                                    file term-sorted in bounded row groups
        _coverage.json              batches the dictionary sums (finalize_index)
      term_stats.lock               flock of the one dictionary writer
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time
import uuid
import weakref
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
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

from ..functions.codec import varbyte_decode
from ..functions.predicates import isin_expr
from ..operators.build import (
    BLOCK_SIZE,
    FIELD_SEP,
    SEGMENT_SCHEMA,
    _binary_array,
    _decode_packed,
    _undo_deltas,
    build_postings,
    build_segments_combined,
    encode_segments,
    heavy_terms,
    heavy_terms_sampled,
    term_stats_from_segments,
)


def blockwise_delta_decode(buf: bytes, block_size: int = BLOCK_SIZE) -> np.ndarray:
    """Decode one docid blob whose delta chain restarts every `block_size`
    values (the restart value is stored absolute): a whole segment row's
    blocks, all full but the last."""
    vals = varbyte_decode(buf)
    return _undo_deltas(vals, np.arange(0, len(vals), block_size))

MANIFEST = "manifest.json"

# packed segment rows as every batch dir stores them; reads name the schema
# so Spark launches no footer schema-inference job (:func:`read_segment_dirs`)
SEGMENT_DIR_SCHEMA = StructType(SEGMENT_SCHEMA.fields + [StructField("seg", IntegerType(), False)])

# the term dictionary's columns (``term_stats_from_segments``)
TERM_STATS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
        StructField("cf", LongType(), False),
        StructField("max_tf", IntegerType(), False),
    ]
)

# term_stats parquet row-group bound (bytes): with each file term-sorted,
# a df lookup of k terms reads at most k row groups per file at any
# vocabulary size (:func:`term_dfs`)
_TERM_STATS_ROW_GROUP_BYTES = 1 << 20

DECODED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("docId", LongType(), False),
        StructField("tf", IntegerType(), False),
        StructField("dl", IntegerType(), False),
    ]
)

DECODED_POS_SCHEMA = StructType(
    DECODED_SCHEMA.fields + [StructField("positions", ArrayType(IntegerType()), True)]
)


def read_manifest(index_dir: str) -> dict:
    p = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(p):
        return {"batches": {}, "finalized": False}
    with open(p) as f:
        return json.load(f)


def write_manifest(index_dir: str, m: dict) -> None:
    """Unconditional full-copy write (atomic rename). For SINGLE-WRITER
    situations (tests, fresh fixtures) only — concurrent writers must go
    through :func:`update_manifest`, which commits a delta over the current
    state instead of clobbering it with a stale copy."""
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(index_dir, MANIFEST))  # atomic commit


@contextmanager
def _flock(path: str):
    """Hold an exclusive flock on the file ``path`` (created if missing)
    for the ``with`` block."""
    with open(path, "w") as lf:
        try:
            import fcntl

            fcntl.flock(lf, fcntl.LOCK_EX)
        except ImportError:  # non-posix: atomic rename is the only guard
            pass
        yield


class ManifestConflict(RuntimeError):
    """A concurrent writer changed the manifest in a way that invalidates
    this commit (e.g. a compaction's source batch was already merged away).
    The failed writer's output directory is an orphan — invisible to
    readers (load_segments reads committed batches only) and overwritten by
    the next attempt."""


def update_manifest(index_dir: str, mutate) -> dict:
    """Commit a manifest DELTA atomically with respect to concurrent
    writers on this filesystem.

    Writers (batch commit, compaction, purge, tombstones, finalize) run
    minutes of Spark work between reading the manifest and committing, so
    writing back a stale full copy can lose a concurrent writer's update —
    e.g. a build committing batch N while auto_compact merges 0..k. This
    re-reads the CURRENT manifest under an exclusive flock on
    ``manifest.lock``, applies ``mutate(fresh)`` — which must express the
    commit as a delta over the fresh state and raises
    :class:`ManifestConflict` when its preconditions no longer hold — bumps
    the ``generation`` counter, and atomic-renames. The lock is held for
    the read+mutate+rename only (microseconds), never across Spark jobs.

    Scope: flock coordinates writers sharing one POSIX filesystem (all
    local/NFS deployments here). On an object store, replace the manifest
    with a real catalog commit (Iceberg-style optimistic swap) — the
    generation counter is exactly the token that swap would CAS on."""
    os.makedirs(index_dir, exist_ok=True)
    with _flock(os.path.join(index_dir, MANIFEST + ".lock")):
        m = read_manifest(index_dir)
        mutate(m)
        m["generation"] = int(m.get("generation", 0)) + 1
        tmp = os.path.join(index_dir, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(index_dir, MANIFEST))
    return m


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    analyzer: str = "porter",
    n_batches: int = 1,
    num_segments: int | None = None,
    heavy_threshold: int | None = None,
    n_salts: int = 8,
    with_positions: bool = True,
    heavy_sample_mod: int = 64,
    fields: dict[str, str] | None = None,
    membership: bool = False,
) -> dict:
    """Resumable batched index build. Returns the final manifest.

    ``membership`` stores EMPTY tf/dl blobs (tf is read as constant 1) —
    the right mode for trigram/substring indexes where tf==1 by
    construction: measured ~64% payload reduction on a dense-id trigram
    index (tools/index_size.py), and the build shuffle moves docid bytes
    only. Positions should be off too. Ranked (BM25) queries over a
    membership index see tf=1/dl=1 — membership semantics, documented.

    ``fields`` maps extra corpus columns to their analyzers; each field's
    tokens index as ``<col><U+001F><token>`` terms next to the content terms
    (fielded search — see ``build_segments_combined``). Field skew is
    detected with the same sampled pass as content skew, because
    low-cardinality field terms (``lang``=``en``) are the most skewed posting
    lists in the index.

    Each batch = reference ``flush`` unit: select corpus slice by
    ``xxhash64(docId) % n_batches``, build postings, salt heavy terms, one
    hash shuffle, packed parquet write, manifest commit.

    Sizing ``num_segments``: 2-4x the total core count, NOT 1x — many
    smaller merge kernels load-balance dynamically across waves and absorb
    stragglers (measured 2-3x faster than one reduce partition per core),
    and each partition's postings must fit a worker's memory anyway
    (~total_postings/num_segments). Default = spark.sql.shuffle.partitions,
    which should itself be sized 2-4x cores.
    """
    if num_segments is None:
        num_segments = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    m = read_manifest(index_dir)
    m.setdefault("batches", {})
    m.update(
        {
            "analyzer": analyzer,
            "codec": "delta_varbyte",
            "n_batches": n_batches,
            "num_segments": num_segments,
            "n_salts": n_salts,
            "with_positions": with_positions,
            "membership": membership,
            "fields": dict(sorted(fields.items())) if fields else {},
            "lineage": m.get("lineage", [])
            or [{"input": "corpus-df", "created_at": time.time()}],
        }
    )
    corpus = corpus.select("docId", "content", *sorted(fields or {}))
    for i in range(n_batches):
        key = str(i)
        if m["batches"].get(key, {}).get("committed"):
            continue  # resume: batch already durable
        sub = (
            corpus
            if n_batches == 1
            else corpus.where(F.pmod(F.xxhash64("docId"), F.lit(n_batches)) == i)
        )
        committed = build_one_batch(
            spark, sub, index_dir, key, m,
            analyzer=analyzer, num_segments=num_segments,
            heavy_threshold=heavy_threshold, n_salts=n_salts,
            with_positions=with_positions, heavy_sample_mod=heavy_sample_mod,
            fields=fields, membership=membership,
        )
        m["batches"] = committed.get("batches", m["batches"])
    return finalize_index(spark, index_dir)


def build_one_batch(
    spark: SparkSession,
    sub: DataFrame,
    index_dir: str,
    key: str,
    m: dict | None = None,
    analyzer: str = "porter",
    num_segments: int = 32,
    heavy_threshold: int | None = None,
    n_salts: int = 8,
    with_positions: bool = True,
    heavy_sample_mod: int = 64,
    fields: dict[str, str] | None = None,
    membership: bool = False,
) -> dict:
    """Build and atomically commit ONE batch under its own key/directory.

    Idempotent per key: a committed key is never rebuilt; a crashed attempt
    leaves an uncommitted directory that the retry overwrites.

    The commit runs one Spark job, the segment write (plus its own
    adaptive-execution sub-jobs, and the heavy-term sample when
    ``heavy_threshold`` is set). The write evaluates ``sub`` once and
    counts its docs in its result stage (``build_segments_combined``);
    everything else the batch entry records is read on the driver from the
    files just written (:func:`_segment_file_stats`), with no read-back
    job. The entry holds the batch's docId span (``docid_lo`` /
    ``docid_hi``); with it, the next :func:`finalize_index` can take its
    incremental path: merge this batch alone into the term dictionary on
    the driver, with no Spark job.
    """
    m = m if m is not None else read_manifest(index_dir)
    if m["batches"].get(key, {}).get("committed"):
        return m
    t0 = time.time()
    corpus_cols = sub.select("docId", "content", *sorted(fields or {}))
    # Skew stats from a deterministic docId-hash slice: neither a second full
    # tokenize pass nor a persist of raw postings — both dominate at scale.
    heavy: list[str] = (
        []
        if heavy_threshold is None
        else heavy_terms_sampled(
            corpus_cols.select("docId", "content"), analyzer, heavy_threshold,
            heavy_sample_mod,
        )
    )
    field_specs: dict[str, tuple[str, list[str]]] = {}
    for col, fanalyzer in sorted((fields or {}).items()):
        fheavy: list[str] = (
            []
            if heavy_threshold is None
            else heavy_terms_sampled(
                corpus_cols.select(
                    "docId", F.col(col).cast("string").alias("content")
                ),
                fanalyzer, heavy_threshold, heavy_sample_mod,
            )
        )
        field_specs[col] = (fanalyzer, fheavy)
    # map-side combine: the shuffle moves packed per-term mini-blocks
    seg, ndocs_obs = build_segments_combined(
        corpus_cols, analyzer, num_segments, heavy, n_salts, with_positions,
        fields=field_specs or None, membership=membership,
    )
    out = os.path.join(index_dir, "segments", f"batch={key}")
    seg.write.mode("overwrite").parquet(out)
    # the write is the commit's only job: the doc count was observed in its
    # result stage, and the corpus stats, the shuffle-skew metric (north
    # rule: per reduce partition, postings handled and bytes written) and
    # the batch's docId span (which finalize_index unions into the index's
    # span without reading any segment) come from the written files' footers
    # and small columns, read on the driver
    ndocs = int(ndocs_obs.get["ndocs"])
    per_seg = _segment_file_stats(out)
    lo, hi = _span_union([(r["lo"], r["hi"]) for r in per_seg])
    posts = [r["post"] for r in per_seg]
    npost = sum(posts)
    dt = time.time() - t0
    entry = {
        "committed": True,
        "path": out,
        "ndocs": ndocs,
        "npostings": npost,
        "total_tokens": sum(r["tok"] for r in per_seg),
        "heavy_terms": heavy,
        "docid_lo": lo,
        "docid_hi": hi,
        "build_sec": round(dt, 3),
        "metrics": {
            "docs_per_sec": round(ndocs / dt, 1) if dt else None,
            "postings_per_sec": round(npost / dt, 1) if dt else None,
            "segment_bytes": sum(r["bytes"] for r in per_seg),
            # skew ratio of the (term, salt) shuffle: max/mean postings per
            # reduce partition — 1.0 is perfectly even. Mean is over ALL
            # num_segments reduce partitions (empty ones count: few terms
            # hashing into few partitions is exactly the skew this measures).
            "shuffle_skew_ratio": round(max(posts) / (npost / num_segments), 3)
            if posts and npost
            else None,
            # per-reduce-partition lineage (north rule): which segment files
            # this batch committed and what each holds — the unit Spark's
            # task-commit protocol checkpoints, so a resume audit can tie
            # every parquet partition back to its batch + counts
            "per_segment": [
                {"seg": r["seg"], "postings": r["post"], "bytes": r["bytes"]}
                for r in per_seg
            ] if len(per_seg) <= 4096 else None,
        },
        "committed_at": time.time(),
    }
    # delta commit: merge the build config + THIS batch entry over the
    # CURRENT manifest — a concurrent compaction/purge/tombstone commit in
    # the window since our read_manifest survives (update_manifest holds
    # the flock for the read+merge+rename only)
    cfg_keys = ("analyzer", "codec", "n_batches", "num_segments", "n_salts",
                "with_positions", "fields", "lineage")
    cfg = {c: m[c] for c in cfg_keys if c in m}

    def _commit(fresh: dict) -> None:
        fresh.update(cfg)
        fresh.setdefault("batches", {})[key] = entry

    return update_manifest(index_dir, _commit)


def _segment_file_stats(batch_dir: str) -> list[dict]:
    """Per-segment stats of a written batch dir, read on the driver from
    its parquet files: ``post`` (Σ ndocs), ``tok`` (Σ sum_tf), ``bytes``
    (on-disk file bytes), and the docId span ``lo``/``hi`` from the
    footers' row-group min/max of ``min_docid`` and ``block_last_docid``.
    Only the small ``seg``/``ndocs``/``sum_tf`` columns are read, never a
    posting blob. Sorted by ``seg``; segments that wrote no rows are
    absent. A write task writes one reduce partition, so each file holds
    one ``seg``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    per: dict[int, dict] = {}
    for e in os.scandir(batch_dir):
        if e.name.startswith(("_", ".")) or not e.name.endswith(".parquet"):
            continue
        with pq.ParquetFile(e.path) as f:
            md = f.metadata
            if not md.num_rows:
                continue
            t = f.read(columns=["seg", "ndocs", "sum_tf"])
            paths = [md.schema.column(j).path for j in range(md.num_columns)]
            lo_j = paths.index("min_docid")
            hi_j = next(j for j, p in enumerate(paths) if p.startswith("block_last_docid."))
            rgs = [md.row_group(i) for i in range(md.num_row_groups)]
            r = per.setdefault(int(t["seg"][0].as_py()),
                               {"post": 0, "tok": 0, "bytes": 0, "lo": None, "hi": None})
            r["post"] += int(pc.sum(t["ndocs"]).as_py())
            r["tok"] += int(pc.sum(t["sum_tf"]).as_py())
            r["bytes"] += e.stat().st_size
            r["lo"], r["hi"] = _span_union(
                [(r["lo"], r["hi"])]
                + [(g.column(lo_j).statistics.min, g.column(hi_j).statistics.max) for g in rgs])
    return [{"seg": k, **per[k]} for k in sorted(per)]


# the dictionary's coverage record: which batches (by commit timestamp) its
# rows sum, with their docId span and per-field token sums. It sits inside
# term_stats/, where the leading underscore hides it from parquet readers.
# Dictionary writers serialize on the lock file beside the dictionary dir.
_COVERAGE = "_coverage.json"
_DICT_LOCK = "term_stats.lock"
_TERM_COLS = [f.name for f in TERM_STATS_SCHEMA.fields]


def finalize_index(spark: SparkSession, index_dir: str) -> dict:
    """Bring the term dictionary (``term_stats``), the docId span and the
    corpus stats up to the committed batches; idempotent.

    The dictionary is updated by one of two paths, chosen by what is on
    disk. Its coverage record (``term_stats/_coverage.json``) lists the
    batches, with their ``committed_at``, whose rows it sums:

    - **incremental** (an additive commit): every covered batch is still
      committed with the same ``committed_at`` and every new batch
      recorded its docId span (``build_one_batch`` does). The new
      batches' ``(term, ndocs, sum_tf, max_tf)`` are read with pyarrow and
      merged into the dictionary on the driver (df and cf summed, max_tf
      maxed), which is rewritten term-sorted in bounded row groups; span
      and per-field token sums add the new batches' own. No Spark job
      runs, and a finalize with no new batch rewrites nothing.
    - **full**: a first build, compaction, purge, or an index finalized
      before coverage records existed. The dictionary is recomputed from
      every segment with Spark. The span is the union of the batch
      entries' spans when every entry has one, else a segment agg.

    One dictionary writer runs at a time: the whole update holds a flock on
    ``term_stats.lock``. The coverage record is removed before the
    dictionary is written and written after it, so a crash in between
    sends the next finalize to the full path instead of double-counting.

    Corpus sums come from the manifest read INSIDE the locked manifest
    commit, so they always match the committed batch set; the dictionary
    and span cover the batches committed when the dictionary lock was
    taken — if a concurrent writer lands in that window, its own trailing
    finalize_index (every writer ends with one) adds its batch."""
    stats_dir = os.path.join(index_dir, "term_stats")
    os.makedirs(index_dir, exist_ok=True)
    with _flock(os.path.join(index_dir, _DICT_LOCK)):
        m = read_manifest(index_dir)
        live = {k: b for k, b in m.get("batches", {}).items() if b.get("committed")}
        fields = m.get("fields") or {}
        cov = _read_coverage(stats_dir)
        new = _new_batches(live, cov)
        if new is None:
            cov = _rebuild_dictionary(spark, index_dir, stats_dir, live, fields)
        elif new:
            cov = _merge_into_dictionary(index_dir, stats_dir, live, cov, new, fields)
        m = update_manifest(index_dir, lambda fresh: _commit_stats(fresh, cov))
    if m.get("serving_cache"):
        # opt-in commit hook (operators.serving.attach_serving_cache): keep
        # the attached serving cache at the committed generation so the
        # first post-commit workload never pays a cold bucketize or a
        # ServingCacheStale round-trip
        from ..operators.serving import maybe_refresh_attached

        maybe_refresh_attached(spark, index_dir, m)
    return m


def _commit_stats(fresh: dict, cov: dict) -> None:
    """Manifest delta of :func:`finalize_index`: corpus sums over the
    committed batches, span and field token sums from the dictionary's
    coverage record ``cov``."""
    bs = [b for b in fresh.get("batches", {}).values() if b.get("committed")]
    n_docs = sum(b["ndocs"] for b in bs)
    total_tokens = sum(b["total_tokens"] for b in bs)
    field_tokens = cov["field_tokens"]
    fresh["stats"] = {
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        "npostings": sum(b["npostings"] for b in bs),
        "docid_lo": cov["docid_lo"],
        "docid_hi": cov["docid_hi"],
    }
    if field_tokens:
        fresh["stats"]["field_tokens"] = field_tokens
        if n_docs:
            # per-field BM25 uses the FIELD's avgdl, not the global mix;
            # content tokens = total − Σ field tokens
            content_tokens = total_tokens - sum(field_tokens.values())
            fresh["stats"]["avgdl_by_field"] = {
                "": content_tokens / n_docs,
                **{f: tok / n_docs for f, tok in sorted(field_tokens.items())},
            }
    fresh["finalized"] = True


def _new_batches(live: dict, cov: dict | None) -> list[str] | None:
    """Keys of the committed batches the dictionary does not cover yet, or
    None when it must be recomputed from every segment (see the two paths
    of :func:`finalize_index`)."""
    if cov is None:
        return None
    if any(live.get(k, {}).get("committed_at") != at for k, at in cov["batches"].items()):
        return None  # a covered batch was compacted, purged or re-committed
    new = sorted(set(live) - set(cov["batches"]))
    if any("docid_lo" not in live[k] for k in new):
        return None
    return new


def _rebuild_dictionary(spark: SparkSession, index_dir: str, stats_dir: str,
                        live: dict, fields: dict) -> dict:
    """The full path: recompute the dictionary from every committed
    segment with Spark; returns its coverage record."""
    _clear_coverage(stats_dir)
    paths = [batch_path(index_dir, k) for k in sorted(live)]
    segs = read_segment_dirs(spark, *paths) if paths else load_segments(spark, index_dir)
    # a sorted term dictionary: the sort runs inside the write task (no
    # extra job), and bounded row groups give each file disjoint term
    # ranges that the driver-side lookup (term_dfs) prunes by min/max
    (
        term_stats_from_segments(segs)
        .coalesce(4)
        .sortWithinPartitions("term")
        .write.option("parquet.block.size", _TERM_STATS_ROW_GROUP_BYTES)
        .mode("overwrite")
        .parquet(stats_dir)
    )
    # global docId bounds: lets the DAAT bucketizer skip its span-agg job
    # at query time (rank._bucketize_segments docid_span) — docIds are
    # 63-bit hashes, so the span is not derivable from n_docs
    if live and all("docid_lo" in b for b in live.values()):
        lo, hi = _span_union([(b["docid_lo"], b["docid_hi"]) for b in live.values()])
    else:
        span = segs.agg(
            F.min("min_docid").alias("lo"),
            F.max(F.element_at("block_last_docid", -1)).alias("hi"),
        ).collect()[0]
        lo, hi = _span_union([(span["lo"], span["hi"])])
    # fielded index: per-field token sums = Σ cf over each field's terms,
    # read on the driver from the dictionary just written; its files are
    # term-sorted, so row groups outside the fields' term ranges are skipped
    field_tokens: dict[str, int] = {}
    if fields:
        import pyarrow.parquet as pq

        ranges = [[("term", ">=", f + FIELD_SEP), ("term", "<", f + chr(ord(FIELD_SEP) + 1))]
                  for f in sorted(fields)]
        field_tokens = _field_tokens(
            pq.read_table(stats_dir, columns=["term", "cf"], filters=ranges), fields)
    cov = {
        "batches": {k: b.get("committed_at") for k, b in sorted(live.items())},
        "docid_lo": lo,
        "docid_hi": hi,
        "field_tokens": field_tokens,
    }
    if live:  # a manifest-less raw segments/ read covers no batch
        _write_coverage(stats_dir, cov)
    return cov


def _merge_into_dictionary(index_dir: str, stats_dir: str, live: dict, cov: dict,
                           new: list[str], fields: dict) -> dict:
    """The incremental path: merge the new batches' packed rows into the
    dictionary on the driver (pyarrow, no Spark job); returns the new
    coverage record."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([(c, t) for c, t in zip(
        _TERM_COLS, (pa.string(), pa.int64(), pa.int64(), pa.int32()))])
    delta = pa.concat_tables([
        pq.read_table(batch_path(index_dir, k), columns=["term", "ndocs", "sum_tf", "max_tf"])
        .rename_columns(_TERM_COLS).cast(schema)
        for k in new
    ])
    old = pq.read_table(stats_dir, columns=_TERM_COLS).cast(schema)
    merged = pa.concat_tables([old, delta]).group_by("term").aggregate(
        [("df", "sum"), ("cf", "sum"), ("max_tf", "max")])
    # by name: the position of the group key among the aggregate's output
    # columns differs across pyarrow versions
    merged = (merged.select(["term", "df_sum", "cf_sum", "max_tf_max"])
              .rename_columns(_TERM_COLS).cast(schema).sort_by("term"))
    field_tokens = dict(cov["field_tokens"])
    for f, tok in _field_tokens(delta, fields).items():
        field_tokens[f] = field_tokens.get(f, 0) + tok
    lo, hi = _span_union([(cov["docid_lo"], cov["docid_hi"])]
                         + [(live[k]["docid_lo"], live[k]["docid_hi"]) for k in new])
    _clear_coverage(stats_dir)
    _write_dictionary(stats_dir, merged)
    cov = {
        **cov,
        "batches": {k: b.get("committed_at") for k, b in sorted(live.items())},
        "docid_lo": lo,
        "docid_hi": hi,
        "field_tokens": field_tokens,
    }
    _write_coverage(stats_dir, cov)
    return cov


def _field_tokens(rows, fields: dict) -> dict[str, int]:
    """{field: Σ cf} over the ``<field><FIELD_SEP><token>`` terms of the
    pyarrow (term, cf) table ``rows``, for the index's ``fields``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not fields:
        return {}
    rows = rows.filter(pc.match_substring(rows["term"], FIELD_SEP))
    pref = pc.list_element(pc.split_pattern(rows["term"], FIELD_SEP, max_splits=1), 0)
    g = pa.table({"f": pref, "cf": rows["cf"]}).group_by("f").aggregate([("cf", "sum")])
    return {f: int(tok) for f, tok in zip(g["f"].to_pylist(), g["cf_sum"].to_pylist())
            if f in fields}


def _write_dictionary(stats_dir: str, table) -> None:
    """Replace the dictionary's files by one parquet file of the
    term-sorted pyarrow ``table``, in row groups of about
    ``_TERM_STATS_ROW_GROUP_BYTES`` (the bound Spark's write gets as
    ``parquet.block.size``). Dictionary encoding on the numeric columns
    only (terms are unique) and no embedded Arrow schema keep the file no
    larger than Spark's for the same rows."""
    import pyarrow.parquet as pq

    rows = max(1, _TERM_STATS_ROW_GROUP_BYTES * table.num_rows // max(table.nbytes, 1))
    name = f"part-00000-{uuid.uuid4()}.parquet"
    tmp = os.path.join(stats_dir, "." + name)  # hidden until renamed
    pq.write_table(table, tmp, row_group_size=rows, use_dictionary=_TERM_COLS[1:],
                   store_schema=False)
    for entry in os.scandir(stats_dir):
        if entry.path == tmp:
            continue
        if entry.is_dir():
            shutil.rmtree(entry.path)
        else:
            os.remove(entry.path)
    os.replace(tmp, os.path.join(stats_dir, name))


def _read_coverage(stats_dir: str) -> dict | None:
    try:
        with open(os.path.join(stats_dir, _COVERAGE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_coverage(stats_dir: str, cov: dict) -> None:
    tmp = os.path.join(stats_dir, _COVERAGE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(cov, f, sort_keys=True)
    os.replace(tmp, os.path.join(stats_dir, _COVERAGE))


def _clear_coverage(stats_dir: str) -> None:
    try:
        os.remove(os.path.join(stats_dir, _COVERAGE))
    except FileNotFoundError:
        pass


def _span_union(spans) -> tuple[int | None, int | None]:
    """(min lo, max hi) over (lo, hi) pairs, skipping None (an empty batch)."""
    los = [int(lo) for lo, _ in spans if lo is not None]
    his = [int(hi) for _, hi in spans if hi is not None]
    return (min(los) if los else None, max(his) if his else None)


def merge_all_batches(spark: SparkSession, index_dir: str) -> dict:
    """B5 ``mergeAllSegments`` analog (IIM:679-687): compact every committed
    batch into one. The reference's pairwise halving exists only because its
    merge is a 2-way stream; ours regroups by term, so one k-way pass."""
    m = read_manifest(index_dir)
    batches = sorted(
        (k for k, b in m["batches"].items() if b.get("committed")),
        key=str,
    )
    if len(batches) <= 1:
        return m
    return compact(spark, index_dir, batches)


def _reserve_rewrite_key(index_dir: str) -> str:
    """Claim the next ``m<N>`` batch key for a compaction/purge output —
    a locked manifest commit, so two concurrent rewrites (or a rewrite and
    anything else) can never write the same ``segments/batch=…`` dir."""
    got: list[str] = []

    def _mut(fresh: dict) -> None:
        cur = fresh.setdefault("batches", {})
        n = max(
            (int(k[1:]) for k in cur if k.startswith("m") and k[1:].isdigit()),
            default=-1,
        ) + 1
        key = f"m{n}"
        cur[key] = {"committed": False, "reserved_at": time.time()}
        got.append(key)

    update_manifest(index_dir, _mut)
    return got[0]


def _release_rewrite_key(index_dir: str, key: str) -> None:
    """Drop a reservation whose rewrite aborted (best-effort; a dangling
    uncommitted entry is invisible to readers anyway)."""

    def _mut(fresh: dict) -> None:
        e = fresh.get("batches", {}).get(key)
        if e is not None and not e.get("committed"):
            del fresh["batches"][key]

    update_manifest(index_dir, _mut)


def batch_path(index_dir: str, key) -> str:
    """On-disk dir of a committed batch, re-rooted under ``index_dir``.

    Every reader/rewriter must resolve batch dirs through this instead of
    the manifest's recorded absolute ``path``: a relocated (copied/moved)
    index keeps stale absolute paths in its manifest, and honoring them
    would read — or worse, rmtree — data OUTSIDE the index (and silently
    merge stale data if the old location still exists)."""
    return os.path.join(index_dir, "segments", f"batch={key}")


def load_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    """Packed segment rows of every COMMITTED batch.

    Reads exactly the batch dirs the manifest lists instead of globbing
    ``segments/``: a crash between a batch/compaction/purge write and its
    manifest flip leaves an orphan ``batch=N`` dir on disk, and a glob
    would read it ALONGSIDE the batches it was meant to replace —
    double-counted postings, doubled scores. The manifest is the source
    of truth; orphans are invisible here and the next attempt of the same
    operation overwrites them (every writer uses mode("overwrite") on its
    own batch id). Batch paths are re-rooted under ``index_dir`` so a
    relocated index keeps working. Falls back to the directory read only
    when no manifest exists (raw segment dirs in unit tests)."""
    m = read_manifest(index_dir)
    paths = [
        batch_path(index_dir, k)
        for k, b in sorted(m.get("batches", {}).items())
        if b.get("committed")
    ]
    if paths:
        return read_segment_dirs(spark, *paths)
    return read_segment_dirs(spark, os.path.join(index_dir, "segments"))


def read_segment_dirs(spark: SparkSession, *paths: str) -> DataFrame:
    """Packed segment rows of the given batch dirs, read with their known
    schema (:data:`SEGMENT_DIR_SCHEMA`): Spark then runs no footer
    schema-inference job. Every read of segment dirs goes through here."""
    return spark.read.schema(SEGMENT_DIR_SCHEMA).parquet(*paths)


def load_term_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """The term dictionary as a plain parquet scan, read with its known
    schema (no footer schema-inference job)."""
    return spark.read.schema(TERM_STATS_SCHEMA).parquet(os.path.join(index_dir, "term_stats"))


def load_term_stats_pdf(index_dir: str) -> pd.DataFrame:
    """Term stats as a driver-local pandas frame (pyarrow read, no Spark
    job). Exact-term df lookups need no pandas frame: :func:`term_dfs` reads
    the :func:`load_term_stats` scan on the driver too. Load this where a
    caller needs the vocabulary size, the workload-coverage check of
    ``rank._candidate_scan``. Holds the whole vocabulary in driver RAM:
    ~24 bytes/term + strings, so fine to ~10^8 terms."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(index_dir, "term_stats")).to_pandas()


# Per term-stats Spark frame: the local paths of its dictionary files (None
# when the frame is not a bare parquet scan of ``file:`` storage), listed
# once, and each file's footer with its row groups' term ranges, keyed by
# (path, st_size, st_mtime_ns). Entries go with their frame.
_DICT_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def term_dfs(term_stats, terms: list[str]) -> dict[str, int]:
    """{term: df} for those of ``terms`` in the dictionary — the one
    exact-term df lookup (rank idf and plan sizing, parser cost model,
    trigram probe, more-like-this seeds). ``term_stats`` may be:

    - the plain parquet scan :func:`load_term_stats` returns: read on the
      driver with pyarrow, no Spark job. The frame's files (its cached
      ``inputFiles()`` listing) and each file's footer and row-group term
      ranges are read once per frame; a lookup then stats each file, and
      reads only the row groups whose term min/max range can hold a wanted
      term. A file rewritten in place (new size or mtime) has its footer
      read afresh; a deleted one raises ``FileNotFoundError``;
    - a pandas frame (:func:`load_term_stats_pdf`): a local ``isin``;
    - any other Spark frame (filtered or derived, such as federation's
      ``global_term_stats``, or not on ``file:`` storage): one filtered
      ``collect()`` job."""
    want = sorted(set(terms))
    if not want:
        return {}
    if isinstance(term_stats, pd.DataFrame):
        sub = term_stats[term_stats["term"].isin(want)]
        return {t: int(d) for t, d in zip(sub["term"], sub["df"])}
    cached = _DICT_CACHE.get(term_stats)
    if cached is None:
        cached = _DICT_CACHE[term_stats] = (_plain_parquet_paths(term_stats), {})
    paths, footers = cached
    if paths is None:
        rows = term_stats.where(isin_expr("term", want)).select("term", "df").collect()
        return {r.term: int(r.df) for r in rows}
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for path in paths:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
        footer = footers.get(key)
        if footer is None:
            with pq.ParquetFile(path) as f:
                footer = footers[key] = (f.metadata, _term_ranges(f))
        groups = _holding(footer[1], want)
        if groups:
            with pq.ParquetFile(path, metadata=footer[0]) as f:
                t = f.read_row_groups(groups, columns=["term", "df"])
            t = t.filter(pc.is_in(t["term"], value_set=pa.array(want)))
            out.update(zip(t["term"].to_pylist(), t["df"].to_pylist()))
    return out


def _plain_parquet_paths(frame: DataFrame) -> list[str] | None:
    """Local paths of the files of ``frame`` when it is a bare unpartitioned
    parquet scan of ``file:`` storage, else None. Reads only the driver's
    analyzed plan and the scan's cached file listing: no Spark job."""
    plan = frame._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().shortName() != "parquet"
        or rel.partitionSchema().length()
    ):
        return None
    uris = [urlparse(u) for u in frame.inputFiles()]
    if any(u.scheme != "file" for u in uris):
        return None
    return [unquote(u.path) for u in uris]


def _term_ranges(f) -> list[tuple[str, str] | None]:
    """(min, max) term of each row group of the parquet file ``f``; None for
    a group without statistics."""
    col = f.schema_arrow.get_field_index("term")
    out = []
    for i in range(f.metadata.num_row_groups):
        st = f.metadata.row_group(i).column(col).statistics
        out.append((st.min, st.max) if st is not None and st.has_min_max else None)
    return out


def _holding(ranges: list[tuple[str, str] | None], want: list[str]) -> list[int]:
    """Row groups whose term range holds a term of the sorted ``want`` (a
    group without statistics is kept). On a term-sorted file at most
    len(want) groups survive; an unsorted file written before
    :func:`finalize_index` sorted it keeps most of them."""
    keep = []
    for i, r in enumerate(ranges):
        if r is not None:
            j = bisect.bisect_left(want, r[0])
            if j == len(want) or want[j] > r[1]:
                continue
        keep.append(i)
    return keep


def _term_row_groups(f, want: list[str]) -> list[int]:
    """Row groups of the parquet file ``f`` that :func:`term_dfs` reads for
    the sorted ``want``."""
    return _holding(_term_ranges(f), want)


def docid_span(index_dir: str) -> tuple[int, int] | None:
    """(lo, hi) global docId bounds from the manifest, or None for indexes
    finalized before the bounds were recorded (callers fall back to the
    span-agg job inside the bucketizer)."""
    stats = read_manifest(index_dir).get("stats", {})
    lo, hi = stats.get("docid_lo"), stats.get("docid_hi")
    if lo is None or hi is None:
        return None
    return int(lo), int(hi)


def _decoded(batch, d: dict, columns: list[str]):
    """One output RecordBatch of a segment decode kernel: the ``columns``
    (term, docId, tf, dl, positions, posbin) of every decoded posting. Rows
    stored without positions read null positions."""
    import pyarrow as pa
    import pyarrow.compute as pc

    npost = len(d["docid"])
    counts = np.diff(d["rows"])

    def column(name):
        if name == "term":
            rows = np.repeat(np.arange(batch.num_rows), counts)
            return batch.column("term").take(pa.array(rows))
        if name == "docId":
            return pa.array(d["docid"])
        if name in ("tf", "dl"):
            return pa.array(d[name].astype(np.int32))
        if d["pos_data"] is None:
            return pa.nulls(npost, pa.binary() if name == "posbin" else pa.list_(pa.int32()))
        null = pa.array(np.repeat(d["pos_null"], counts))
        if name == "positions":
            return pa.ListArray.from_arrays(
                pa.array(d["pos_offs"].astype(np.int32)),
                pa.array(d["positions"].astype(np.int32)), mask=null)
        ends = np.append(d["pos_start"], d["pos_start"][-1] + d["pos_len"][-1])
        blobs = _binary_array(d["pos_data"], ends, 0, npost)
        return pc.if_else(null, pa.nulls(npost, pa.binary()), blobs)

    return pa.RecordBatch.from_arrays([column(c) for c in columns], names=columns)


def _decode_kernel(columns: list[str], positions: str | None = None):
    """A ``mapInArrow`` kernel: every input batch of packed segment rows ->
    one batch of decoded postings, through :func:`build._decode_packed`."""

    def kernel(batches):
        for b in batches:
            if b.num_rows:
                yield _decoded(b, _decode_packed(b, positions), columns)

    return kernel


PACKED_POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("docId", LongType(), False),
        StructField("tf", IntegerType(), False),
        StructField("dl", IntegerType(), False),
        StructField("posbin", BinaryType(), True),
    ]
)


def decode_postings_packed(segments: DataFrame) -> DataFrame:
    """Decode packed rows to posting granularity WITHOUT decoding position
    blobs (each posting's blob is a byte slice of the row's). This is the
    compaction input shape: merge = regroup by term + byte-level blob
    concat, no int decode."""
    cols = segments.select("term", "docids", "tfs", "dls", "block_docid_off",
                           "poslens", "positions")
    return cols.mapInArrow(
        _decode_kernel(PACKED_POSTINGS_SCHEMA.fieldNames(), "bytes"), PACKED_POSTINGS_SCHEMA
    )


def decode_postings(
    segments: DataFrame, terms: list[str] | None = None, with_positions: bool = False
) -> DataFrame:
    """S9/S10: packed rows -> (term, docId, tf, dl[, positions]).

    ``terms`` filter is pushed to the parquet scan (`IN` on the term-sorted
    files => row-group skipping — the RID-seek analog, IIM:435-485).
    Salted rows for one term simply union; each row's docIds stay sorted.
    """
    df = segments
    if terms is not None:
        df = df.where(isin_expr("term", list(terms)))
    cols = ["term", "docids", "tfs", "dls", "block_docid_off"] + (
        ["poslens", "positions"] if with_positions else []
    )
    schema = DECODED_POS_SCHEMA if with_positions else DECODED_SCHEMA
    kernel = _decode_kernel(schema.fieldNames(), "values" if with_positions else None)
    return df.select(*cols).mapInArrow(kernel, schema)


def decode_docids(segments: DataFrame) -> DataFrame:
    """DocId-only decode: (docId) rows from the packed ``docids`` blobs.

    For membership-style queries (prefix search, boolean sets over very
    heavy terms) the tf/dl/position columns are dead weight — this path
    projects only ``docids`` and its block offsets, so parquet column
    pruning keeps every other blob on disk (ReadSchema shows the two
    columns) and the kernel runs one delta decode per batch."""
    return segments.select("docids", "block_docid_off").mapInArrow(
        _decode_kernel(["docId"]), "docId long"
    )


def decode_term_docids(segments: DataFrame, terms: list[str]) -> DataFrame:
    """(term, docId) membership decode for count-matching set queries
    (boolean AND over heavy terms, trigram substring intersection): the
    ``terms`` filter pushes to the term-sorted parquet scan like
    :func:`decode_postings`, but the projection reads only ``term``,
    ``docids`` and its block offsets — tf/dl/position blobs stay on disk
    entirely. On a trigram index (df ~ n_docs per term) this halves the
    bytes read per probe term vs the full posting decode."""
    df = segments.where(isin_expr("term", list(terms)))
    return df.select("term", "docids", "block_docid_off").mapInArrow(
        _decode_kernel(["term", "docId"]), "term string, docId long"
    )


def segment_dict(spark: SparkSession, index_dir: str, positional: bool = False) -> dict:
    """Q13 test oracle (IIM:1402-1471): whole index -> python dicts."""
    rows = decode_postings(load_segments(spark, index_dir), None, positional).collect()
    if positional:
        return {
            (r.term, int(r.docId)): [int(p) for p in r.positions]
            for r in rows
        }
    return _group_terms(rows)


def _group_terms(rows) -> dict:
    out: dict[str, list[int]] = {}
    for r in rows:
        out.setdefault(r.term, []).append(int(r.docId))
    return {t: sorted(v) for t, v in out.items()}


def compact(spark: SparkSession, index_dir: str, batches: list[int]) -> dict:
    """B4/B5 merge: repack the given batches into one new batch.

    DocIDs are global => merge is a by-term regroup (the reference's
    docID-rebase, IIM:616-620, is unnecessary). The shuffle moves PACKED
    rows — compressed byte columns, one row per (term, salt) per source
    batch — and the reduce kernel decodes whole Arrow buffers vectorized
    (``_compact_merge_encoder``); per-posting rows never exist, so merging
    a 100 TB index shuffles roughly its compressed size. Rows keep their
    original salt, so heavy terms stay fanned out across reducers.

    Commit order: write new batch, flip manifest, then drop old dirs —
    crash-safe at every step (manifest is the source of truth).
    """
    from ..operators.build import _compact_merge_encoder

    m = read_manifest(index_dir)
    batches = [str(b) for b in batches]
    # Reserve an output key in the "m<N>" namespace UNDER THE MANIFEST LOCK
    # before writing anything: build batches use caller-fixed keys ("0..n",
    # "stream-N"), so a numeric max+1 here could collide with an IN-FLIGHT
    # build batch's directory and the two writers would overwrite each
    # other's parquet before either commits. A reserved (uncommitted) entry
    # is invisible to readers; a crash leaves it dangling, which is
    # harmless — new reservations take the next index.
    new_id = _reserve_rewrite_key(index_dir)
    # re-rooted like load_segments — NEVER the manifest's absolute paths
    # (a relocated index would read stale data / rmtree outside the index)
    srcs = [batch_path(index_dir, b) for b in batches]
    segs = read_segment_dirs(spark, *srcs)
    heavy = sorted({t for b in batches for t in m["batches"][str(b)].get("heavy_terms", [])})
    out = batch_path(index_dir, new_id)
    packed = (
        segs.select("term", "salt", "docids", "tfs", "dls", "block_docid_off",
                    "poslens", "positions")
        .repartition(m["num_segments"], "term", "salt")
        .mapInArrow(_compact_merge_encoder, SEGMENT_SCHEMA)
        .withColumn("seg", F.spark_partition_id())
    )
    packed.write.mode("overwrite").parquet(out)
    merged = {
        "committed": True,
        "path": out,
        "ndocs": sum(m["batches"][str(b)]["ndocs"] for b in batches),
        "npostings": sum(m["batches"][str(b)]["npostings"] for b in batches),
        "total_tokens": sum(m["batches"][str(b)]["total_tokens"] for b in batches),
        "heavy_terms": heavy,
        "merged_from": list(batches),
        "committed_at": time.time(),
    }
    # a by-term repack keeps every posting, so the span is the sources'
    if all("docid_lo" in m["batches"][b] for b in batches):
        merged["docid_lo"], merged["docid_hi"] = _span_union(
            [(m["batches"][b]["docid_lo"], m["batches"][b]["docid_hi"]) for b in batches])
    def _commit(fresh: dict) -> None:
        cur = fresh.setdefault("batches", {})
        gone = [b for b in batches if not cur.get(b, {}).get("committed")]
        if gone:
            # a concurrent compact/purge took our sources: committing
            # would drop their output's postings or double ours
            raise ManifestConflict(f"compaction sources changed: gone={gone}")
        cur[new_id] = merged
        for b in batches:
            del cur[b]

    try:
        update_manifest(index_dir, _commit)
    except ManifestConflict:
        shutil.rmtree(out, ignore_errors=True)  # orphan output, drop it
        _release_rewrite_key(index_dir, new_id)
        raise
    for s in srcs:
        shutil.rmtree(s, ignore_errors=True)
    return finalize_index(spark, index_dir)


def plan_compaction_for(
    manifest: dict,
    merge_threshold: int = 8,
    tier_ratio: float = 4.0,
    min_run: int = 2,
) -> list[str]:
    """LSM-style compaction policy — WHICH batches :func:`compact` should
    merge next (empty list = nothing to do). Pure manifest computation.

    Reference parity: InvertedIndexManager auto-merges ALL segments once
    their count reaches DEFAULT_MERGE_THRESHOLD (IIM:60,68) — mirrored
    here when the committed batch count reaches ``merge_threshold``.
    Below the threshold, merging everything on every trigger is quadratic
    total I/O at 100 TB, so the policy is SIZE-TIERED instead (the
    standard LSM compromise): among batches sorted by posting count, the
    first run of >= ``min_run`` batches whose sizes stay within
    ``tier_ratio`` of the run's smallest merges next — each posting is
    then rewritten O(log_ratio n) times over the index's lifetime.

    Sizes use ``npostings`` (present on both built and merged batches;
    byte metrics are per-build diagnostics)."""
    batches = [
        (k, int(v.get("npostings", 0)))
        for k, v in manifest.get("batches", {}).items()
        if v.get("committed")
    ]
    if len(batches) < max(min_run, 2):
        return []
    sized = sorted(batches, key=lambda kv: (kv[1], kv[0]))
    if len(sized) >= merge_threshold:
        return [k for k, _ in sized]  # reference semantics: merge ALL
    for i in range(len(sized) - min_run + 1):
        lo = max(sized[i][1], 1)
        j = i + 1
        while j < len(sized) and sized[j][1] <= lo * tier_ratio:
            j += 1
        if j - i >= min_run:
            return [k for k, _ in sized[i:j]]
    return []


def plan_compaction(index_dir: str, **policy) -> list[str]:
    """:func:`plan_compaction_for` over the on-disk manifest."""
    return plan_compaction_for(read_manifest(index_dir), **policy)


def auto_compact(
    spark: SparkSession, index_dir: str, max_rounds: int = 8, **policy
) -> dict:
    """Apply :func:`plan_compaction` repeatedly until the policy is
    satisfied (bounded by ``max_rounds``). Returns the final manifest.
    Each round is one :func:`compact` job — crash-safe per its commit
    order, so an interrupted auto-compaction resumes exactly where it
    stopped."""
    m = read_manifest(index_dir)
    for _ in range(max_rounds):
        plan = plan_compaction_for(m, **policy)
        if not plan:
            break
        try:
            compact(spark, index_dir, plan)
        except ManifestConflict:
            pass  # a concurrent writer took our sources — re-plan fresh
        m = read_manifest(index_dir)
    return m
