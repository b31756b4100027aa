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
      term_stats/                   (term, df, cf, max_tf) parquet
"""

from __future__ import annotations

import json
import os
import time

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

from ..functions.codec import delta_varbyte_decode, varbyte_decode
from ..functions.predicates import isin_expr
from ..operators.build import BLOCK_SIZE


def blockwise_delta_decode(buf: bytes, block_size: int = BLOCK_SIZE) -> np.ndarray:
    """Decode a docid column whose delta chain restarts every `block_size`
    values (the restart value is stored absolute)."""
    vals = varbyte_decode(buf)
    n = len(vals)
    if n == 0:
        return vals
    c = np.cumsum(vals)
    bstarts = np.arange(0, n, block_size)
    # amount to subtract inside block i = cumsum just before the block
    base_per_block = np.concatenate(([np.int64(0)], c[bstarts[1:] - 1]))
    lens = np.diff(np.append(bstarts, n))
    return c - np.repeat(base_per_block, lens)
from ..operators.build import (
    build_postings,
    build_segments_combined,
    encode_segments,
    heavy_terms,
    heavy_terms_sampled,
    term_stats_from_segments,
)

MANIFEST = "manifest.json"

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
    lock_p = os.path.join(index_dir, MANIFEST + ".lock")
    with open(lock_p, "w") as lf:
        try:
            import fcntl

            fcntl.flock(lf, fcntl.LOCK_EX)
        except ImportError:  # non-posix: atomic rename is the only guard
            pass
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
    seg = build_segments_combined(
        corpus_cols, analyzer, num_segments, heavy, n_salts, with_positions,
        fields=field_specs or None, membership=membership,
    )
    out = os.path.join(index_dir, "segments", f"batch={key}")
    seg.write.mode("overwrite").parquet(out)
    # one read-back pass gives corpus stats AND the shuffle-skew metric
    # (north rule): per reduce partition, postings handled and bytes written
    per_seg = (
        spark.read.parquet(out)
        .groupBy("seg")
        .agg(
            F.sum("sum_tf").alias("tok"),
            F.sum("ndocs").alias("post"),
            (F.sum(F.octet_length("docids") + F.octet_length("tfs") + F.octet_length("dls")
                   + F.coalesce(F.octet_length("positions"), F.lit(0)))).alias("bytes"),
        )
        .collect()
    )
    posts = [int(r["post"] or 0) for r in per_seg]
    npost = sum(posts)
    dt = time.time() - t0
    ndocs = int(sub.count())
    entry = {
        "committed": True,
        "path": out,
        "ndocs": ndocs,
        "npostings": npost,
        "total_tokens": int(sum(r["tok"] or 0 for r in per_seg)),
        "heavy_terms": heavy,
        "build_sec": round(dt, 3),
        "metrics": {
            "docs_per_sec": round(ndocs / dt, 1) if dt else None,
            "postings_per_sec": round(npost / dt, 1) if dt else None,
            "segment_bytes": int(sum(r["bytes"] or 0 for r in per_seg)),
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
            "per_segment": sorted(
                (
                    {"seg": int(r["seg"]), "postings": int(r["post"] or 0),
                     "bytes": int(r["bytes"] or 0)}
                    for r in per_seg
                ),
                key=lambda d: d["seg"],
            ) if len(per_seg) <= 4096 else None,
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


def finalize_index(spark: SparkSession, index_dir: str) -> dict:
    """Aggregate term stats + corpus stats across batches; idempotent.

    Corpus sums come from the manifest read INSIDE the locked commit, so
    they always match the committed batch set; the term-stats parquet and
    docId span are computed from the segments visible at entry — if a
    concurrent writer lands in that window, its own trailing
    finalize_index (every writer ends with one) recomputes them."""
    segs = load_segments(spark, index_dir)
    stats_dir = os.path.join(index_dir, "term_stats")
    term_stats_from_segments(segs).coalesce(4).write.mode("overwrite").parquet(stats_dir)
    # global docId bounds: lets the DAAT bucketizer skip its span-agg job
    # at query time (rank._bucketize_segments docid_span) — docIds are
    # 63-bit hashes, so the span is not derivable from n_docs
    span = segs.agg(
        F.min("min_docid").alias("lo"),
        F.max(F.element_at("block_last_docid", -1)).alias("hi"),
    ).collect()[0]
    # fielded index: per-field token sums (segment-level agg — no posting
    # decode) so per-field BM25 can use the FIELD's avgdl, not the global
    # mix. Content tokens = total − Σ field tokens.
    fields = read_manifest(index_dir).get("fields") or {}
    field_tokens: dict[str, int] = {}
    if fields:
        from ..operators.build import FIELD_SEP

        pref = F.split(F.col("term"), FIELD_SEP, 2).getItem(0)
        rows = (
            segs.where(F.col("term").contains(FIELD_SEP))
            .groupBy(pref.alias("f"))
            .agg(F.sum("sum_tf").alias("tok"))
            .collect()
        )
        field_tokens = {r["f"]: int(r["tok"]) for r in rows if r["f"] in set(fields)}

    def _commit(fresh: dict) -> None:
        bs = [b for b in fresh.get("batches", {}).values() if b.get("committed")]
        n_docs = sum(b["ndocs"] for b in bs)
        total_tokens = sum(b["total_tokens"] for b in bs)
        fresh["stats"] = {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
            "npostings": sum(b["npostings"] for b in bs),
            "docid_lo": int(span["lo"]) if span["lo"] is not None else None,
            "docid_hi": int(span["hi"]) if span["hi"] is not None else None,
        }
        if field_tokens and n_docs:
            content_tokens = total_tokens - sum(field_tokens.values())
            fresh["stats"]["avgdl_by_field"] = {
                "": content_tokens / n_docs,
                **{f: tok / n_docs for f, tok in sorted(field_tokens.items())},
            }
        fresh["finalized"] = True

    m = update_manifest(index_dir, _commit)
    if m.get("serving_cache"):
        # opt-in commit hook (operators.serving.attach_serving_cache): keep
        # the attached serving cache at the committed generation so the
        # first post-commit workload never pays a cold bucketize or a
        # ServingCacheStale round-trip
        from ..operators.serving import maybe_refresh_attached

        maybe_refresh_attached(spark, index_dir, m)
    return m


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
        return spark.read.parquet(*paths)
    return spark.read.parquet(os.path.join(index_dir, "segments"))


def load_term_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "term_stats"))


def load_term_stats_pdf(index_dir: str) -> pd.DataFrame:
    """Term stats as a driver-local pandas frame (pyarrow read, no Spark
    job). A serving process loads this ONCE and passes it to the rank
    entry points (`rank._term_dfs` accepts either form) — per-workload idf
    lookup then costs a local isin instead of a Spark round-trip (0.12-0.14 s
    at local[2] on a 4-vCPU host, 2,000-doc index).
    Holds the whole vocabulary in driver RAM: ~24 bytes/term + strings, so
    fine to ~10^8 terms; beyond that keep the Spark DataFrame path."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(index_dir, "term_stats")).to_pandas()


def docid_span(index_dir: str) -> tuple[int, int] | None:
    """(lo, hi) global docId bounds from the manifest, or None for indexes
    finalized before the bounds were recorded (callers fall back to the
    span-agg job inside the bucketizer)."""
    stats = read_manifest(index_dir).get("stats", {})
    lo, hi = stats.get("docid_lo"), stats.get("docid_hi")
    if lo is None or hi is None:
        return None
    return int(lo), int(hi)


def _decode_batch(pdf: pd.DataFrame, with_positions: bool):
    """Vectorized-ish decode of packed rows -> exploded postings."""
    outs = []
    for r in pdf.itertuples(index=False):
        docids = blockwise_delta_decode(r.docids)
        # membership rows store EMPTY tf/dl blobs: tf reads as constant 1,
        # dl as 1 (substring indexes — tf is 1 by construction)
        ones = np.ones(len(docids), dtype=np.int64)
        tfs = varbyte_decode(r.tfs) if len(r.tfs) else ones
        dls = varbyte_decode(r.dls) if len(r.dls) else ones
        d = {
            "term": np.repeat(r.term, len(docids)),
            "docId": docids,
            "tf": tfs.astype("int32"),
            "dl": dls.astype("int32"),
        }
        if with_positions:
            if r.positions is not None:
                blens = varbyte_decode(r.poslens)
                offs = np.zeros(len(blens) + 1, dtype=np.int64)
                offs[1:] = np.cumsum(blens)
                d["positions"] = [
                    delta_varbyte_decode(r.positions, int(offs[k]), int(blens[k])).astype(
                        "int32"
                    )
                    for k in range(len(blens))
                ]
            else:
                d["positions"] = [None] * len(docids)
        outs.append(pd.DataFrame(d))
    if not outs:
        return None
    return pd.concat(outs, ignore_index=True)


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
    blobs (sliced per doc via poslens). This is the compaction input shape:
    merge = regroup by term + byte-level blob concat, no int decode."""

    def kernel(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                docids = blockwise_delta_decode(r.docids)
                n = len(docids)
                ones = np.ones(n, dtype=np.int64)
                d = {
                    "term": np.repeat(r.term, n),
                    "docId": docids,
                    "tf": (varbyte_decode(r.tfs) if len(r.tfs) else ones).astype("int32"),
                    "dl": (varbyte_decode(r.dls) if len(r.dls) else ones).astype("int32"),
                }
                if r.positions is not None:
                    blens = varbyte_decode(r.poslens)
                    offs = np.zeros(len(blens) + 1, dtype=np.int64)
                    offs[1:] = np.cumsum(blens)
                    d["posbin"] = [
                        r.positions[int(offs[k]) : int(offs[k + 1])] for k in range(n)
                    ]
                else:
                    d["posbin"] = [None] * n
                outs.append(pd.DataFrame(d))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cols = segments.select("term", "docids", "tfs", "dls", "poslens", "positions")
    return cols.mapInPandas(kernel, PACKED_POSTINGS_SCHEMA)


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
    cols = ["term", "docids", "tfs", "dls"] + (
        ["poslens", "positions"] if with_positions else []
    )
    df = df.select(*cols)
    schema = DECODED_POS_SCHEMA if with_positions else DECODED_SCHEMA

    def kernel(batches):
        for pdf in batches:
            if not with_positions:
                pdf = pdf.assign(poslens=None, positions=None)
            out = _decode_batch(pdf, with_positions)
            if out is not None:
                yield out

    return df.mapInPandas(kernel, schema)


def decode_docids(segments: DataFrame) -> DataFrame:
    """DocId-only decode: (docId) rows from the packed ``docids`` blobs.

    For membership-style queries (prefix search, boolean sets over very
    heavy terms) the tf/dl/position columns are dead weight — this path
    projects ONLY ``docids``, so parquet column pruning keeps every other
    blob on disk (ReadSchema shows the single binary column) and the kernel
    runs one vectorized delta decode per row."""

    def kernel(batches):
        for pdf in batches:
            arrs = [blockwise_delta_decode(b) for b in pdf["docids"]]
            if arrs:
                yield pd.DataFrame(
                    {"docId": np.concatenate(arrs) if len(arrs) > 1 else arrs[0]}
                )

    return segments.select("docids").mapInPandas(kernel, "docId long")


def decode_term_docids(segments: DataFrame, terms: list[str]) -> DataFrame:
    """(term, docId) membership decode for count-matching set queries
    (boolean AND over heavy terms, trigram substring intersection): the
    ``terms`` filter pushes to the term-sorted parquet scan like
    :func:`decode_postings`, but the projection reads ONLY the ``term`` and
    ``docids`` columns — tf/dl/position blobs stay on disk entirely. On a
    trigram index (df ~ n_docs per term) this halves the bytes read per
    probe term vs the full posting decode."""
    df = segments.where(isin_expr("term", list(terms))).select("term", "docids")

    def kernel(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                d = blockwise_delta_decode(r.docids)
                outs.append(pd.DataFrame({"term": np.repeat(r.term, len(d)), "docId": d}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(kernel, "term string, docId long")


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
    import shutil

    from ..operators.build import SEGMENT_SCHEMA, _compact_merge_encoder

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
    segs = spark.read.parquet(*srcs)
    heavy = sorted({t for b in batches for t in m["batches"][str(b)].get("heavy_terms", [])})
    out = batch_path(index_dir, new_id)
    packed = (
        segs.select("term", "salt", "ndocs", "docids", "tfs", "dls", "poslens", "positions")
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
