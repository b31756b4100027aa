"""Index integrity audit (fsck) — distributed structural verification.

At 10^12 files an index is petabytes of packed segment parquet accumulated
through builds, streaming commits, compactions, purges, and crashes; "trust
the writer" stops being an integrity strategy. This audit re-derives every
structural invariant the query path RELIES on but never re-checks (the DAAT
kernel assumes sorted docIds, truthful block metadata, and consistent
term stats — a violation silently corrupts scores rather than erroring):

catalog level (driver-side, O(batches)):
  * manifest parses, batches' on-disk dirs exist (resolved through
    ``batch_path`` re-rooting, never the manifest's absolute paths);
  * orphan ``batch=N`` dirs on disk but not in the manifest (WARNING — the
    crash-tolerated state that manifest-gated reads ignore by design);
  * manifest ``stats`` equal the sum of its committed batches' stats.

segment level (ONE distributed pass over packed rows, ``mapInPandas``
emitting violation rows — no posting data ever reaches the driver):
  * docIds strictly increasing within each packed row; decoded count ==
    ``ndocs``; ``min_docid`` == first; tf/dl blob lengths match;
  * block metadata truthful: ``block_last_docid[i]`` is the i-th block's
    actual last docId and ``block_max_tf[i]`` its actual max tf (the bucket
    splitter routes blocks by the first; any bound-based block skipping
    would trust the second, and an understated max would DROP results);
  * ``sum_tf``/``max_tf`` match the decoded tf sum/max; every tf ≥ 1;
    every dl ≥ tf (a posting can't occur more often than its doc is long);
  * positions (when present): per-posting varbyte position counts equal
    tf, position-gap blob slicing (``poslens``) tiles ``positions`` exactly.

cross-relation (tiny joins over packed metadata, no decode):
  * ``term_stats`` parquet == recount from live segments (df/cf/max_tf);
  * manifest docid span covers the segments' true [min, max];
  * tombstones sorted / unique / inside the span (WARNING outside — legal
    after a purge + re-add, but worth eyes).

Returns a JSON-able report; ``jobs/fsck.py`` is the CLI. The reference has
no analog (its single process trusts its own writes, IndexImpl flushes and
reads back unverified) — at cluster scale this is the missing ops tool.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.codec import varbyte_decode
from ..sources.segments import (
    batch_path,
    load_segments,
    load_term_stats,
    read_manifest,
)

VIOLATION_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("term", StringType(), False),
        StructField("salt", IntegerType(), False),
        StructField("detail", StringType(), False),
    ]
)


def _row_violations(r) -> Iterator[tuple[str, str]]:
    """Yield (kind, detail) for one packed segment row. Pure function of
    the row — runs inside the distributed kernel."""
    offs = np.asarray(r.block_docid_off, dtype=np.int64)
    toffs = np.asarray(r.block_tf_off, dtype=np.int64)
    dloffs = np.asarray(r.block_dl_off, dtype=np.int64)
    ends_d = np.append(offs[1:], len(r.docids))
    ends_t = np.append(toffs[1:], len(r.tfs))
    ends_l = np.append(dloffs[1:], len(r.dls))
    n_blocks = len(offs)
    if not (len(r.block_last_docid) == len(r.block_max_tf) == n_blocks
            == len(toffs) == len(dloffs)):
        yield "block_meta_shape", (
            f"offs={n_blocks} last={len(r.block_last_docid)} "
            f"maxtf={len(r.block_max_tf)}")
        return
    docids_parts, tf_parts, dl_parts = [], [], []
    for i in range(n_blocks):
        deltas = varbyte_decode(r.docids, int(offs[i]), int(ends_d[i] - offs[i]))
        ids = np.cumsum(deltas)
        # membership rows (empty tf/dl blobs) audit under the tf=1 reading:
        # every downstream invariant (block_max_tf, sum_tf, max_tf, dl>=tf)
        # then checks the summary fields the encoder was REQUIRED to write
        ones = np.ones(len(ids), dtype=np.int64)
        tfs = (varbyte_decode(r.tfs, int(toffs[i]), int(ends_t[i] - toffs[i]))
               if len(r.tfs) else ones)
        dls = (varbyte_decode(r.dls, int(dloffs[i]), int(ends_l[i] - dloffs[i]))
               if len(r.dls) else ones)
        if not (len(ids) == len(tfs) == len(dls)):
            yield "block_len_mismatch", (
                f"block {i}: ids={len(ids)} tfs={len(tfs)} dls={len(dls)}")
            return
        if len(ids) == 0:
            yield "empty_block", f"block {i}"
            continue
        if int(ids[-1]) != int(r.block_last_docid[i]):
            yield "block_last_docid", (
                f"block {i}: decoded {int(ids[-1])} != meta "
                f"{int(r.block_last_docid[i])}")
        if int(tfs.max()) != int(r.block_max_tf[i]):
            yield "block_max_tf", (
                f"block {i}: decoded {int(tfs.max())} != meta "
                f"{int(r.block_max_tf[i])}")
        docids_parts.append(ids)
        tf_parts.append(tfs)
        dl_parts.append(dls)
    if not docids_parts:
        yield "empty_row", "no postings decoded"
        return
    docids = np.concatenate(docids_parts)
    tfs = np.concatenate(tf_parts)
    dls = np.concatenate(dl_parts)
    if len(docids) != int(r.ndocs):
        yield "ndocs_mismatch", f"decoded {len(docids)} != meta {int(r.ndocs)}"
    if np.any(np.diff(docids) <= 0):
        yield "docids_not_increasing", (
            f"first at posting {int(np.flatnonzero(np.diff(docids) <= 0)[0])}")
    if int(docids[0]) != int(r.min_docid):
        yield "min_docid", f"decoded {int(docids[0])} != meta {int(r.min_docid)}"
    if int(tfs.sum()) != int(r.sum_tf):
        yield "sum_tf", f"decoded {int(tfs.sum())} != meta {int(r.sum_tf)}"
    if int(tfs.max()) != int(r.max_tf):
        yield "max_tf", f"decoded {int(tfs.max())} != meta {int(r.max_tf)}"
    if np.any(tfs < 1):
        yield "tf_below_one", f"{int((tfs < 1).sum())} postings"
    if np.any(dls < tfs):
        yield "dl_below_tf", f"{int((dls < tfs).sum())} postings"
    if r.positions is not None and r.poslens is not None:
        blens = varbyte_decode(r.poslens)
        if len(blens) != len(docids):
            yield "poslens_count", f"{len(blens)} slices != {len(docids)} postings"
            return
        if int(blens.sum()) != len(r.positions):
            yield "positions_bytes", (
                f"poslens sum {int(blens.sum())} != blob {len(r.positions)}")
            return
        off = 0
        for k in range(len(blens)):
            npos = len(varbyte_decode(r.positions, off, int(blens[k])))
            if npos != int(tfs[k]):
                yield "positions_vs_tf", (
                    f"posting {k}: {npos} positions != tf {int(tfs[k])}")
                break
            off += int(blens[k])


def fsck_segments(segments: DataFrame) -> DataFrame:
    """Deep structural audit of packed rows → violations DataFrame.
    One distributed pass; the output is empty on a healthy index, so the
    shuffle-free aggregate the caller runs over it costs nothing."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                for kind, detail in _row_violations(r):
                    rows.append((kind, r.term, int(r.salt), detail))
            if rows:
                yield pd.DataFrame(rows, columns=["kind", "term", "salt", "detail"])

    return segments.mapInPandas(kernel, VIOLATION_SCHEMA)


def fsck_index(
    spark: SparkSession,
    index_dir: str,
    deep: bool = True,
    sample_per_kind: int = 5,
) -> dict:
    """Full audit; returns a report dict (see module docstring). ``errors``
    is the must-fix list; ``warnings`` are tolerated-by-design states."""
    errors: list[str] = []
    warnings: list[str] = []
    report: dict = {"index_dir": index_dir, "errors": errors,
                    "warnings": warnings}
    m = read_manifest(index_dir)
    committed = {k: b for k, b in m.get("batches", {}).items()
                 if b.get("committed")}
    report["n_batches"] = len(committed)
    for k in committed:
        d = batch_path(index_dir, k)
        if not os.path.isdir(d):
            errors.append(f"missing_batch_dir: batch={k} ({d})")
        elif not any(f.endswith(".parquet") for f in os.listdir(d)):
            errors.append(f"empty_batch_dir: batch={k} ({d})")
    seg_root = os.path.join(index_dir, "segments")
    if os.path.isdir(seg_root):
        on_disk = {d.split("=", 1)[1] for d in os.listdir(seg_root)
                   if d.startswith("batch=")}
        for orphan in sorted(on_disk - set(committed)):
            warnings.append(f"orphan_batch_dir: batch={orphan} "
                            "(ignored by manifest-gated reads)")
    stats = m.get("stats") or {}
    if committed and stats:
        sums = {
            "n_docs": sum(b["ndocs"] for b in committed.values()),
            "npostings": sum(b["npostings"] for b in committed.values()),
            "total_tokens": sum(b["total_tokens"] for b in committed.values()),
        }
        for key, want in sums.items():
            if int(stats.get(key, -1)) != int(want):
                errors.append(
                    f"manifest_stats: {key}={stats.get(key)} != "
                    f"batch sum {want} (stale finalize?)")
    if errors:  # unreadable batches make the distributed checks moot
        report["ok"] = False
        return report

    segs = load_segments(spark, index_dir)
    meta = segs.agg(
        F.min("min_docid").alias("lo"),
        F.max(F.element_at("block_last_docid", -1)).alias("hi"),
        F.sum("ndocs").alias("npostings"),
    ).collect()[0]
    report["npostings"] = int(meta["npostings"] or 0)
    if stats.get("npostings") is not None and \
            int(stats["npostings"]) != report["npostings"]:
        errors.append(
            f"npostings: manifest {stats['npostings']} != "
            f"segment sum {report['npostings']}")
    if stats.get("docid_lo") is not None and meta["lo"] is not None:
        if int(stats["docid_lo"]) > int(meta["lo"]) or \
                int(stats["docid_hi"]) < int(meta["hi"]):
            errors.append(
                f"docid_span: manifest [{stats['docid_lo']}, "
                f"{stats['docid_hi']}] does not cover segments "
                f"[{int(meta['lo'])}, {int(meta['hi'])}]")

    # term_stats parquet vs recount (join over packed metadata — no decode)
    ts_dir = os.path.join(index_dir, "term_stats")
    if os.path.isdir(ts_dir):
        from ..operators.build import term_stats_from_segments

        fresh = term_stats_from_segments(segs)
        stored = load_term_stats(spark, index_dir)
        bad = (
            fresh.alias("f")
            .join(stored.alias("s"), "term", "full_outer")
            .where(
                F.col("f.df").isNull() | F.col("s.df").isNull()
                | (F.col("f.df") != F.col("s.df"))
                | (F.col("f.cf") != F.col("s.cf"))
                | (F.col("f.max_tf") != F.col("s.max_tf"))
            )
            .count()
        )
        report["term_stats_mismatches"] = int(bad)
        if bad:
            errors.append(f"term_stats: {bad} terms disagree with recount "
                          "(stale finalize_index?)")
    else:
        warnings.append("no term_stats dir (index not finalized)")

    # tombstones
    tomb_dir = os.path.join(index_dir, "tombstones")
    if os.path.isdir(tomb_dir):
        from .delete import deleted_array

        arr = deleted_array(spark, index_dir)
        if arr is not None and len(arr):
            report["n_tombstones"] = int(len(arr))
            if np.any(np.diff(arr) <= 0):
                errors.append("tombstones: not strictly increasing/unique")
            if meta["lo"] is not None and (
                    int(arr[0]) < int(meta["lo"]) or int(arr[-1]) > int(meta["hi"])):
                warnings.append("tombstones outside live docid span "
                                "(legal after purge, verify intent)")

    if deep:
        v = fsck_segments(segs)
        counts = {r["kind"]: int(r["n"])
                  for r in v.groupBy("kind").agg(F.count("*").alias("n")).collect()}
        report["violations"] = counts
        if counts:
            sample = v.limit(sample_per_kind * max(1, len(counts))).collect()
            report["violation_sample"] = [
                {"kind": r["kind"], "term": r["term"], "salt": r["salt"],
                 "detail": r["detail"]} for r in sample
            ]
            errors.append(f"segment_violations: {counts}")
    report["ok"] = not errors
    return report
