"""Ranked retrieval (reference Q8 ``searchTfIdf``, IIM:1131-1315) + the
north-rule BM25 top-k with block-max pruning.

Two scorers share one posting-level kernel (SURVEY.md §2.6):

- ``tfidf_cosine`` — byte-level parity with the reference: ``idf = log10(N/df)``
  (terms with df=0 are simply absent — the reference only scores terms found
  in segments, so no smoothing guard is needed), ``wq = qtf*idf``,
  ``wd = tf*idf``, ``score = Σ wd*wq / sqrt(Σ wd²)``, 0/0 -> 0
  (IIM:1193-1262).
- ``bm25`` — Robertson/Sparck-Jones: ``idf = ln((N-df+0.5)/(df+0.5)+1)``,
  ``score = Σ qtf * idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))``,
  k1=1.2, b=0.75.

Tie-breaks, pinned from the reference:
- top-k mode: score desc, then docId DESC (per-segment comparator
  IIM:1266-1280 — larger docId first);
- matches-all mode (PageRank combo): score desc, docId ASC
  (``CompareResults`` IIM:1103-1114).

Execution paths:
- :func:`score_query` — declarative: decoded postings × broadcast idf map ->
  ``groupBy(docId)`` agg -> ``orderBy().limit(k)`` (Catalyst's
  TakeOrderedAndProject ≙ the reference's bounded PQ, IIM:1290-1313; partial
  + final aggregation come free).
- :func:`score_query_daat` — DAAT kernel with MaxScore/block-max pruning
  (Ding & Suel, SIGIR 2011): term-level and block-level upper bounds
  decide which blocks are byte-decoded at all (delta chains restart per
  block — see build.py). A workload that fits one bucket (the common
  interactive query) runs as ONE task: term-pushed segment scan ->
  ``coalesce(1)`` -> one kernel call over the whole packed rows ->
  TakeOrderedAndProject. Bigger workloads re-key the compressed blocks by
  docId-range bucket (one shuffle), score each bucket with a local top-k,
  and merge globally — the reference's per-segment top-k -> global PQ
  two-stage shape at cluster scale.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.codec import varbyte_decode, varbyte_encode
from ..operators.build import BLOCK_SIZE, _byte_lens
from ..functions.predicates import isin_expr
from ..operators.query import analyze_query, postings_for

SCORE_SCHEMA = StructType(
    [
        StructField("docId", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


@dataclass(frozen=True)
class Scorer:
    kind: str = "bm25"  # "bm25" | "tfidf_cosine"
    k1: float = 1.2
    b: float = 0.75

    def idf(self, N: float, df: np.ndarray) -> np.ndarray:
        df = np.asarray(df, dtype=np.float64)
        if self.kind == "bm25":
            return np.log((N - df + 0.5) / (df + 0.5) + 1.0)
        return np.log10(N / df)


def query_tfs(keywords: list[str], analyzer: str = "porter") -> dict[str, int]:
    """Query analysis + per-distinct-token frequency (IIM:1152-1167)."""
    return dict(Counter(analyze_query(keywords, analyzer)))


def _term_dfs(term_stats, terms: list[str]) -> dict[str, int]:
    """{term: df} for the given terms. ``term_stats`` is either the Spark
    DataFrame (default — one tiny filtered collect job) or a pandas frame
    pre-loaded once per serving process (:func:`..sources.segments.
    load_term_stats_pdf`) — the Spark job is a fixed round-trip per
    workload (0.12-0.14 s at local[2] on a 4-vCPU host, 2,000-doc index),
    a large share of a short interactive query. Driver-RAM note:
    a pandas term_stats holds the whole vocabulary; fine up to ~10^8 terms,
    keep the Spark path beyond that."""
    if isinstance(term_stats, pd.DataFrame):
        sub = term_stats[term_stats["term"].isin(terms)]
        return dict(zip(sub["term"], sub["df"].astype(int)))
    return {
        r.term: int(r.df)
        for r in term_stats.where(isin_expr("term", terms))
        .select("term", "df")
        .collect()
    }


def _idf_rows(term_stats, qtfs: dict[str, float], scorer: Scorer, n_docs: int):
    """Collect (term, df, idf, qtf) for present query terms — tiny. qtf
    passes through untyped: integer query-tf counts stay ints (the
    declarative paths build an int-schema qdf from them), parser ``^W``
    boost weights stay floats (consumed by the DAAT numpy kernel)."""
    out = []
    for term, df in _term_dfs(term_stats, list(qtfs)).items():
        idf = float(scorer.idf(float(n_docs), np.array([df]))[0])
        out.append((term, df, idf, qtfs[term]))
    return out


def _bm25_contrib(scorer: Scorer, avgdl: float):
    """THE per-(doc, term) BM25 contribution expression, over columns
    (qtf, idf, tf, dl) — shared by :func:`score_query` (summed) and
    :func:`explain_score` (exposed row-wise), so explain's factor rows can
    never drift from the score they claim to decompose."""
    return (
        F.col("qtf")
        * F.col("idf")
        * (F.col("tf") * (scorer.k1 + 1.0))
        / (
            F.col("tf")
            + scorer.k1 * (1.0 - scorer.b + scorer.b * F.col("dl") / F.lit(avgdl))
        )
    )


def score_query(
    spark: SparkSession,
    decoded: DataFrame,
    term_stats: DataFrame,
    keywords: list[str],
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer(),
    k: int | None = 10,
    analyzer: str = "porter",
    ties: str = "desc",
) -> DataFrame:
    """Declarative scoring path. `decoded` = (term, docId, tf, dl) postings.

    Plan shape: pushdown term filter -> broadcast-join the (≤ m query terms)
    idf map -> per-row contribution (JVM expressions, whole-stage codegen) ->
    groupBy(docId) partial+final agg -> TakeOrderedAndProject(k).
    """
    qtfs = query_tfs(keywords, analyzer)
    rows = _idf_rows(term_stats, qtfs, scorer, n_docs)
    if not rows:
        return spark.createDataFrame([], SCORE_SCHEMA)
    qdf = spark.createDataFrame(rows, "term string, df long, idf double, qtf int")
    p = postings_for(decoded, [r[0] for r in rows]).join(F.broadcast(qdf), "term")
    if scorer.kind == "bm25":
        scores = p.groupBy("docId").agg(
            F.sum(_bm25_contrib(scorer, avgdl)).alias("score")
        )
    else:
        wd = F.col("tf") * F.col("idf")
        scores = p.groupBy("docId").agg(
            (F.sum(wd * F.col("qtf") * F.col("idf"))).alias("_dot"),
            (F.sum(wd * wd)).alias("_len"),
        )
        scores = scores.select(
            "docId",
            F.when(F.col("_len") > 0, F.col("_dot") / F.sqrt(F.col("_len")))
            .otherwise(F.lit(0.0))
            .alias("score"),
        )
    order = [F.desc("score"), F.desc("docId") if ties == "desc" else F.asc("docId")]
    scores = scores.orderBy(*order)
    return scores.limit(k) if k is not None else scores


def score_query_dismax(
    spark: SparkSession,
    decoded: DataFrame,
    term_stats: DataFrame,
    keywords: list[str],
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer(),
    tie_breaker: float = 0.0,
    k: int | None = 10,
    analyzer: str = "porter",
    ties: str = "desc",
) -> DataFrame:
    """Lucene ``DisjunctionMaxQuery`` ranking over single-term disjuncts:
    a doc scores its BEST per-term BM25 contribution plus ``tie_breaker``
    times the remaining contributions. ``tie_breaker=0`` is the pure
    "best matching clause wins" semantics (the dismax antidote to the
    sum's length-ish bias across near-synonym clauses); ``1.0`` recovers
    the plain BM25 sum of :func:`score_query`.

    Plan shape is IDENTICAL to :func:`score_query` — In-pushed postings
    scan, broadcast idf map, ONE partial+final aggregation (max + sum
    over the shared :func:`_bm25_contrib` expression, so dismax can never
    drift from the scorer it reweights), TakeOrderedAndProject(k)."""
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    qtfs = query_tfs(keywords, analyzer)
    rows = _idf_rows(term_stats, qtfs, scorer, n_docs)
    if not rows:
        return spark.createDataFrame([], SCORE_SCHEMA)
    qdf = spark.createDataFrame(rows, "term string, df long, idf double, qtf int")
    p = postings_for(decoded, [r[0] for r in rows]).join(F.broadcast(qdf), "term")
    c = _bm25_contrib(scorer, avgdl)
    agg = p.groupBy("docId").agg(F.max(c).alias("_mx"), F.sum(c).alias("_sm"))
    scores = agg.select(
        "docId",
        (
            F.col("_mx")
            + F.lit(float(tie_breaker)) * (F.col("_sm") - F.col("_mx"))
        ).alias("score"),
    )
    order = [F.desc("score"), F.desc("docId") if ties == "desc" else F.asc("docId")]
    scores = scores.orderBy(*order)
    return scores.limit(k) if k is not None else scores


EXPLAIN_SCHEMA = StructType(
    [
        StructField("docId", LongType(), False),
        StructField("term", StringType(), False),
        StructField("qtf", IntegerType(), False),
        StructField("tf", LongType(), False),
        StructField("dl", LongType(), False),
        StructField("df", LongType(), False),
        StructField("idf", DoubleType(), False),
        StructField("contribution", DoubleType(), False),
    ]
)


def explain_score(
    spark: SparkSession,
    decoded: DataFrame,
    term_stats,
    keywords: list[str],
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer(),
    analyzer: str = "porter",
    doc_ids: list[int] | None = None,
) -> DataFrame:
    """Q8 explain — the ``IndexSearcher.explain`` analog every search engine
    ships: one row per (docId, matched query term) exposing every factor of
    the BM25 contribution (qtf, tf, dl, df, idf) plus the contribution
    itself, so ``SUM(contribution) GROUP BY docId`` reproduces
    :func:`score_query`'s score exactly (asserted in tests).

    Plan shape: pushdown term filter -> broadcast idf join -> one JVM
    projection. No aggregation, no window, no python. ``doc_ids`` narrows
    the explanation to specific documents (the interactive debug case) —
    the filter lands next to the term pushdown.

    BM25 only: a tf-idf cosine contribution is not per-term separable (the
    document norm couples all matched terms), so explaining it row-wise
    would lie. Raises on other scorers.
    """
    if scorer.kind != "bm25":
        raise NotImplementedError(
            "explain is BM25-only: tf-idf cosine couples terms through the "
            "document norm, so per-term rows would not sum to the score"
        )
    qtfs = query_tfs(keywords, analyzer)
    rows = _idf_rows(term_stats, qtfs, scorer, n_docs)
    if not rows:
        return spark.createDataFrame([], EXPLAIN_SCHEMA)
    qdf = spark.createDataFrame(rows, "term string, df long, idf double, qtf int")
    p = postings_for(decoded, [r[0] for r in rows])
    if doc_ids is not None:
        p = p.where(isin_expr("docId", [int(d) for d in doc_ids]))
    p = p.join(F.broadcast(qdf), "term")
    contrib = _bm25_contrib(scorer, avgdl)
    return p.select(
        F.col("docId"),
        F.col("term"),
        F.col("qtf").cast("int"),
        F.col("tf").cast("long"),
        F.col("dl").cast("long"),
        F.col("df").cast("long"),
        F.col("idf"),
        contrib.alias("contribution"),
    )


BATCH_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("docId", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def score_queries_batch(
    spark: SparkSession,
    decoded: DataFrame,
    term_stats: DataFrame,
    queries: dict[int, list[str]],
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer(),
    k: int | None = 10,
    analyzer: str = "porter",
    ties: str = "desc",
) -> DataFrame:
    """Score a WHOLE QUERY WORKLOAD in one Spark job -> (qid, docId, score).

    The per-query path (:func:`score_query`) launches one job per query —
    right for latency, wrong for throughput: a 1000-executor cluster serving
    a query log pays the scan + scheduling cost per query. This batch path
    amortizes both across Q queries:

    - ONE postings scan with ``term IN (union of all query terms)`` pushed
      into parquet (S10 seek over the batch's term set);
    - a broadcast join against the tiny (qid, term, idf, qtf) map — a term
      shared by multiple queries fans its postings out to each, which is
      exactly the reuse a shared scan buys;
    - ONE ``groupBy(qid, docId)`` aggregation (partial + final, same shuffle
      volume as a single heavy query);
    - two-stage top-k: a zero-shuffle ``mapInPandas`` partial top-k per
      partition (state = Q small heaps), then a final per-qid selection over
      ≤ partitions × k rows per query. No window function, so no re-shuffle
      of the full candidate set and no single-task hot spot for heavy
      queries — the generalization of TakeOrderedAndProject to Q queries.

    Scores and tie-breaks are identical to :func:`score_query` (same
    contribution expression, same (score desc, docId ``ties``) order).
    """
    per_q: list[tuple[int, dict[str, int]]] = [
        (int(qid), query_tfs(kw, analyzer)) for qid, kw in queries.items()
    ]
    all_terms = sorted({t for _, qtfs in per_q for t in qtfs})
    if not all_terms:
        return spark.createDataFrame([], BATCH_SCHEMA)
    df_rows = {
        r.term: int(r.df)
        for r in term_stats.where(isin_expr("term", all_terms))
        .select("term", "df")
        .collect()
    }
    qrows = []
    for qid, qtfs in per_q:
        for t, qtf in qtfs.items():
            if t in df_rows:
                idf = float(scorer.idf(float(n_docs), np.array([df_rows[t]]))[0])
                qrows.append((qid, t, idf, int(qtf)))
    if not qrows:
        return spark.createDataFrame([], BATCH_SCHEMA)
    qdf = spark.createDataFrame(qrows, "qid long, term string, idf double, qtf int")
    p = postings_for(decoded, sorted({r[1] for r in qrows})).join(
        F.broadcast(qdf), "term"
    )
    if scorer.kind == "bm25":
        contrib = (
            F.col("qtf")
            * F.col("idf")
            * (F.col("tf") * (scorer.k1 + 1.0))
            / (
                F.col("tf")
                + scorer.k1 * (1.0 - scorer.b + scorer.b * F.col("dl") / F.lit(avgdl))
            )
        )
        scores = p.groupBy("qid", "docId").agg(F.sum(contrib).alias("score"))
    elif scorer.kind == "tfidf_cosine":
        wd = F.col("tf") * F.col("idf")
        scores = p.groupBy("qid", "docId").agg(
            (F.sum(wd * F.col("qtf") * F.col("idf"))).alias("_dot"),
            (F.sum(wd * wd)).alias("_len"),
        )
        scores = scores.select(
            "qid",
            "docId",
            F.when(F.col("_len") > 0, F.col("_dot") / F.sqrt(F.col("_len")))
            .otherwise(F.lit(0.0))
            .alias("score"),
        )
    else:  # pragma: no cover - Scorer only has two kinds
        raise ValueError(f"unknown scorer kind {scorer.kind!r}")
    if k is None:
        return scores
    return _batch_topk(scores, k, ties)


def _topk_pdf_for(pdf: pd.DataFrame, k: int, ties: str) -> pd.DataFrame:
    """Vectorized per-qid top-k selection over a (qid, docId, score) frame —
    the single source of the batch tie semantics (score desc, then docId
    per ``ties``; output qid-asc). Shared by the row merge (:func:`_batch_topk`)
    and the packed-blob merge."""
    doc_asc = ties == "asc"
    qid = pdf["qid"].to_numpy(np.int64)
    doc = pdf["docId"].to_numpy(np.int64)
    score = pdf["score"].to_numpy(np.float64)
    tie = doc if doc_asc else -doc
    order = np.lexsort((tie, -score, qid))
    q = qid[order]
    # rank within each qid run of the sorted order -> keep first k
    idx = np.arange(len(q))
    new = np.empty(len(q), dtype=bool)
    if len(q):
        new[0] = True
        np.not_equal(q[1:], q[:-1], out=new[1:])
    start = np.maximum.accumulate(np.where(new, idx, 0))
    keep = order[(idx - start) < k]
    # deterministic output order: qid asc, then score desc + tie
    sel = np.lexsort((tie[keep], -score[keep], qid[keep]))
    keep = keep[sel]
    return pd.DataFrame({"qid": qid[keep], "docId": doc[keep], "score": score[keep]})


def _batch_topk(scores: DataFrame, k: int, ties: str) -> DataFrame:
    """Two-stage per-qid top-k. Stage 1 is a zero-shuffle partition-local
    prune (each partition emits ≤ Q×k rows); stage 2 hash-partitions by qid
    and selects per partition. Tie order matches the single-query paths:
    score desc, then docId desc (``ties='desc'``) or asc.

    Rows come out sorted (score desc, docId tie) WITHIN each qid but in no
    particular order ACROSS qids: a global ``orderBy`` here cost a serial
    rangepartitioning stage (~0.9s flat, measured) for presentation only.
    Stage 2 uses an explicit ``repartition(n, qid)`` — AQE's byte-based
    coalescing otherwise folds the tiny pruned rows into ONE task and
    serializes the final selection across all Q queries (1.3s at Q=256)."""
    def _topk_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        return _topk_pdf_for(pdf, k, ties)

    def partial(batches):
        acc: list[pd.DataFrame] = []
        for pdf in batches:
            acc.append(pdf)
            # re-prune periodically so partition-local state stays O(Q*k)
            if sum(len(a) for a in acc) > 64 * 1024:
                acc = [_topk_pdf(pd.concat(acc, ignore_index=True))]
        if acc:
            yield _topk_pdf(pd.concat(acc, ignore_index=True))

    def final(batches):
        acc = [pdf for pdf in batches]
        if acc:
            yield _topk_pdf(pd.concat(acc, ignore_index=True))

    pruned = scores.mapInPandas(partial, BATCH_SCHEMA)
    n_final = int(
        scores.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return pruned.repartition(n_final, "qid").mapInPandas(final, BATCH_SCHEMA)


# --- DAAT kernel with MaxScore / block-max pruning --------------------------


def _tf_upper(scorer: Scorer, max_tf: np.ndarray) -> np.ndarray:
    """Upper bound of the tf-normalization for any dl (dl -> 0)."""
    mt = np.asarray(max_tf, dtype=np.float64)
    if scorer.kind == "bm25":
        return mt * (scorer.k1 + 1.0) / (mt + scorer.k1 * (1.0 - scorer.b))
    return mt  # tfidf: wd = tf*idf grows with tf; cosine norm ignored (≥)


def _tf_upper_scalar(scorer: Scorer, mt: float) -> float:
    """Scalar twin of :func:`_tf_upper` — the batch kernel calls it once per
    (query, packed row); going through numpy there costs more than the math."""
    if scorer.kind == "bm25":
        return mt * (scorer.k1 + 1.0) / (mt + scorer.k1 * (1.0 - scorer.b))
    return mt


def _blk_i64(v) -> np.ndarray:
    """Block-metadata field -> int64 array. Bucketed shuffle rows pack these
    as little-endian bytes (no per-element boxing through Arrow — the list
    cells were ~half the bucketize stage), segment rows carry Arrow lists."""
    if isinstance(v, (bytes, bytearray)):
        return np.frombuffer(v, dtype="<i8")
    return np.asarray(v, dtype=np.int64)


def _blk_i32(v) -> np.ndarray:
    if isinstance(v, (bytes, bytearray)):
        return np.frombuffer(v, dtype="<i4").astype(np.int64)
    return np.asarray(v, dtype=np.int64)


def _decode_row_blocks(r, take: np.ndarray | None):
    """Byte-decode only the selected blocks of one packed row
    (``take=None`` = all blocks)."""
    offs = _blk_i32(r.block_docid_off)
    toffs = _blk_i32(r.block_tf_off)
    dloffs = _blk_i32(r.block_dl_off)
    if take is None:
        take = np.ones(len(offs), dtype=bool)
    ends_d = np.append(offs[1:], len(r.docids))
    ends_t = np.append(toffs[1:], len(r.tfs))
    ends_l = np.append(dloffs[1:], len(r.dls))
    # membership rows (trigram/substring indexes) store EMPTY tf/dl blobs:
    # tf and dl read as constant 1, mirroring segments._decode_batch, so
    # ranked queries over a membership index score tf=1/dl=1 as documented.
    memb_tf = len(r.tfs) == 0
    memb_dl = len(r.dls) == 0
    ds, ts, ls = [], [], []
    for i in np.flatnonzero(take):
        deltas = varbyte_decode(r.docids, int(offs[i]), int(ends_d[i] - offs[i]))
        ds.append(np.cumsum(deltas))
        ones = np.ones(len(deltas), dtype=np.int64)
        ts.append(ones if memb_tf else
                  varbyte_decode(r.tfs, int(toffs[i]), int(ends_t[i] - toffs[i])))
        ls.append(ones if memb_dl else
                  varbyte_decode(r.dls, int(dloffs[i]), int(ends_l[i] - dloffs[i])))
    if not ds:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    return np.concatenate(ds), np.concatenate(ts), np.concatenate(ls)


def _daat_segment(
    pdf: pd.DataFrame,
    qmeta: dict[str, tuple[float, int]],
    scorer: Scorer,
    avgdl: float,
    k: int | None,
    prune: bool,
    ties: str = "desc",
    stats: dict | None = None,
    deleted: np.ndarray | None = None,
    bounds: tuple[int, int] | None = None,
) -> pd.DataFrame:
    """Score one segment's packed rows for the query terms.

    Block-max WAND with per-block admission on EVERY row (bm25 only — the
    tfidf cosine norm is non-monotone in added terms, so that scorer runs
    exhaustive, exactly like the reference):

    Rows decode in UB-desc order; θ = k-th best partial sum so far (a valid
    lower bound on the k-th final score for bm25). Once θ is live, a block
    decodes only if someone in it could still reach θ:

    - a NEW doc, bounded by ``block_ub + rest_other`` (rest_other = later
      rows of OTHER terms — a doc has exactly one salted row per term), or
    - a KNOWN viable candidate in the block's docId range, bounded by its
      ACTUAL accumulated partial + ``block_ub + rest_other`` (theoretical
      prior-row UB sums are so loose they never prune).

    Docs whose partial + total remaining UB < θ are non-viable and neither
    keep blocks alive nor finish accumulating — they cannot enter the top
    k, and θ only under-estimates, so pruned and exhaustive top-k are
    identical (asserted continuously by tools/wand_audit.py).
    """
    uq, score = _daat_rows(
        list(pdf.itertuples(index=False)), qmeta, scorer, avgdl, k, prune,
        ties, stats=stats, deleted=deleted, bounds=bounds,
    )
    return pd.DataFrame({"docId": uq.astype("int64"), "score": score})


def _daat_rows(
    row_objs: list,
    qmeta: dict[str, tuple[float, int]],
    scorer: Scorer,
    avgdl: float,
    k: int | None,
    prune: bool,
    ties: str = "desc",
    stats: dict | None = None,
    deleted: np.ndarray | None = None,
    bounds: tuple[int, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Numpy core of :func:`_daat_segment` -> (docIds, scores), already
    truncated to the local top-k with the global tie order. Takes bare row
    objects (anything exposing the packed-segment fields) so the batch
    kernel can group rows by term ONCE per bucket and skip the per-query
    pandas filter/itertuples/DataFrame round-trip — at 256 queries x 64
    buckets that pandas overhead was 85% of kernel CPU (profiled).

    ``bounds=(lo, hi)``: keep only decoded docIds in the inclusive range —
    bucketed rows ship whole blocks, so a bucket may receive postings that
    belong to a neighbor and MUST drop them (a doc scores in exactly one
    bucket)."""
    rows = []
    for r in row_objs:
        idf, qtf = qmeta[r.term]
        ub = qtf * idf * _tf_upper_scalar(scorer, float(r.max_tf))
        rows.append((ub, r))
    rows.sort(key=lambda x: -x[0])
    # Per-doc remaining-gain bounds, SALT-AWARE: a doc appears in at most ONE
    # row per term (salt = f(docId); batches partition docIds), so the gain
    # still available to any doc from rows i.. is Σ over TERMS of that term's
    # max row-UB among rows i.. — NOT the sum over all remaining rows, which
    # over-counts salted terms by n_salts and (measured) never prunes.
    n_rows = len(rows)
    terms_of = [r.term for _, r in rows]
    ubs = np.array([ub for ub, _ in rows], dtype=np.float64)
    suffix_max: dict[str, np.ndarray] = {
        t: np.zeros(n_rows + 1) for t in set(terms_of)
    }
    for t, arr in suffix_max.items():
        for i in range(n_rows - 1, -1, -1):
            arr[i] = max(arr[i + 1], ubs[i] if terms_of[i] == t else 0.0)
    # suffix_ub[i] = max TOTAL gain from rows i.. for any single doc
    suffix_ub = np.zeros(n_rows + 1)
    for arr in suffix_max.values():
        suffix_ub += arr

    can_prune = prune and k is not None and scorer.kind == "bm25"

    def contribs(r, tfs, dls):
        idf, qtf = qmeta[r.term]
        tfs = tfs.astype(np.float64)
        if scorer.kind == "bm25":
            c = qtf * idf * tfs * (scorer.k1 + 1.0) / (
                tfs + scorer.k1 * (1.0 - scorer.b + scorer.b * dls / avgdl)
            )
            return c, None
        wd = tfs * idf
        return wd * (qtf * idf), wd * wd

    acc_doc: list[np.ndarray] = []
    acc_dot: list[np.ndarray] = []
    acc_len: list[np.ndarray] = []
    theta = -np.inf
    # running (sorted candidate docIds, their accumulated partial scores) —
    # refreshed after every decoded row; drives both θ and the block bounds
    cand: np.ndarray | None = None
    cpart: np.ndarray | None = None
    for i, (ub, r) in enumerate(rows):
        # strict <: a doc tying θ exactly could still enter top-k on tiebreak
        blast = _blk_i64(r.block_last_docid)
        take = np.ones(len(blast), dtype=bool)
        if can_prune and theta > -np.inf:
            # Per-block admission (block-max WAND, every row): a block must
            # decode iff SOMEONE in it could still reach the k-th final
            # score. Two cases, both bounded by this block's UB plus later
            # rows of OTHER terms only (a doc has exactly one salted row per
            # term, so this row is its single row for this term):
            #   new doc   : bub + rest_other            (cpart = 0)
            #   known doc : maxp + bub + rest_other     (maxp over VIABLE
            #               candidates in the block's docId range)
            # VIABLE = cpart + suffix_ub[i] >= θ: a doc below that can never
            # reach the k-th final (bm25 partials only grow) and must not
            # keep blocks alive. Top-k docs stay viable at all times (their
            # partial + remaining UB ≥ their final ≥ θ), so every block a
            # top-k doc needs still decodes; skipped docs may report
            # under-accumulated scores but are truncated away, and θ only
            # ever UNDER-estimates, so pruning stays sound. Clustered docIds
            # bite exactly here: viable candidates concentrate in few docId
            # ranges, and block runs outside them fail both cases.
            idf, qtf = qmeta[r.term]
            bub = qtf * idf * _tf_upper(scorer, _blk_i32(r.block_max_tf))
            rest_other = suffix_ub[i + 1] - suffix_max[r.term][i + 1]
            new_ok = (bub + rest_other) >= theta
            if cand is not None:
                viable = (cpart + suffix_ub[i]) >= theta
                want, wpart = cand[viable], cpart[viable]
            else:
                want = np.empty(0, np.int64)
                wpart = np.empty(0, np.float64)
            prev = np.concatenate(([np.int64(-1)], blast[:-1]))
            lo = np.searchsorted(want, prev, "right")
            hi = np.searchsorted(want, blast, "right")
            known_ok = np.zeros(len(blast), dtype=bool)
            for b in np.flatnonzero(hi > lo):
                known_ok[b] = (wpart[lo[b] : hi[b]].max() + bub[b] + rest_other) >= theta
            take = new_ok | known_ok
        if stats is not None:  # pruning-effectiveness audit (tools/wand_audit.py)
            stats["blocks_total"] = stats.get("blocks_total", 0) + int(len(take))
            stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + int(take.sum())
        d, t, l = _decode_row_blocks(r, take)
        if bounds is not None and len(d):
            i0 = np.searchsorted(d, bounds[0], "left")
            i1 = np.searchsorted(d, bounds[1], "right")
            d, t, l = d[i0:i1], t[i0:i1], l[i0:i1]
        if deleted is not None and len(d):
            # tombstone mask (operators/delete.py): drop deleted docs as
            # they decode — θ then only ever reflects live docs, and block
            # upper bounds remain valid over-estimates, so lazy deletion
            # composes with block-max pruning. `deleted` is sorted.
            pos = np.searchsorted(deleted, d)
            pos[pos == deleted.size] = 0
            keep = deleted[pos] != d if deleted.size else np.ones(len(d), bool)
            d, t, l = d[keep], t[keep], l[keep]
        if len(d) == 0:
            continue
        dot, ln = contribs(r, t, l)
        acc_doc.append(d)
        acc_dot.append(dot)
        if ln is not None:
            acc_len.append(ln)
        if can_prune:
            all_doc = np.concatenate(acc_doc)
            cand, inv = np.unique(all_doc, return_inverse=True)
            cpart = np.bincount(inv, weights=np.concatenate(acc_dot))
            if len(cpart) >= k:
                theta = float(np.partition(cpart, -k)[-k])
    if not acc_doc:
        z = np.empty(0, dtype=np.int64)
        return z, np.empty(0, dtype=np.float64)
    all_doc = np.concatenate(acc_doc)
    uq, inv = np.unique(all_doc, return_inverse=True)
    dot = np.bincount(inv, weights=np.concatenate(acc_dot))
    if scorer.kind == "bm25":
        score = dot
    else:
        ln = (
            np.bincount(inv, weights=np.concatenate(acc_len))
            if acc_len
            else np.zeros(len(uq))
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            score = np.where(ln > 0, dot / np.sqrt(ln), 0.0)
    if k is not None and len(uq) > k:
        # local top-k truncation MUST use the same tie-break as the global
        # sort (score desc, then docId per `ties`): with the global order
        # docId-asc, a bucket breaking ties docId-desc would locally drop
        # the smaller docId — the global winner. Reference comparators:
        # per-segment docId-desc IIM:1266-1288, combined-mode docId-asc
        # IIM:1103-1114. Integer tie key (no float cast — docIds > 2^53
        # would lose precision).
        tie = uq if ties == "asc" else -uq
        order = np.lexsort((tie, -score))[:k]
        uq, score = uq[order], score[order]
    return uq, score


def _daat_rows_batch(
    all_rows: list,
    rows_by_term: dict[str, list[int]],
    qmetas: dict[int, dict[str, tuple[float, int]]],
    scorer: Scorer,
    avgdl: float,
    k: int | None,
    ties: str = "desc",
    deleted: np.ndarray | None = None,
    bounds: tuple[int, int] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode-once vectorized twin of the per-query :func:`_daat_rows` loop
    for a whole workload -> (qids, docIds, scores), per-qid top-k applied.

    The per-query loop re-decodes a packed row for EVERY query that touches
    its term and pays ~100-200µs of small-numpy fixed cost per (query,
    bucket) call — at 4096 queries x 64 buckets that is ~260k kernel calls
    and decode of shared heavy terms repeats thousands of times. Here each
    packed row decodes exactly once per bucket, each (row, qtf) contribution
    array is computed once and shared by every query using that term, and
    the whole bucket reduces with ONE unique/bincount + ONE segmented top-k
    pass, so work scales with total postings, not query count.

    Reduction is ACCUMULATOR-based, not sort-based: the bucket builds ONE
    dense doc dictionary (``np.unique`` over the DISTINCT decoded postings —
    not the Q-multiplied concat), maps each row's docIds into it once, and
    then each query reduces with per-row ``np.bincount`` adds into a
    dictionary-sized accumulator. The previous reduce sorted an 8-byte
    combined key across every (query, posting) pair — ~10 DRAM passes per
    scored posting, which made the kernel memory-bandwidth-bound and
    anti-scale with cores (BENCH.md query-scaling note, r3 eff 0.659). Here
    the per-posting traffic is two streaming reads (index + contribution)
    and all reduce state (accumulator, epoch mask) is O(distinct docs in
    bucket) — L2-resident at any sane bucket size — so throughput scales
    with cores, not with one memory controller.

    Output is BIT-IDENTICAL to running :func:`_daat_rows` per query with
    ``prune=False`` (and rank/score-identical to ``prune=True``, whose
    returned top-k scores are exact — asserted by tools/wand_audit.py):

    - contribution arrays evaluate the same expression with the same scalar
      (qtf, idf) bindings, so they are the same floats;
    - per (qid, docId) the partial sums add in UB-desc row order (stable
      sort, same key), exactly the order the per-query loop feeds its own
      bincount; a doc absent from a row contributes bincount's +0.0, which
      is exact (contributions are never -0.0/NaN);
    - the local top-k uses the same (score desc, docId ``ties``) lexsort.
    """
    decode_cache: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    contrib_cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray | None]] = {}

    def decoded(ri: int):
        got = decode_cache.get(ri)
        if got is None:
            d, t, l = _decode_row_blocks(all_rows[ri], None)
            if bounds is not None and len(d):
                i0 = np.searchsorted(d, bounds[0], "left")
                i1 = np.searchsorted(d, bounds[1], "right")
                d, t, l = d[i0:i1], t[i0:i1], l[i0:i1]
            if deleted is not None and len(d):
                pos = np.searchsorted(deleted, d)
                pos[pos == deleted.size] = 0
                keep = deleted[pos] != d if deleted.size else np.ones(len(d), bool)
                d, t, l = d[keep], t[keep], l[keep]
            got = decode_cache[ri] = (d, t, l)
        return got

    def contribs_of(ri: int, idf: float, qtf: int):
        got = contrib_cache.get((ri, qtf))
        if got is None:
            d, t, l = decoded(ri)
            tfs = t.astype(np.float64)
            if scorer.kind == "bm25":
                c = qtf * idf * tfs * (scorer.k1 + 1.0) / (
                    tfs + scorer.k1 * (1.0 - scorer.b + scorer.b * l / avgdl)
                )
                got = (c, None)
            else:
                wd = tfs * idf
                got = (wd * (qtf * idf), wd * wd)
            contrib_cache[(ri, qtf)] = got
        return got

    # 1) dense doc dictionary over the DISTINCT postings any query touches
    used_ris: list[int] = []
    seen_ri: set[int] = set()
    for qm in qmetas.values():
        for t in qm:
            for ri in rows_by_term.get(t, ()):
                if ri not in seen_ri:
                    seen_ri.add(ri)
                    used_ris.append(ri)
    d_parts = [d for d in (decoded(ri)[0] for ri in used_ris) if len(d)]
    if not d_parts:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), np.empty(0, dtype=np.float64)
    all_docs = np.unique(np.concatenate(d_parts) if len(d_parts) > 1 else d_parts[0])
    n_dict = len(all_docs)
    # 2) per-row dictionary indices, computed once and shared by every query
    idx_cache: dict[int, np.ndarray] = {
        ri: np.searchsorted(all_docs, decoded(ri)[0]) for ri in used_ris
    }

    is_tfidf = scorer.kind != "bm25"
    epoch = np.zeros(n_dict, dtype=np.int64)  # last query to touch each doc
    out_qid: list[np.ndarray] = []
    out_doc: list[np.ndarray] = []
    out_score: list[np.ndarray] = []
    for qno, (qid, qm) in enumerate(qmetas.items(), start=1):
        # same row order as the per-query path: qm iteration order, then a
        # STABLE sort by UB desc (equal-UB rows keep their relative order)
        pairs = [
            (qm[t][1] * qm[t][0] * _tf_upper_scalar(scorer, float(all_rows[ri].max_tf)), ri, t)
            for t in qm
            if t in rows_by_term
            for ri in rows_by_term[t]
        ]
        pairs.sort(key=lambda x: -x[0])
        acc: np.ndarray | None = None
        acc_ln: np.ndarray | None = None
        one: tuple[np.ndarray, np.ndarray, np.ndarray | None] | None = None
        n_live = 0
        for _, ri, t in pairs:
            idx = idx_cache[ri]
            if not len(idx):
                continue
            idf, qtf = qm[t]
            dot, ln = contribs_of(ri, idf, qtf)
            n_live += 1
            if n_live == 1:
                # defer: a single-row query (most rare-term queries) needs
                # no accumulator at all — its row IS the grouped result
                one = (idx, dot, ln)
                continue
            if n_live == 2:
                pidx, pdot, pln = one  # type: ignore[misc]
                acc = np.bincount(pidx, weights=pdot, minlength=n_dict)
                if is_tfidf:
                    acc_ln = np.bincount(pidx, weights=pln, minlength=n_dict)
                epoch[pidx] = qno
                one = None
            acc += np.bincount(idx, weights=dot, minlength=n_dict)
            if is_tfidf:
                acc_ln += np.bincount(idx, weights=ln, minlength=n_dict)
            epoch[idx] = qno
        if n_live == 0:
            continue
        if one is not None:
            idx, dot_q, ln_q = one
            docs_q = all_docs[idx]
        else:
            sel = np.flatnonzero(epoch == qno)
            docs_q = all_docs[sel]
            dot_q = acc[sel]
            ln_q = acc_ln[sel] if is_tfidf else None
        if is_tfidf:
            with np.errstate(divide="ignore", invalid="ignore"):
                score_q = np.where(ln_q > 0, dot_q / np.sqrt(ln_q), 0.0)
        else:
            score_q = dot_q
        if k is not None and len(docs_q) > k:
            tie = docs_q if ties == "asc" else -docs_q
            order = np.lexsort((tie, -score_q))[:k]
            docs_q, score_q = docs_q[order], score_q[order]
        out_qid.append(np.full(len(docs_q), qid, dtype=np.int64))
        out_doc.append(np.asarray(docs_q, dtype=np.int64))
        out_score.append(np.asarray(score_q, dtype=np.float64))
    if not out_qid:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), np.empty(0, dtype=np.float64)
    return (
        np.concatenate(out_qid),
        np.concatenate(out_doc),
        np.concatenate(out_score),
    )


# Segments are TERM-partitioned (the build's repartition-by-term), so one
# doc's query terms live in different segment rows/files. Distributed DAAT
# therefore re-keys the *compressed* posting blocks by global docId range:
# every slice is a pure byte-range of whole blocks (delta chains restart per
# block — no decode in the splitter at all); a block overlapping several
# buckets is SHIPPED WHOLE to each of them and the scoring kernel masks
# decoded docIds to the bucket's [lo_docid, hi_docid] range. (The previous
# design re-encoded edge-straddling blocks exactly per bucket — but with
# uniform docIds and many buckets nearly EVERY block straddles, and the
# per-(block, bucket) python decode/re-encode was 30s single-threaded on a
# 4096-query workload vs <1s of byte slicing. Masking after decode costs two
# searchsorteds; duplicated block bytes cost C-level copies only.) Each
# bucket then holds every query-term posting for its docId range => the
# per-bucket kernel computes complete scores and a valid local top-k.

from pyspark.sql.types import BinaryType, IntegerType, StringType

# per-(bucket, merge-shard) packed top-k results (little-endian i64/i64/f8
# arrays): the blob merge path of score_queries_daat_batch. ``mkey`` shards
# the merge by qid (qid % n_merge) so the final selection parallelizes —
# every candidate of a given qid carries the same mkey, so a hash
# repartition on it keeps per-qid top-k exact.
PACKED_TOPK_SCHEMA = StructType(
    [
        StructField("mkey", IntegerType(), True),
        StructField("qids", BinaryType(), True),
        StructField("docids", BinaryType(), True),
        StructField("scores", BinaryType(), True),
    ]
)

BUCKETED_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        # this bucket owns docIds in [lo_docid, hi_docid] (inclusive);
        # kernels drop decoded postings outside it (block duplication)
        StructField("lo_docid", LongType(), False),
        StructField("hi_docid", LongType(), False),
        StructField("term", StringType(), False),
        StructField("max_tf", IntegerType(), False),
        StructField("docids", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("dls", BinaryType(), False),
        # block metadata packed as little-endian bytes (i64 / i32): Arrow
        # list<int> cells box every element twice (python list build at the
        # splitter, list-array build at serialization); these are zero-copy
        # numpy views via _blk_i64/_blk_i32
        StructField("block_last_docid", BinaryType(), False),
        StructField("block_max_tf", BinaryType(), False),
        StructField("block_docid_off", BinaryType(), False),
        StructField("block_tf_off", BinaryType(), False),
        StructField("block_dl_off", BinaryType(), False),
    ]
)


# Sentinel bounds for the edge buckets: bucket 0 owns every docId at or
# below edges[0] and the last bucket everything above edges[-2], so a
# docid_span narrower than the data (e.g. a manifest span that predates a
# later-appended batch) is a pure bucket-SIZING hint, never a correctness
# constraint — out-of-span docs land in an edge bucket and its widened
# [lo, hi] mask keeps them. (Without this, docs above edges[-1] raised
# IndexError in the splitter and docs below lo_global were silently
# dropped by the kernel range mask.)
_DOCID_MIN, _DOCID_MAX = -(2**63), 2**63 - 1


def _bucket_bounds(b: int, edges: np.ndarray, lo_global: int) -> tuple[int, int]:
    """Inclusive [lo, hi] docId range owned by bucket b (edge buckets are
    open-ended via sentinels — see note above)."""
    lo = int(edges[b - 1]) + 1 if b > 0 else _DOCID_MIN
    hi = int(edges[b]) if b < len(edges) - 1 else _DOCID_MAX
    return lo, hi


def _split_row_exact(r, edges: np.ndarray, lo_global: int):
    """Decode one packed row ONCE and re-encode an exact per-bucket slice —
    the path for SPARSE rows (rare terms) whose blocks span many buckets:
    shipping such a block whole to all ~n_buckets buckets multiplies both
    shuffle bytes and kernel decode by the coverage (measured 2x slices,
    3.4x wall on a 4096-query workload at 64 buckets). The re-encoded slice
    is a single block; the dispatch condition bounds postings per covered
    bucket to BLOCK_SIZE/2 ON AVERAGE (a skewed bucket can exceed it), so
    slices stay well under one block in expectation and block-max
    granularity is effectively preserved."""
    d, t, l = _decode_row_blocks(r, None)
    bks = np.minimum(np.searchsorted(edges, d, "left"), len(edges) - 1)
    starts = np.flatnonzero(np.diff(bks)) + 1
    bnds = np.concatenate(([0], starts, [len(d)]))
    # re-encode the WHOLE row in one vectorized pass, delta chain restarting
    # at every slice start (the build's posbin trick) — per slice only pure
    # byte slicing remains (per-slice varbyte calls were ~40µs of small-numpy
    # overhead each, 30s+ over a 4096-query workload's 200k slices)
    deltas = d.copy()
    deltas[1:] -= d[:-1]
    deltas[starts] = d[starts]
    bufs, cums = [], []
    for arr in (deltas, t, l):
        bufs.append(varbyte_encode(arr))
        cum = np.zeros(len(arr) + 1, dtype=np.int64)
        np.cumsum(_byte_lens(arr), out=cum[1:])
        cums.append(cum)
    mts = np.maximum.reduceat(t, bnds[:-1])
    lasts_i8 = d[bnds[1:] - 1].astype("<i8").tobytes()
    mts_i4 = mts.astype("<i4").tobytes()
    for j in range(len(bnds) - 1):
        b = int(bks[bnds[j]])
        lo_b, hi_b = _bucket_bounds(b, edges, lo_global)
        yield (
            b,
            lo_b,
            hi_b,
            r.term,
            int(mts[j]),
            bufs[0][cums[0][bnds[j]] : cums[0][bnds[j + 1]]],
            bufs[1][cums[1][bnds[j]] : cums[1][bnds[j + 1]]],
            bufs[2][cums[2][bnds[j]] : cums[2][bnds[j + 1]]],
            lasts_i8[j * 8 : (j + 1) * 8],
            mts_i4[j * 4 : (j + 1) * 4],
            _I32_ZERO,
            _I32_ZERO,
            _I32_ZERO,
        )


_I32_ZERO = np.zeros(1, "<i4").tobytes()


def _split_row_by_bucket(r, edges: np.ndarray, lo_global: int):
    """Yield (bucket, lo, hi, *fields) whole-block byte slices of one packed
    segment row — one slice per bucket the row's blocks overlap, no decode.

    Blocks are docId-sorted, so the blocks overlapping bucket b form a
    contiguous run: first block whose last docId reaches b, through the last
    block that can start at or below b (bounded by the previous block's last
    docId + 1 — a conservative start, so a bucket may receive a block with
    no postings for it; the kernel's range mask drops them).

    Sparse rows — fewer than BLOCK_SIZE/2 postings per covered bucket —
    dispatch to :func:`_split_row_exact` instead: duplicating a whole block
    to every bucket a 128-posting rare term touches is pure waste, while for
    dense rows (heavy terms, blocks spanning 2-4 buckets) byte-duplication
    beats decode/re-encode and keeps real block-max granularity."""
    blast = np.asarray(r.block_last_docid, dtype=np.int64)
    bmax = np.asarray(r.block_max_tf, dtype=np.int64)
    offs_d = np.append(np.asarray(r.block_docid_off, np.int64), len(r.docids))
    offs_t = np.append(np.asarray(r.block_tf_off, np.int64), len(r.tfs))
    offs_l = np.append(np.asarray(r.block_dl_off, np.int64), len(r.dls))
    nb = len(blast)
    prev = np.empty(nb, dtype=np.int64)
    prev[0] = r.min_docid - 1
    prev[1:] = blast[:-1]
    last_b = len(edges) - 1
    b_lo = np.minimum(np.searchsorted(edges, prev + 1, "left"), last_b)
    b_hi = np.minimum(np.searchsorted(edges, blast, "left"), last_b)
    covered = int(b_hi[-1]) - int(b_lo[0]) + 1
    # shipped = Σ per-block bucket coverage = (bucket, block) copies the
    # whole-block path would emit. Blocks are disjoint SORTED docId runs,
    # so Σ coverage ≤ nb + (edges inside the row's span) ≤ nb + n_buckets
    # − 1 for ANY id distribution — adversarial interleave cannot blow this
    # up (tests/test_bucket_skew.py crafts the worst cases and measures
    # 1.88x). Combined with the dense condition (ndocs ≥ covered·B/2 ⇒
    # nb ≥ covered/2), dense-path duplication is provably ≤ 3x and
    # typically ≤ 2x. The explicit cap below is a belt-and-suspenders
    # dispatch: any boundary case above _MAX_AVG_BLOCK_DUP× falls back to
    # the exact splitter, which (sorted ids again) emits ≤ n_buckets
    # zero-duplication slices. (VERDICT r4 item 8.)
    shipped = int((b_hi - b_lo + 1).sum())
    if covered > 1 and (
        r.ndocs < covered * (BLOCK_SIZE // 2)
        or shipped > _MAX_AVG_BLOCK_DUP * nb
    ):
        yield from _split_row_exact(r, edges, lo_global)
        return
    for b in range(int(b_lo[0]), int(b_hi[-1]) + 1):
        i0 = int(np.searchsorted(b_hi, b, "left"))
        i1 = int(np.searchsorted(b_lo, b, "right"))  # one past last block
        if i0 >= i1:
            continue
        lo_b, hi_b = _bucket_bounds(b, edges, lo_global)
        yield (
            b,
            lo_b,
            hi_b,
            r.term,
            int(bmax[i0:i1].max()),
            r.docids[int(offs_d[i0]) : int(offs_d[i1])],
            r.tfs[int(offs_t[i0]) : int(offs_t[i1])],
            r.dls[int(offs_l[i0]) : int(offs_l[i1])],
            blast[i0:i1].astype("<i8").tobytes(),
            bmax[i0:i1].astype("<i4").tobytes(),
            (offs_d[i0:i1] - offs_d[i0]).astype("<i4").tobytes(),
            (offs_t[i0:i1] - offs_t[i0]).astype("<i4").tobytes(),
            (offs_l[i0:i1] - offs_l[i0]).astype("<i4").tobytes(),
        )


# Target scoring work per bucket (posting-score evaluations): enough that
# per-bucket fixed costs (task launch, kernel setup, dictionary build)
# amortize, small enough that a workload with real work still fans out.
_WORK_PER_BUCKET = 1 << 19

# Whole-block bucketize duplication cap: beyond this average copies/block
# a row dispatches to the exact splitter (zero duplication) instead — see
# _split_row_by_bucket. 2 keeps the common contiguous-dense fast path
# (boundary blocks only) while bounding adversarial-interleave shuffle
# amplification at 2x packed bytes.
_MAX_AVG_BLOCK_DUP = 2

# Kernel crossover for score_queries_daat_batch(vectorized=None): below this
# many queries the per-query block-max pruning loop would win. Measured by
# tools/kernel_crossover.py (Q in 1..128, fixed 480k-doc index, BENCH.md):
# the accumulator kernel won or tied at EVERY Q — including Q=1 over
# all-heavy-term queries, pruning's best case by posting volume — because
# the pruned loop's per-row candidate/θ refresh costs more than the decode
# it skips once decode is shared and the reduce is L2-resident. So auto
# always picks the accumulator kernel; ``vectorized=False`` remains for
# explicit use (tools/wand_audit.py measures its decode-skip rate, which
# still matters when a single query's candidate postings dwarf cache).
_AUTO_VECTORIZED_MIN_Q = 1

# Packed-blob merge ceiling (entries = Q x k x buckets): below this, the
# per-bucket top-k results ship as packed binary rows and merge in a few
# vectorized tasks; above it, the distributed row merge takes over
# (8M entries ~ 190 MB through the blob shuffle).
_BLOB_MERGE_CAP = 8_000_000

# Entries per blob-merge task. One giant merge task was a measured serial
# tail on big workloads (Q=16k, k=10, 32 buckets -> 5.2M candidate entries:
# one task concatenates ~126 MB and lexsorts it while every other core
# idles). Sharding the merge by qid (each bucket splits its packed arrays
# by qid % n_merge) keeps the merge selection-exact per qid and lets the
# tail scale with cores; ~0.5M entries/task keeps per-task overhead
# amortized while small workloads still collapse to one task.
_MERGE_ENTRIES_PER_TASK = 1 << 19


# Above this fraction of the vocabulary, a query workload's candidate
# filter stops paying: the IN predicate prunes little while its FIXED cost
# grows with term count (a ~19k-literal predicate measured ~3.3s of driver
# build + Catalyst parse + per-task filter setup — cores-independent, so it
# caps N->4N scaling on big batched workloads).
_FILTER_COVERAGE_MAX = 0.5


def _candidate_scan(segments: DataFrame, live_terms: list[str], term_stats) -> DataFrame:
    """Candidate segment rows for a workload: term-pushdown scan, OR the
    unfiltered scan when the workload covers most of the vocabulary.

    Skipping the filter is semantically safe: the batch kernel touches rows
    only through qmeta-term lookups (``rows_by_term``), so non-query rows
    ride the splitter shuffle (or the one-task scan) but are never decoded
    or scored. The trade is (1-coverage) extra shuffled bytes vs ~seconds
    of fixed predicate cost — at >50% coverage the bytes are cheaper at
    every level, and MORE so at high parallelism (bytes scale out, fixed
    cost does not). The coverage
    test needs the vocabulary size driver-side, so it only engages on the
    serving path (``term_stats`` as a pandas frame via
    ``load_term_stats_pdf``); Spark-DataFrame stats keep the pushdown."""
    if isinstance(term_stats, pd.DataFrame):
        n_vocab = len(term_stats)
        if n_vocab and len(live_terms) / n_vocab > _FILTER_COVERAGE_MAX:
            return segments
    return segments.where(isin_expr("term", live_terms))


def _auto_buckets(spark: SparkSession, est_work: int | None) -> int:
    """Bucket count for an estimated workload (Σ over queries×terms of df).

    Too many buckets multiplies whole-block duplication and per-bucket
    kernel overhead (64 buckets measured ~35% slower than 32 on a 4096-query
    workload); too few serializes the kernel stage. Scale with the work
    estimate, capped at the session's shuffle parallelism — a workload whose
    candidate postings fit one task's budget gets ONE bucket, and the DAAT
    entry points then skip the splitter and the bucket shuffle entirely
    (:func:`_one_task`: a 60-query rank-identity batch pays 1 kernel call in
    1 task instead of 32 near-empty ones)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if est_work is None:
        return cap
    return max(1, min(cap, -(-int(est_work) // _WORK_PER_BUCKET)))


# Packed segment columns the DAAT kernels read (block metadata as Arrow
# lists here; _blk_i64/_blk_i32 read both these and the bucketed bytes).
_SEG_KERNEL_COLS = [
    "term", "max_tf", "docids", "tfs", "dls", "block_last_docid",
    "block_max_tf", "block_docid_off", "block_tf_off", "block_dl_off",
]


def _bucketize_segments(
    spark: SparkSession,
    seg: DataFrame,
    n_buckets: int,
    docid_span: tuple[int, int] | None = None,
    est_work: int | None = None,
) -> DataFrame | None:
    """Re-key packed segment rows by docId-range bucket (whole-block byte
    slicing with kernel-side range masks; sparse rows take one vectorized
    exact split — see :func:`_split_row_by_bucket`). Shared by the
    multi-bucket single-query and batch DAAT plans and by the serving
    cache, which writes these rows as its shards at any bucket count.

    ``docid_span``: (lo, hi) inclusive docId bounds to bucket over. Pass the
    index-global span from the manifest (``stats.docid_lo/docid_hi``,
    written by finalize_index) to skip the span-agg job — a fixed Spark
    round-trip per workload. Without a span, the span-agg job runs
    and None is returned when no candidate rows exist; with one, no job
    runs here and an empty candidate set yields an empty frame. The span is
    a bucket-SIZING hint only:
    edge buckets are open-ended (see ``_bucket_bounds``), so a span that is
    narrower OR wider than the candidate docIds still scores every posting
    exactly once; surplus buckets are empty and cost nothing."""
    if docid_span is not None:
        lo, hi = int(docid_span[0]), int(docid_span[1])
    else:
        span = seg.agg(
            F.min("min_docid").alias("lo"),
            F.max(F.element_at("block_last_docid", -1)).alias("hi"),
        ).collect()[0]
        if span["lo"] is None:
            return None
        lo, hi = int(span["lo"]), int(span["hi"])
    # inclusive upper bounds per bucket over the candidate docId span
    edges = np.unique(np.linspace(lo, hi, n_buckets + 1).astype(np.int64)[1:])
    edges[-1] = hi

    def splitter(batches):
        for pdf in batches:
            out = [
                tup
                for r in pdf.itertuples(index=False)
                for tup in _split_row_by_bucket(r, edges, lo)
            ]
            if out:
                # columnar construction: pd.DataFrame(list-of-tuples) routes
                # through a 2-D object array (row-wise) — zip keeps each
                # column a flat tuple of scalars/bytes
                cols = zip(BUCKETED_SCHEMA.fieldNames(), zip(*out))
                yield pd.DataFrame(dict(cols))

    narrowed = seg.select(*_SEG_KERNEL_COLS, "min_docid", "ndocs")
    # The parquet scan coalesces by FILE bytes (maxPartitionBytes), which
    # lands big-workload candidate scans on a handful of partitions — the
    # python splitter then runs e.g. 9 tasks on 8 cores: one full wave plus
    # a 1-task straggler wave (measured 4.2s of an 18.8s workload), while
    # low core counts pack the same 9 tasks tightly. Rebalance to a few
    # tasks per core when the scan is too coarse; the shuffled volume is
    # only the FILTERED packed rows (~tens of MB for thousand-term
    # workloads), far cheaper than the lost wave.
    target = 2 * spark.sparkContext.defaultParallelism
    big_enough = est_work is None or est_work >= 2 * _WORK_PER_BUCKET
    if big_enough and narrowed.rdd.getNumPartitions() < target:
        narrowed = narrowed.repartition(target)
    bucketed = narrowed.mapInPandas(splitter, BUCKETED_SCHEMA)
    # EXPLICIT repartition by bucket, one partition per bucket: the scoring
    # kernel downstream is python-CPU-heavy per group but byte-light, and
    # AQE's coalescePartitions sizes post-shuffle partitions by BYTES — left
    # to groupBy's own exchange it coalesces a small candidate set into ONE
    # task and serializes the whole kernel stage (measured: 64 buckets x
    # 0.45s ran 25s on 8 cores). An explicit numPartitions is exempt from
    # AQE coalescing, and groupBy("bucket") reuses this partitioning without
    # a second exchange.
    return bucketed.repartition(len(edges), "bucket")


def _pdf_bounds(pdf: pd.DataFrame) -> tuple[int, int] | None:
    """Inclusive docId range one kernel call owns. Bucketed rows carry their
    bucket's [lo_docid, hi_docid]; whole segment rows (:func:`_one_task`)
    own every docId, so their decoded postings need no range mask."""
    if "lo_docid" not in pdf.columns:
        return None
    return int(pdf["lo_docid"].iat[0]), int(pdf["hi_docid"].iat[0])


def _one_task(seg: DataFrame, kernel, schema: StructType) -> DataFrame:
    """The one-bucket DAAT plan: candidate segment rows -> ``coalesce(1)``
    -> ONE ``kernel(pdf)`` call over every whole packed row. No splitter
    stage and no bucket exchange, so the plan is a single stage of one
    task; the kernel's local top-k is already global. Emits no rows when
    no candidate row exists."""

    def run(batches):
        pdfs = [pdf for pdf in batches if len(pdf)]
        if pdfs:
            yield kernel(pd.concat(pdfs, ignore_index=True))

    return seg.select(*_SEG_KERNEL_COLS).coalesce(1).mapInPandas(run, schema)


def _n_merge_tasks(spark: SparkSession, blob_ceiling: int) -> int:
    """Merge-shard count for the packed-blob top-k: ~0.5M entries per task,
    capped at the session's parallelism (1 for small workloads = the old
    single-task merge)."""
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-int(blob_ceiling) // _MERGE_ENTRIES_PER_TASK),
        ),
    )


def _score_bucket_rows(
    pdf: pd.DataFrame,
    qmetas: dict[int, dict[str, tuple[float, int]]],
    scorer: Scorer,
    avgdl: float,
    k: int | None,
    ties: str,
    deleted: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Score one bucket's packed rows for a whole workload — the shared
    vectorized core of the in-plan kernels and the serving-cache kernel
    (operators/serving.py). Bounds come from the rows themselves
    (:func:`_pdf_bounds`)."""
    all_rows = list(pdf.itertuples(index=False))
    rows_by_term_i: dict[str, list[int]] = {}
    for i, r in enumerate(all_rows):
        rows_by_term_i.setdefault(r.term, []).append(i)
    return _daat_rows_batch(
        all_rows, rows_by_term_i, qmetas, scorer, avgdl, k, ties, deleted,
        _pdf_bounds(pdf),
    )


def _packed_shards(
    qv: np.ndarray, dv: np.ndarray, sv: np.ndarray, n_merge: int
) -> pd.DataFrame:
    """Pack per-bucket top-k arrays into PACKED_TOPK_SCHEMA rows, one per
    merge shard (qid % n_merge) — all candidates of a qid share a shard, so
    the sharded merge stays selection-exact per qid."""
    if not len(qv):
        return pd.DataFrame(
            {"mkey": pd.Series(dtype="int32"),
             "qids": pd.Series(dtype=object),
             "docids": pd.Series(dtype=object),
             "scores": pd.Series(dtype=object)}
        )
    if n_merge == 1:
        shards = [(0, np.arange(len(qv)))]
    else:
        mk = (qv % n_merge).astype(np.int64)
        shards = [(r, np.nonzero(mk == r)[0]) for r in range(n_merge)]
        shards = [(r, ix) for r, ix in shards if len(ix)]
    return pd.DataFrame(
        {
            "mkey": np.array([r for r, _ in shards], dtype="int32"),
            "qids": [qv[ix].astype("<i8").tobytes() for _, ix in shards],
            "docids": [dv[ix].astype("<i8").tobytes() for _, ix in shards],
            "scores": [sv[ix].astype("<f8").tobytes() for _, ix in shards],
        }
    )


def _merge_packed(batches, k: int, ties: str):
    """Final vectorized per-qid top-k over packed shard rows (generator for
    mapInPandas)."""
    qs, ds, ss = [], [], []
    for pdf in batches:
        for r in pdf.itertuples(index=False):
            qs.append(np.frombuffer(r.qids, "<i8"))
            ds.append(np.frombuffer(r.docids, "<i8"))
            ss.append(np.frombuffer(r.scores, "<f8"))
    if not qs:
        return
    flat = pd.DataFrame(
        {
            "qid": np.concatenate(qs),
            "docId": np.concatenate(ds),
            "score": np.concatenate(ss),
        }
    )
    yield _topk_pdf_for(flat, k, ties)


def _prep_workload(
    term_stats,
    queries: dict[int, list[str]],
    scorer: Scorer,
    n_docs: int,
    analyzer: str,
) -> tuple[dict[int, dict[str, tuple[float, int]]], list[str], int]:
    """Driver-side workload prep shared by the in-plan and cached batch
    paths: analyze queries, look up dfs, build per-query (idf, qtf) metas.
    Returns (qmetas, live_terms, est_work); empty qmetas => empty result."""
    per_q: dict[int, dict[str, int]] = {}
    for qid, kw in queries.items():
        qtfs = query_tfs(kw, analyzer)
        if qtfs:
            per_q[int(qid)] = qtfs
    union_terms = sorted({t for q in per_q.values() for t in q})
    if not union_terms:
        return {}, [], 0
    df_map = _term_dfs(term_stats, union_terms)
    idf_map = {
        t: float(scorer.idf(float(n_docs), np.array([df]))[0])
        for t, df in df_map.items()
    }
    qmetas: dict[int, dict[str, tuple[float, int]]] = {}
    for qid, qtfs in per_q.items():
        qm = {t: (idf_map[t], int(qtf)) for t, qtf in qtfs.items() if t in idf_map}
        if qm:
            qmetas[qid] = qm
    live_terms = sorted({t for qm in qmetas.values() for t in qm})
    est_work = sum(df_map[t] for qm in qmetas.values() for t in qm if t in df_map)
    return qmetas, live_terms, est_work


def score_queries_daat_batch(
    spark: SparkSession,
    segments: DataFrame,
    term_stats: DataFrame,
    queries: dict[int, list[str]],
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer(),
    k: int | None = 10,
    analyzer: str = "porter",
    prune: bool = True,
    ties: str = "desc",
    n_buckets: int | None = None,
    deleted: np.ndarray | None = None,
    docid_span: tuple[int, int] | None = None,
    vectorized: bool | None = None,
) -> DataFrame:
    """Batch DAAT for a WHOLE QUERY WORKLOAD -> (qid, docId, score).

    One ``term IN (union of all query terms)`` segment scan, one bucketized
    block shuffle, then ONE kernel per bucket. When the bucket count
    (explicit ``n_buckets`` or :func:`_auto_buckets`) is 1, the scan feeds
    one kernel call in one task instead (:func:`_one_task`) and the merge
    exchange goes too: that call's per-qid top-k is final.

    ``vectorized=True`` runs
    :func:`_daat_rows_batch`: each packed row decodes once per bucket
    and the whole workload reduces with L2-resident accumulators — decode
    sharing beats per-query block pruning for batches, and the result is
    bit-identical to the per-query path (see its docstring).
    ``vectorized=False`` keeps the per-query :func:`_daat_rows` loop, where
    each query gets its own θ / block-max admission — the path
    tools/wand_audit.py measures, and the better shape for small Q over
    huge postings (pruning skips decode the batch kernel would pay).
    ``vectorized=None`` (default) auto-selects at the measured crossover
    (tools/kernel_crossover.py): pruning wins only while Q is small enough
    that per-query decode still beats shared decode — see
    ``_AUTO_VECTORIZED_MIN_Q``. Per-qid results merge through the same
    two-stage top-k as :func:`score_queries_batch`.

    With ``k=None`` every (qid, docId, score) row is returned unordered
    (each docId lives in exactly one bucket, so rows are already final)."""
    # workload work estimate (est_work): one posting-score evaluation per
    # (query, term, posting) — drives bucket count and the kernel
    # crossover, driver-local (df comes from term stats, no job)
    qmetas, live_terms, est_work = _prep_workload(
        term_stats, queries, scorer, n_docs, analyzer
    )
    if not qmetas:
        return spark.createDataFrame([], BATCH_SCHEMA)
    if vectorized is None:
        vectorized = len(qmetas) >= _AUTO_VECTORIZED_MIN_Q
    if n_buckets is None:
        n_buckets = _auto_buckets(spark, est_work)
    seg = _candidate_scan(segments, live_terms, term_stats)
    # big workloads ship qmetas via broadcast, not closure capture: a
    # 16k-query qmetas cloudpickles to ~1 MB, and a captured closure is
    # re-shipped and re-unpickled PER TASK (48+ tasks/workload); a broadcast
    # is fetched and cached once per python worker process
    qmetas_ref = (
        spark.sparkContext.broadcast(qmetas) if len(qmetas) >= 256 else None
    )
    qmetas_local = None if qmetas_ref is not None else qmetas

    def score_rows(pdf):
        # one itertuples pass per kernel call; the vectorized core decodes
        # each row once and reduces the whole workload in numpy, the
        # per-query core keeps θ/block-max pruning per query — no per-query
        # pandas in either
        qmetas = qmetas_local if qmetas_ref is None else qmetas_ref.value
        if vectorized:
            qv, dv, sv = _score_bucket_rows(
                pdf, qmetas, scorer, avgdl, k, ties, deleted
            )
            return pd.DataFrame(
                {"qid": qv, "docId": dv.astype("int64"), "score": sv}
            )
        bounds = _pdf_bounds(pdf)
        rows_by_term: dict[str, list] = {}
        for r in pdf.itertuples(index=False):
            rows_by_term.setdefault(r.term, []).append(r)
        qid_arrs, doc_arrs, score_arrs = [], [], []
        for qid, qm in qmetas.items():
            rows = [r for t in qm if t in rows_by_term for r in rows_by_term[t]]
            if not rows:
                continue
            uq, sc = _daat_rows(rows, qm, scorer, avgdl, k, prune, ties,
                                deleted=deleted, bounds=bounds)
            if len(uq):
                qid_arrs.append(np.full(len(uq), qid, dtype=np.int64))
                doc_arrs.append(uq)
                score_arrs.append(sc)
        if qid_arrs:
            return pd.DataFrame(
                {
                    "qid": np.concatenate(qid_arrs),
                    "docId": np.concatenate(doc_arrs).astype("int64"),
                    "score": np.concatenate(score_arrs),
                }
            )
        return pd.DataFrame(
            {
                "qid": pd.Series(dtype="int64"),
                "docId": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )

    if n_buckets == 1:
        # one bucket's per-qid top-k is already final: no merge exchange,
        # only the blob merge's (qid asc, score desc, docId tie) order
        if k is None:
            return _one_task(seg, score_rows, BATCH_SCHEMA)
        return _one_task(
            seg, lambda pdf: _topk_pdf_for(score_rows(pdf), k, ties),
            BATCH_SCHEMA,
        )
    bucketed = _bucketize_segments(spark, seg, n_buckets, docid_span, est_work)
    if bucketed is None:
        return spark.createDataFrame([], BATCH_SCHEMA)

    # Merge strategy for the per-bucket top-k. The row merge shuffles every
    # per-(bucket, query) candidate as a JVM row (2M rows for a 16k-query
    # workload: Arrow->UnsafeRow conversion, a partial-prune python stage,
    # a by-qid shuffle — per-row costs on both sides). When the total
    # candidate count is bounded (Q x k x buckets, the kernel's output
    # ceiling), emit ONE PACKED ROW PER BUCKET instead and merge the blobs
    # in a single cheap task: ~32 binary rows through the shuffle, one
    # vectorized segmented top-k at the end. Selection-only — scores are
    # untouched bytes, so results are bit-identical to the row merge.
    blob_ceiling = len(qmetas) * (k or 0) * max(int(n_buckets or 0), 1)
    use_blobs = (
        vectorized and k is not None
        and 0 < blob_ceiling <= _BLOB_MERGE_CAP
    )
    if use_blobs:
        n_merge = _n_merge_tasks(spark, blob_ceiling)

        def kernel_blob(key, pdf):
            qmetas_b = qmetas_local if qmetas_ref is None else qmetas_ref.value
            qv, dv, sv = _score_bucket_rows(
                pdf, qmetas_b, scorer, avgdl, k, ties, deleted
            )
            return _packed_shards(qv, dv, sv, n_merge)

        def merge_blobs(batches):
            yield from _merge_packed(batches, k, ties)

        blobs = bucketed.groupBy("bucket").applyInPandas(
            kernel_blob, PACKED_TOPK_SCHEMA
        )
        # hash-partition by merge shard: all candidates of a qid share one
        # mkey, so each task's segmented top-k is exact; n_merge=1 keeps
        # the old single-task merge for small workloads
        return blobs.repartition(n_merge, "mkey").mapInPandas(
            merge_blobs, BATCH_SCHEMA
        )

    local = bucketed.groupBy("bucket").applyInPandas(
        lambda key, pdf: score_rows(pdf), BATCH_SCHEMA
    )
    if k is None:
        return local
    return _batch_topk(local, k, ties)


def score_query_daat(
    spark: SparkSession,
    segments: DataFrame,
    term_stats: DataFrame,
    keywords: list[str],
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer(),
    k: int | None = 10,
    analyzer: str = "porter",
    prune: bool = True,
    ties: str = "desc",
    n_buckets: int | None = None,
    deleted: np.ndarray | None = None,
    docid_span: tuple[int, int] | None = None,
    pre_analyzed: bool = False,
) -> DataFrame:
    """Distributed block-max DAAT: parquet pushdown on term -> byte-level
    block re-key by docId bucket -> per-bucket MaxScore kernel with local
    top-k -> global TakeOrderedAndProject (≙ the reference's per-segment
    top-k + global PQ, IIM:1282-1313).

    When the bucket count (explicit ``n_buckets`` or :func:`_auto_buckets`
    over the query's Σdf) is 1 — any interactive query whose postings fit
    one task — the re-key is skipped: pushed scan -> ``coalesce(1)`` -> one
    kernel call over the whole packed rows -> TakeOrderedAndProject, one
    Spark job of one task with no exchange (:func:`_one_task`). It needs no
    ``docid_span`` either, so the span-agg job never runs on that plan.

    ``deleted``: sorted int64 tombstone array (operators/delete.py
    ``deleted_array``) — masked inside the kernel as blocks decode, so
    pruning and lazy deletion compose.

    ``pre_analyzed``: keywords are already index terms (e.g. produced by
    the query parser's analysis pass) — count them as-is instead of
    re-analyzing, which would double-stem under non-idempotent analyzers
    like porter. A ``{term: weight}`` dict is also accepted here (parser
    ``^W`` boosts fold into the per-term query weight, the qtf slot)."""
    if pre_analyzed:
        qtfs = dict(keywords) if isinstance(keywords, dict) else dict(Counter(keywords))
    else:
        qtfs = query_tfs(keywords, analyzer)
    rows = _idf_rows(term_stats, qtfs, scorer, n_docs)
    if not rows:
        return spark.createDataFrame([], SCORE_SCHEMA)
    qmeta = {t: (idf, qtf) for t, df_, idf, qtf in rows}
    est_work = sum(df_ for _, df_, _, _ in rows)
    seg = segments.where(isin_expr("term", list(qmeta)))
    if n_buckets is None:
        n_buckets = _auto_buckets(spark, est_work)

    def score_rows(pdf):
        return _daat_segment(pdf, qmeta, scorer, avgdl, k, prune, ties,
                             deleted=deleted, bounds=_pdf_bounds(pdf))

    if n_buckets == 1:
        local = _one_task(seg, score_rows, SCORE_SCHEMA)
    else:
        bucketed = _bucketize_segments(spark, seg, n_buckets, docid_span, est_work)
        if bucketed is None:
            return spark.createDataFrame([], SCORE_SCHEMA)
        local = bucketed.groupBy("bucket").applyInPandas(
            lambda key, pdf: score_rows(pdf), SCORE_SCHEMA
        )
    order = [F.desc("score"), F.desc("docId") if ties == "desc" else F.asc("docId")]
    out = local.orderBy(*order)
    return out.limit(k) if k is not None else out


def mlt_seed_terms(
    corpus: DataFrame,
    term_stats: DataFrame,
    doc_id: int,
    n_docs: int,
    top_terms: int = 10,
    analyzer: str = "porter",
    scorer: Scorer = Scorer("tfidf_cosine"),
) -> list[tuple[str, int]]:
    """More-like-this seed selection (the Lucene ``MoreLikeThis`` shape over
    the reference's Q8 scoring surface): analyze ONE document, weight its
    terms by tf·idf, keep the ``top_terms`` heaviest.

    Returns ``[(term, tf), ...]`` ranked by (weight desc, term asc).

    Scale shape: the seed doc is a POINT LOOKUP (docId equality pushed to
    the corpus scan — the S4 fetch path), analysis of that single text is
    driver-side, and the df lookup seeks the term-stats table with the usual
    ``In`` pushdown over at most |doc vocabulary| terms. No corpus-sized
    work anywhere; the expansion itself is bounded by ``top_terms``."""
    from ..functions.analyzers import get_analyzer

    row = corpus.where(F.col("docId") == int(doc_id)).select("content").collect()
    if not row:
        return []
    tfs = Counter(get_analyzer(analyzer)(row[0][0]))
    if not tfs:
        return []
    stats = term_stats.where(isin_expr("term", sorted(tfs))).select("term", "df").collect()
    dfs = {r.term: float(r.df) for r in stats}
    weighted = [
        (t, tf, tf * float(scorer.idf(float(n_docs), dfs[t])))
        for t, tf in tfs.items()
        if t in dfs
    ]
    weighted.sort(key=lambda x: (-x[2], x[0]))
    return [(t, tf) for t, tf, _ in weighted[:top_terms]]


def more_like_this(
    spark: SparkSession,
    corpus: DataFrame,
    segments: DataFrame,
    term_stats: DataFrame,
    doc_id: int,
    n_docs: int,
    avgdl: float,
    top_terms: int = 10,
    k: int = 10,
    analyzer: str = "porter",
    scorer: Scorer = Scorer("tfidf_cosine"),
    deleted: np.ndarray | None = None,
) -> DataFrame:
    """More-like-this: rank documents similar to ``doc_id`` by running its
    tf·idf-heaviest ``top_terms`` as a weighted query through the SAME
    distributed DAAT kernel as Q8 (seed term frequencies become query term
    frequencies, exactly as repeated user keywords do), excluding the seed
    doc itself, top-``k`` by (score desc, docId asc).

    The whole pipeline is expansion (bounded, :func:`mlt_seed_terms`) +
    the existing ranked-serving path — no new scoring machinery, so every
    100 TB property of ``score_query_daat`` (term pushdown, bucketized
    kernel, TakeOrdered) carries over unchanged."""
    seed = mlt_seed_terms(
        corpus, term_stats, doc_id, n_docs, top_terms, analyzer, scorer
    )
    if not seed:
        return spark.createDataFrame([], SCORE_SCHEMA)
    keywords = [t for t, tf in seed for _ in range(tf)]
    scored = score_query_daat(
        spark, segments, term_stats, keywords, n_docs, avgdl, scorer,
        k=None, analyzer=analyzer, ties="asc", deleted=deleted,
    )
    return (
        scored.where(F.col("docId") != int(doc_id))
        .orderBy(F.desc("score"), F.asc("docId"))
        .limit(k)
    )


def collapse_results(
    scored: DataFrame,
    meta: DataFrame,
    group_col: str,
    id_col: str = "docId",
    per_group: int = 1,
    k: int | None = 10,
) -> DataFrame:
    """Field collapsing over a scored result set: keep the best
    ``per_group`` hits per ``group_col`` value (e.g. one result per repo —
    the Lucene/Elasticsearch ``collapse`` feature), then the global top-k of
    the survivors.

    Scale shape: hydrate only (id, group) via an equi-join (AQE broadcasts
    the result side when small), then the WINDOWLESS grouped top-k
    (:func:`..operators.sampling.grouped_topk` — bucketed two-stage
    sort-trim, no per-group window sort), and a final
    TakeOrderedAndProject. Ties inside a group break by docId ASC
    (grouped_topk's struct order); the global cut by (score desc, docId
    asc) — deterministic end to end."""
    from .sampling import grouped_topk

    m = meta.select(F.col(id_col), F.col(group_col).alias("_grp"))
    hydrated = scored.join(m, id_col, "inner")
    best = grouped_topk(hydrated, ["_grp"], "score", id_col, per_group)
    # grouped_topk output: (_grp, id_col, score); re-expose the group column
    out = best.select(
        F.col(id_col), F.col("_grp").alias(group_col), F.col("score")
    )
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def decay_score(
    scored: DataFrame,
    meta: DataFrame,
    col: str,
    origin: float,
    scale: float,
    decay: float = 0.5,
    offset: float = 0.0,
    kind: str = "gauss",
    id_col: str = "docId",
    k: int | None = 10,
) -> DataFrame:
    """Function-score decay (the ES ``function_score`` gauss/linear/exp
    decay): multiply each hit's score by a factor that decays with the
    distance of a numeric/temporal field from ``origin`` — the standard
    recency / proximity / price-closeness re-ranking. At distance
    ``offset + scale`` the multiplier is exactly ``decay``.

    d = max(0, |v − origin| − offset);
    gauss: exp(−d² / (2σ²)), σ² = −scale² / (2·ln decay)
    exp:   exp(λ·d), λ = ln(decay)/scale
    linear: max(0, (s − d)/s), s = scale / (1 − decay)
    Docs with a NULL field keep multiplier 1 (the ES ``missing`` default).

    Scale shape: hydrate only (id, col) via an equi-join (AQE broadcasts
    the scored side — result sets are top-k-sized), the multiplier is a
    pure JVM projection, and the re-cut is TakeOrderedAndProject. No
    windows, no Python, nothing corpus-sized past the join."""
    if scale <= 0 or not (0.0 < decay < 1.0):
        raise ValueError("need scale > 0 and 0 < decay < 1")
    v = F.col("_dv").cast("double")
    d = F.greatest(F.abs(v - F.lit(float(origin))) - F.lit(float(offset)), F.lit(0.0))
    if kind == "gauss":
        sigma2 = -(scale ** 2) / (2.0 * math.log(decay))
        mult = F.exp(-(d * d) / F.lit(2.0 * sigma2))
    elif kind == "exp":
        lam = math.log(decay) / scale
        mult = F.exp(F.lit(lam) * d)
    elif kind == "linear":
        s = scale / (1.0 - decay)
        mult = F.greatest((F.lit(s) - d) / F.lit(s), F.lit(0.0))
    else:
        raise ValueError(f"unknown decay kind: {kind!r}")
    m = meta.select(F.col(id_col).alias(id_col), F.col(col).alias("_dv"))
    out = scored.join(m, id_col, "left").select(
        id_col,
        (F.col("score") * F.when(v.isNull(), F.lit(1.0)).otherwise(mult)).alias(
            "score"
        ),
    )
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def rescore_phrase(
    spark: SparkSession,
    segments: DataFrame,
    term_stats: DataFrame,
    keywords: list[str],
    phrase: list[str],
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer(),
    window: int = 50,
    k: int = 10,
    boost: float = 1.0,
    analyzer: str = "porter",
    ties: str = "desc",
    deleted: np.ndarray | None = None,
    docid_span: tuple[int, int] | None = None,
) -> DataFrame:
    """Rescore window — the Lucene ``QueryRescorer`` / ES ``rescore`` API:
    rank with the cheap primary scorer (block-max DAAT BM25), then re-rank
    ONLY the top-``window`` hits with a more expensive secondary signal —
    here an exact positional phrase match adding ``boost`` to the primary
    score — and return the top-``k`` of the rescored window. Docs outside
    the window are never rescored (the rescore contract: the expensive
    signal's cost is O(window), not O(matches)).

    Scale shape: the primary pass is :func:`score_query_daat` (term-pushed,
    pruned, TakeOrdered at ``window``); the phrase pass decodes ONLY the
    phrase terms' postings (``In`` pushdown on L terms) and its doc set
    joins the window via broadcast (window rows ≪ corpus); the final
    re-sort of ``window`` rows is a TakeOrderedAndProject. Ties in the
    rescored order break docId asc — deterministic and oracle-comparable.
    """
    from ..sources.segments import decode_postings
    from .query import analyze_query, search_phrase

    primary = score_query_daat(
        spark, segments, term_stats, keywords, n_docs, avgdl, scorer,
        k=window, analyzer=analyzer, ties=ties, deleted=deleted,
        docid_span=docid_span,
    )
    ph_terms = analyze_query(phrase, analyzer)
    dec = decode_postings(segments, sorted(set(ph_terms)), with_positions=True)
    ph = search_phrase(dec, ph_terms).select("docId", F.lit(1).alias("_ph"))
    return (
        primary.join(F.broadcast(ph), "docId", "left")
        .select(
            "docId",
            (
                F.col("score")
                + F.lit(float(boost)) * F.coalesce(F.col("_ph"), F.lit(0))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("docId"))
        .limit(k)
    )


def score_with_boosts(
    scored: DataFrame,
    meta: DataFrame,
    boosts: dict[str, dict[str, float]],
    id_col: str = "docId",
    k: int | None = 10,
) -> DataFrame:
    """Additive metadata boosting over a scored result set:
    ``final = score + Σ_field boosts[field][value]`` — the
    source-authority / field-preference layer of a multi-signal ranker
    (same combine-then-rerank family as the PageRank blend, Q11).

    Scale shape: the boost maps inline as literal CASE chains (field value
    sets are human-scale: sources, languages), so the meta side is a pure
    projection with only (id, boosted fields) in ReadSchema; one equi-join
    on the id (AQE picks broadcast vs shuffle by the result-set size), and
    the final top-k compiles to TakeOrderedAndProject. Docs absent from
    ``meta`` keep their base score (left join, missing boost = 0)."""
    bonus = F.lit(0.0)
    for field, table in sorted(boosts.items()):
        col_bonus = F.lit(0.0)
        for value, w in sorted(table.items()):
            col_bonus = F.when(
                F.col(field) == value, F.lit(float(w))
            ).otherwise(col_bonus)
        bonus = bonus + col_bonus
    m = meta.select(F.col(id_col), bonus.alias("_boost"))
    out = (
        scored.join(m, id_col, "left")
        .select(
            id_col,
            (F.col("score") + F.coalesce(F.col("_boost"), F.lit(0.0))).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
    )
    return out.limit(k) if k is not None else out


def search_after(
    scored: DataFrame,
    cursor: tuple[float, int],
    k: int = 10,
    id_col: str = "docId",
) -> DataFrame:
    """Cursor pagination over a scored result set: the next ``k`` results
    strictly after ``cursor = (score, docId)`` in the total order
    (score desc, docId asc) — the search_after / deep-paging shape, which
    at 100 TB beats OFFSET because the cursor predicate prunes BEFORE the
    top-k instead of materializing and discarding every earlier page.

    ``scored`` is any (docId, score) frame with a deterministic total order
    (``score_query_daat(..., k=None, ties="asc")`` output). The filter is a
    pure JVM predicate; the page compiles to TakeOrderedAndProject."""
    s0, d0 = float(cursor[0]), int(cursor[1])
    nxt = scored.where(
        (F.col("score") < s0)
        | ((F.col("score") == s0) & (F.col(id_col) > d0))
    )
    return nxt.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def score_query_fielded(
    spark: SparkSession,
    segments: DataFrame,
    term_stats,
    field_queries: dict[str | None, tuple[list[str], float]],
    n_docs: int,
    avgdl_by_field: dict[str, float],
    scorer: Scorer = Scorer("bm25"),
    k: int | None = 10,
    analyzer: str = "porter",
    deleted: np.ndarray | None = None,
    docid_span: tuple[int, int] | None = None,
    field_analyzers: dict[str, str] | None = None,
) -> DataFrame:
    """Per-field weighted BM25 over a fielded index (``build_index(fields=…)``):
    ``score(d) = Σ_f w_f · BM25_f(q_f, d)`` — the practical core of BM25F
    (per-field saturation with field weights; true BM25F additionally pools
    tf across fields before saturation, which collapses to this form when
    query terms touch disjoint field vocabularies, as namespaced terms
    guarantee here).

    ``field_queries`` maps a field name (``None`` = content) to
    ``(values, weight)``; ``avgdl_by_field`` comes from the manifest's
    ``stats.avgdl_by_field`` (finalize_index records it for fielded builds —
    BM25's length normalization must use the FIELD's avgdl, not the global
    mix; for one-token fields like ``lang`` the saturation term is exactly 1
    and the field contribution reduces to ``w_f · idf_f``).

    Scale shape: one block-max DAAT pass per field (each with its own term
    pushdown + bucketized kernel), then the per-field candidate score sets —
    NOT the corpus — union and sum in one partial+final agg before
    TakeOrderedAndProject. Weighting selective fields (path, repo) is cheap;
    scoring a low-selectivity field (``lang:en`` matches a quarter of the
    corpus) costs a scan of that posting list by design — prefer a field
    CONSTRAINT (``search_and`` + field term) when you mean a filter, and
    keep field WEIGHTS for fields that discriminate."""
    from .query import field_terms

    parts = []
    for field, (values, weight) in sorted(
        field_queries.items(), key=lambda kv: kv[0] or ""
    ):
        if field is None:
            kws, f_analyzer, avgdl_f = values, analyzer, avgdl_by_field[""]
        else:
            # analyze field values with the FIELD's build analyzer (manifest
            # "fields" records it); the namespaced terms themselves pass
            # through the scorer's query analysis untouched via 'naive'
            fan = (field_analyzers or {}).get(field, "naive")
            kws = field_terms(field, values, fan)
            # identity: the namespaced terms are final — python str.split
            # would split on the U+001F separator (it counts as whitespace)
            f_analyzer, avgdl_f = "identity", avgdl_by_field[field]
        scored = score_query_daat(
            spark, segments, term_stats, kws, n_docs, avgdl_f, scorer,
            k=None, analyzer=f_analyzer, ties="asc", deleted=deleted,
            docid_span=docid_span,
        )
        parts.append(scored.select("docId", (F.col("score") * weight).alias("score")))
    if not parts:
        return spark.createDataFrame([], SCORE_SCHEMA)
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    out = (
        allp.groupBy("docId")
        .agg(F.sum("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("docId"))
    )
    return out.limit(k) if k is not None else out


def rrf_fuse(
    lists: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_col: str = "docId",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal-rank fusion of candidate lists (Cormack et al. 2009):
    ``rrf(d) = Σ_lists 1 / (c + rank_list(d))`` — the standard fusion for
    HYBRID retrieval (lexical BM25 top-N + vector cosine top-N), robust to
    incomparable score scales because only ranks matter.

    Each input is a (id, score) frame already TRUNCATED to its top-N with a
    strict total order (score desc, id asc); ranks are 1-based within each
    truncated list, absent docs contribute nothing (the standard RRF-on-
    top-N convention).

    Scale shape: RRF runs on serving-sized candidate lists (N ≈ 10²-10³ per
    list — the retrieval stages already did the corpus-sized work), so the
    windowless rank uses a bounded self-join count (strictly-before pairs;
    O(N²) pairs on N-row inputs, broadcast NL join by design and bounded by
    construction). Fusion is one union + one sum agg + TakeOrdered. A window
    function would also be safe here for the same reason; the join form
    keeps the no-window invariant uniform across the engine."""
    parts = []
    for df in lists:
        a = df.alias("a")
        b = df.alias("b")
        before = (F.col(f"b.{score_col}") > F.col(f"a.{score_col}")) | (
            (F.col(f"b.{score_col}") == F.col(f"a.{score_col}"))
            & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
        )
        ranked = (
            a.join(b, before, "left")
            .groupBy(F.col(f"a.{id_col}").alias(id_col))
            .agg((F.count(F.col(f"b.{id_col}")) + 1).alias("_rank"))
        )
        parts.append(
            ranked.select(
                id_col, (1.0 / (F.lit(float(c)) + F.col("_rank"))).alias("_rrf")
            )
        )
    if not parts:
        raise ValueError("rrf_fuse needs at least one candidate list")
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy(id_col)
        .agg(F.sum("_rrf").alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )


def score_query_filtered(
    spark: SparkSession,
    segments: DataFrame,
    term_stats,
    keywords: list[str],
    filter_tree,
    n_docs: int,
    avgdl: float,
    scorer: Scorer = Scorer("bm25"),
    k: int | None = 10,
    analyzer: str = "porter",
    deleted: np.ndarray | None = None,
    docid_span: tuple[int, int] | None = None,
) -> DataFrame:
    """Ranked search WITHIN a boolean filter: BM25 top-k over only the
    documents matching ``filter_tree`` (a :func:`..query.search_bool` tree —
    e.g. ``parse_bool("lang:en AND NOT draft")`` against fielded terms).

    Composition: the filter evaluates through the index (leaf-term pushdown,
    one collect_set agg), the query scores through the usual block-max DAAT,
    and a semi-join keeps scored docs inside the filter before the top-k.
    Both sides are candidate-sized (posting lists of their own terms), never
    the corpus; the join key is docId so AQE broadcasts the smaller side.

    Scale note: scoring runs over the UNFILTERED query candidates and the
    filter prunes after — the right trade when the filter is a secondary
    constraint. When a filter is highly selective and recurring (tenant,
    language), index it as a FIELD and put it in the query instead
    (``q2fl``/fielded terms shrink candidate generation itself)."""
    from .query import bool_leaf_terms, search_bool
    from ..sources.segments import decode_postings

    scored = score_query_daat(
        spark, segments, term_stats, keywords, n_docs, avgdl, scorer,
        k=None, analyzer=analyzer, ties="asc", deleted=deleted,
        docid_span=docid_span,
    )
    dec = decode_postings(segments, bool_leaf_terms(filter_tree))
    allowed = search_bool(dec, filter_tree)
    out = (
        scored.join(allowed, "docId", "left_semi")
        .orderBy(F.desc("score"), F.asc("docId"))
    )
    return out.limit(k) if k is not None else out
