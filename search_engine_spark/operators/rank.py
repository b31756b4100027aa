"""Ranked retrieval (reference Q8 ``searchTfIdf``, IIM:1131-1315) + the
north-rule BM25 top-k.

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

Execution paths — each family has ONE plan builder, and a single query is
its Q=1 case; every entry point takes its query-term dfs, idfs and qtfs
from one driver-side prep (:func:`_prep_workload`):
- :func:`score_query_daat` / :func:`score_queries_daat_batch` — the serving
  paths, one plan (:func:`_daat_plan`) around ONE DAAT kernel
  (:func:`_daat_rows_batch`, decode-once with per-query accumulators). The
  kernel takes an Arrow table of packed rows and decodes the rows its
  queries use in one pass through the format's one decoder
  (``build._decode_packed``). A workload that fits one bucket (the common
  interactive query) runs as ONE task: term-pushed scan of the kernel's
  columns -> ``coalesce(1)`` -> one ``mapInArrow`` kernel call over the
  whole packed rows, whose top-k is the result, already in order. Bigger
  workloads re-key the compressed blocks by
  docId-range bucket (one shuffle; the splitter, :func:`_split_partition`,
  is one ``mapInArrow`` pass per partition with no Python work per row:
  whole-block byte slices for dense rows, an exact re-encode through the
  build's block encoder for sparse ones), score each bucket with a local
  top-k (``groupBy("bucket").applyInArrow``), and merge globally — the
  reference's per-segment top-k -> global PQ two-stage shape at cluster
  scale. Over several buckets one query merges by TakeOrderedAndProject, a
  workload by the packed-blob merge (one ``mapInArrow`` pass per merge
  shard).
- :func:`score_query` / :func:`score_queries_batch` — declarative, one plan
  (:func:`_declarative_plan`): decoded postings × broadcast idf map ->
  ``groupBy(qid, docId)`` agg -> top-k (for one query Catalyst's
  TakeOrderedAndProject ≙ the reference's bounded PQ, IIM:1290-1313). The
  plan-audited second implementation that tests compare the kernel against.
"""

from __future__ import annotations

import math
import weakref
from collections import Counter
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.build import (
    BLOCK_SIZE,
    _binary_array,
    _binary_offsets,
    _column,
    _combine_large,
    _decode_packed,
    _gather_bytes,
    _pack_blocks,
)
from ..functions.predicates import isin_expr, isin_where
from ..operators.query import analyze_query, postings_for
from ..sources.segments import term_dfs

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


def _analyzed(queries: dict[int, list[str]], analyzer: str) -> dict[int, dict[str, int]]:
    """Per-query token counts of a workload, keyed by int qid."""
    return {int(qid): query_tfs(kw, analyzer) for qid, kw in queries.items()}


def _prep_workload(
    term_stats,
    qtfs: dict[int, dict[str, float]],
    scorer: Scorer,
    n_docs: int,
) -> tuple[dict[int, dict[str, tuple[float, float]]], dict[str, int]]:
    """THE driver-side BM25 prep, shared by every entry point (declarative,
    DAAT, dismax, explain, cached): one df lookup over the workload's
    terms, then per-query (idf, qtf) metas for the terms the index holds.

    ``qtfs`` maps qid -> {term: qtf}, already counted; a qtf passes through
    as given, so the parser's ``^W`` float weights reach the kernels
    unchanged. Returns (qmetas, dfs): ``dfs`` maps every live term to its
    df; a query with no live term is absent from qmetas, and empty qmetas
    means an empty result."""
    dfs = term_dfs(term_stats, sorted({t for q in qtfs.values() for t in q}))
    idfs = {t: float(scorer.idf(float(n_docs), np.array([df]))[0]) for t, df in dfs.items()}
    qmetas: dict[int, dict[str, tuple[float, float]]] = {}
    for qid, q in qtfs.items():
        qm = {t: (idfs[t], qtf) for t, qtf in q.items() if t in idfs}
        if qm:
            qmetas[int(qid)] = qm
    return qmetas, dfs


def _order(ties: str) -> list:
    """The (score desc, docId ``ties``) result order."""
    return [F.desc("score"), F.desc("docId") if ties == "desc" else F.asc("docId")]


def _single(batch: DataFrame, k: int | None, ties: str) -> DataFrame:
    """A Q=1 batch plan as a single-query result: (docId, score) rows,
    ordered also when ``k`` is None. With ``k`` the Q=1 plan already ends
    in TakeOrderedAndProject, which absorbs this projection. The one-bucket
    DAAT plan needs neither: its kernel emits the result rows as they are
    (:func:`_one_task_kernel`)."""
    out = batch.drop("qid")
    return out.orderBy(*_order(ties)) if k is None else out


def _merge_topk(local: DataFrame, n_queries: int, k: int | None, ties: str) -> DataFrame:
    """Per-qid top-k over scored (qid, docId, score) rows of the declarative
    and the multi-bucket DAAT plans. One query merges
    by TakeOrderedAndProject (the reference's bounded PQ, IIM:1290-1313);
    a workload by the two-stage :func:`_batch_topk`."""
    if k is None:
        return local
    if n_queries == 1:
        return local.orderBy(*_order(ties)).limit(k)
    return _batch_topk(local, k, ties)


def _bm25_contrib(scorer: Scorer, avgdl: float):
    """THE per-(doc, term) BM25 contribution expression, over columns
    (qtf, idf, tf, dl) — shared by :func:`score_queries_batch` (summed),
    :func:`score_query_dismax` (max + sum) and :func:`explain_score`
    (exposed row-wise), so explain's factor rows can never drift from the
    score they claim to decompose."""
    return (
        F.col("qtf")
        * F.col("idf")
        * (F.col("tf") * (scorer.k1 + 1.0))
        / (
            F.col("tf")
            + scorer.k1 * (1.0 - scorer.b + scorer.b * F.col("dl") / F.lit(avgdl))
        )
    )


def _weighted_postings(
    spark: SparkSession, decoded: DataFrame, qmetas, dfs: dict[str, int]
) -> DataFrame:
    """Decoded postings of the live terms (pushed term filter) joined to
    the broadcast (qid, term, df, idf, qtf) map of :func:`_prep_workload`:
    a term shared by several queries fans its postings out to each."""
    qdf = spark.createDataFrame(
        [(qid, t, dfs[t], idf, float(qtf))
         for qid, qm in qmetas.items() for t, (idf, qtf) in qm.items()],
        "qid long, term string, df long, idf double, qtf double",
    )
    return postings_for(decoded, sorted(dfs)).join(F.broadcast(qdf), "term")


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

    The Q=1 case of :func:`score_queries_batch`: pushdown term filter ->
    broadcast-join the (≤ m query terms) idf map -> per-row contribution
    (JVM expressions, whole-stage codegen) -> groupBy partial+final agg ->
    TakeOrderedAndProject(k).
    """
    return _single(
        _declarative_plan(spark, decoded, term_stats, {0: query_tfs(keywords, analyzer)},
                          n_docs, avgdl, scorer, k, ties),
        k, ties,
    )


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
    qmetas, dfs = _prep_workload(term_stats, {0: query_tfs(keywords, analyzer)},
                                 scorer, n_docs)
    if not qmetas:
        return spark.createDataFrame([], SCORE_SCHEMA)
    p = _weighted_postings(spark, decoded, qmetas, dfs)
    c = _bm25_contrib(scorer, avgdl)
    agg = p.groupBy("docId").agg(F.max(c).alias("_mx"), F.sum(c).alias("_sm"))
    scores = agg.select(
        "docId",
        (
            F.col("_mx")
            + F.lit(float(tie_breaker)) * (F.col("_sm") - F.col("_mx"))
        ).alias("score"),
    )
    scores = scores.orderBy(*_order(ties))
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
    qmetas, dfs = _prep_workload(term_stats, {0: query_tfs(keywords, analyzer)},
                                 scorer, n_docs)
    if not qmetas:
        return spark.createDataFrame([], EXPLAIN_SCHEMA)
    if doc_ids is not None:
        decoded = decoded.where(isin_expr("docId", [int(d) for d in doc_ids]))
    p = _weighted_postings(spark, decoded, qmetas, dfs)
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

    A serving process answering a query log one query at a time pays the
    scan + scheduling cost per query. This batch path amortizes both across
    Q queries:

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
      A single query (Q=1, :func:`score_query`) takes TakeOrderedAndProject
      itself.
    """
    return _declarative_plan(spark, decoded, term_stats, _analyzed(queries, analyzer),
                             n_docs, avgdl, scorer, k, ties)


def _declarative_plan(
    spark: SparkSession,
    decoded: DataFrame,
    term_stats,
    qtfs: dict[int, dict[str, float]],
    n_docs: int,
    avgdl: float,
    scorer: Scorer,
    k: int | None,
    ties: str,
) -> DataFrame:
    """The one declarative plan builder behind :func:`score_query` and
    :func:`score_queries_batch` -> (qid, docId, score)."""
    qmetas, dfs = _prep_workload(term_stats, qtfs, scorer, n_docs)
    if not qmetas:
        return spark.createDataFrame([], BATCH_SCHEMA)
    p = _weighted_postings(spark, decoded, qmetas, dfs)
    if scorer.kind == "bm25":
        scores = p.groupBy("qid", "docId").agg(
            F.sum(_bm25_contrib(scorer, avgdl)).alias("score")
        )
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
    return _merge_topk(scores, len(qmetas), k, ties)


def _topk(qid: np.ndarray, doc: np.ndarray, score: np.ndarray, k: int, ties: str):
    """Vectorized per-qid top-k selection over (qid, docId, score) arrays —
    the single source of the batch tie semantics (score desc, then docId
    per ``ties``; output qid-asc). Shared by the row merge (:func:`_batch_topk`),
    the packed-blob merge and the one-task kernel."""
    tie = doc if ties == "asc" else -doc
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
    keep = keep[np.lexsort((tie[keep], -score[keep], qid[keep]))]
    return qid[keep], doc[keep], score[keep]


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
        q, d, sc = _topk(pdf["qid"].to_numpy(np.int64), pdf["docId"].to_numpy(np.int64),
                         pdf["score"].to_numpy(np.float64), k, ties)
        return pd.DataFrame({"qid": q, "docId": d, "score": sc})

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


# --- DAAT kernel ----------------------------------------------------------


def _tf_upper_scalar(scorer: Scorer, mt: float) -> float:
    """Upper bound of a row's tf-normalization for any dl (dl -> 0). The
    kernel orders each query's rows by it; called once per (query, packed
    row), so plain floats — numpy there costs more than the math."""
    if scorer.kind == "bm25":
        return mt * (scorer.k1 + 1.0) / (mt + scorer.k1 * (1.0 - scorer.b))
    return mt


def _daat_rows_batch(
    tbl,
    qmetas: dict[int, dict[str, tuple[float, float]]],
    scorer: Scorer,
    avgdl: float,
    k: int | None,
    ties: str = "desc",
    deleted: np.ndarray | None = None,
    bounds: tuple[int, int] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """THE DAAT kernel: score a workload of queries over one bucket's packed
    rows -> (qids, docIds, scores), per-qid top-k applied. A single query is
    the Q=1 case (:func:`score_query_daat`).

    ``tbl`` is an Arrow table of packed rows, whole segment rows or
    bucketed rows, with at least ``term``, ``max_tf``, the docids/tfs/dls
    blobs and ``block_docid_off``. The rows whose term some query uses
    decode in ONE pass (:func:`build._decode_packed`) into flat arrays; the
    bucket-range and tombstone masks apply to those arrays. Each (row, qtf)
    contribution array is computed once and shared by every query using
    that term, and the whole bucket reduces with ONE unique/bincount + ONE
    segmented top-k pass, so work scales with total postings, not query
    count.

    Reduction is ACCUMULATOR-based, not sort-based: the bucket builds ONE
    dense doc dictionary (``np.unique`` over the DISTINCT decoded postings —
    not the Q-multiplied concat), maps each posting into it once, and
    then each query reduces with per-row ``np.bincount`` adds into a
    dictionary-sized accumulator. The previous reduce sorted an 8-byte
    combined key across every (query, posting) pair — ~10 DRAM passes per
    scored posting, which made the kernel memory-bandwidth-bound and
    anti-scale with cores (BENCH.md query-scaling note, r3 eff 0.659). Here
    the per-posting traffic is two streaming reads (index + contribution)
    and all reduce state (accumulator, epoch mask) is O(distinct docs in
    bucket) — L2-resident at any sane bucket size — so throughput scales
    with cores, not with one memory controller.

    Scores match the single-node oracle (plans/oracle.py) within float
    rounding and do not depend on the rest of the workload: each
    contribution uses the query's own scalar (qtf, idf) — parser ``^W``
    weights arrive as float qtfs, used as-is — and per (qid, docId) the
    partial sums add in one fixed row order (term order, then a stable sort
    by row upper bound desc; a doc absent from a row adds bincount's exact
    +0.0). The local top-k uses the global (score desc, docId ``ties``)
    lexsort, so a bucket never drops a doc the global order keeps.

    ``bounds=(lo, hi)``: keep only decoded docIds in the inclusive range —
    bucketed rows ship whole blocks, so a bucket may receive postings that
    belong to a neighbor and MUST drop them (a doc scores in exactly one
    bucket). ``deleted``: sorted int64 tombstones, dropped after decode.
    """
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
             np.empty(0, dtype=np.float64))
    qterms = list(dict.fromkeys(t for qm in qmetas.values() for t in qm))
    terms = _column(tbl, "term")
    tix = pc.fill_null(pc.index_in(terms, value_set=pa.array(qterms, terms.type)), -1)
    tix = tix.to_numpy()
    used = np.flatnonzero(tix >= 0)
    if not len(used):
        return empty
    if len(used) < len(tix):
        tbl, tix = tbl.take(pa.array(used)), tix[used]
    # rows of each query term, in row order
    by_term = np.argsort(tix, kind="stable")
    cut = np.searchsorted(tix[by_term], np.arange(len(qterms) + 1))
    rows_by_term = {t: by_term[cut[j] : cut[j + 1]] for j, t in enumerate(qterms)
                    if cut[j] < cut[j + 1]}
    max_tf = _column(tbl, "max_tf").to_numpy()
    d = _decode_packed(tbl)
    rows, docid, tf, dl = d["rows"], d["docid"], d["tf"], d["dl"]
    keep = None
    if bounds is not None:
        keep = (docid >= bounds[0]) & (docid <= bounds[1])
    if deleted is not None and deleted.size:
        pos = np.searchsorted(deleted, docid)
        pos[pos == deleted.size] = 0
        live = deleted[pos] != docid
        keep = live if keep is None else keep & live
    if keep is not None:
        kept = np.zeros(len(keep) + 1, dtype=np.int64)
        np.cumsum(keep, out=kept[1:])
        rows, docid, tf, dl = kept[rows], docid[keep], tf[keep], dl[keep]
    if not len(docid):
        return empty
    tfs = tf.astype(np.float64)
    if scorer.kind == "bm25":
        norm = tfs + scorer.k1 * (1.0 - scorer.b + scorer.b * dl / avgdl)
    contrib_cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray | None]] = {}

    def contribs_of(ri: int, idf: float, qtf: float):
        got = contrib_cache.get((ri, qtf))
        if got is None:
            s = slice(rows[ri], rows[ri + 1])
            if scorer.kind == "bm25":
                got = (qtf * idf * tfs[s] * (scorer.k1 + 1.0) / norm[s], None)
            else:
                wd = tfs[s] * idf
                got = (wd * (qtf * idf), wd * wd)
            contrib_cache[(ri, qtf)] = got
        return got

    # 1) dense doc dictionary over the DISTINCT postings any query touches,
    # 2) every posting's dictionary index, shared by every query
    all_docs = np.unique(docid)
    n_dict = len(all_docs)
    idx_all = np.searchsorted(all_docs, docid)

    is_tfidf = scorer.kind != "bm25"
    epoch = np.zeros(n_dict, dtype=np.int64)  # last query to touch each doc
    out_qid: list[np.ndarray] = []
    out_doc: list[np.ndarray] = []
    out_score: list[np.ndarray] = []
    for qno, (qid, qm) in enumerate(qmetas.items(), start=1):
        # fixed summation order: qm iteration order, then a STABLE sort by
        # UB desc (equal-UB rows keep their relative order)
        pairs = [
            (qm[t][1] * qm[t][0] * _tf_upper_scalar(scorer, float(max_tf[ri])), ri, t)
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
            idx = idx_all[rows[ri] : rows[ri + 1]]
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
            # integer tie key: docIds > 2^53 would lose precision as floats
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
        # splitter, list-array build at serialization); the decoder reads
        # the offsets as zero-copy numpy views
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


def _bucket_bounds(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inclusive [lo, hi] docId range owned by each bucket, as two arrays
    indexed by bucket (edge buckets are open-ended via sentinels — see note
    above)."""
    lo = np.concatenate(([_DOCID_MIN], edges[:-1] + 1)).astype(np.int64)
    hi = np.concatenate((edges[:-1], [_DOCID_MAX])).astype(np.int64)
    return lo, hi


# block metadata lists of a packed segment row, and the little-endian
# width each one ships with in a bucketed row
_BLOCK_COLS = {
    "block_last_docid": "<i8",
    "block_max_tf": "<i4",
    "block_docid_off": "<i4",
    "block_tf_off": "<i4",
    "block_dl_off": "<i4",
}


def _split_whole_blocks(rows, cols, nb_first, b_lo, b_hi, row_lo, covered, n_edges):
    """(bucket, block range) slices of the rows that ship whole blocks, all
    rows at once: a row gets one slice per bucket its blocks overlap.

    Blocks are docId-sorted, so the blocks overlapping bucket b form a
    contiguous run: first block whose last docId reaches b, through the last
    block that can start at or below b (bounded by the previous block's last
    docId + 1 — a conservative start, so a bucket may receive a block with
    no postings for it; the kernel's range mask drops them). One global
    searchsorted finds every run: ``row * n_edges + bucket`` keys are sorted
    over the partition's blocks because each row's bucket ids are."""
    brow = np.repeat(np.arange(len(nb_first) - 1), np.diff(nb_first))
    cnt = covered[rows]
    prow = np.repeat(rows, cnt)
    first = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(cnt, out=first[1:])
    pb = row_lo[prow] + np.arange(int(first[-1])) - np.repeat(first[:-1], cnt)
    key = prow * n_edges + pb
    i0 = np.searchsorted(brow * n_edges + b_hi, key, "left")
    i1 = np.searchsorted(brow * n_edges + b_lo, key, "right")  # one past last block
    keep = i0 < i1
    prow, pb, i0, nsel = prow[keep], pb[keep], i0[keep], (i1 - i0)[keep]
    blk, boffs = _gather_bytes(np.arange(len(brow)), i0, nsel)
    last = i0 + nsel - 1
    out = {"row": prow, "bucket": pb, "blocks": boffs}
    for name, stream in (("docids", "block_docid_off"), ("tfs", "block_tf_off"),
                         ("dls", "block_dl_off")):
        offs, data = cols[name]
        rel = cols[stream]
        start = offs[brow] + rel  # absolute first byte of every block
        end = np.append(start[1:], 0)
        end[nb_first[1:] - 1] = offs[1:]  # a row's last block ends the row
        out[name] = _gather_bytes(data, start[i0], end[last] - start[i0])
        out[stream] = rel[blk] - np.repeat(rel[i0], nsel)
    out["block_last_docid"] = cols["block_last_docid"][blk]
    out["block_max_tf"] = cols["block_max_tf"][blk]
    out["max_tf"] = np.maximum.reduceat(out["block_max_tf"], boffs[:-1])
    return out


def _split_exact(tbl, rows, edges):
    """Exact per-bucket slices of sparse rows (rare terms) whose blocks span
    many buckets: shipping such a block whole to all ~n_buckets buckets
    multiplies both shuffle bytes and kernel decode by the coverage
    (measured 2x slices, 3.4x wall on a 4096-query workload at 64 buckets).

    All rows decode in one pass (:func:`build._decode_packed`); every
    posting gets a bucket id, and each (row, bucket) run re-encodes as a
    single block through the build's block encoder. The dispatch condition
    bounds postings per covered bucket to BLOCK_SIZE/2 ON AVERAGE (a skewed
    bucket can exceed it), so slices stay well under one block in
    expectation. Membership rows decode tf = dl = 1, and their slices carry
    those ones encoded."""
    d = _decode_packed(tbl.take(pa.array(rows)))
    prow = np.repeat(rows, np.diff(d["rows"]))
    bk = np.minimum(np.searchsorted(edges, d["docid"], "left"), len(edges) - 1)
    new = np.ones(len(prow), dtype=bool)
    new[1:] = (prow[1:] != prow[:-1]) | (bk[1:] != bk[:-1])
    gs = np.flatnonzero(new)
    out = _pack_blocks(d["docid"], d["tf"], d["dl"], gs, None)
    out.update(row=prow[gs], bucket=bk[gs])
    return out


def _split_partition(tbl, edges: np.ndarray):
    """Re-key one partition's packed segment rows by docId-range bucket ->
    one Arrow table of BUCKETED_SCHEMA rows, in row order and then bucket
    order, with no Python work per row.

    A row whose blocks all fall in one bucket, and a dense row (heavy
    terms, blocks spanning 2-4 buckets), ship whole blocks as byte slices
    (:func:`_split_whole_blocks`). Sparse rows — fewer than BLOCK_SIZE/2
    postings per covered bucket — take the exact split instead
    (:func:`_split_exact`): duplicating a whole block to every bucket a
    128-posting rare term touches is pure waste, while for dense rows
    byte-duplication beats decode/re-encode."""
    import pyarrow as pa

    def col(name):
        return tbl.column(name).chunk(0)

    cols = {name: _binary_offsets(col(name)) for name in ("docids", "tfs", "dls")}
    for name in _BLOCK_COLS:  # one list per row, each of the row's block count
        lst = col(name)
        o = lst.offsets.to_numpy()
        cols[name] = lst.values.to_numpy()[o[0] : o[-1]].astype(np.int64)
    o = col("block_last_docid").offsets.to_numpy()
    nb_first = (o - o[0]).astype(np.int64)  # first block of each row
    ndocs = col("ndocs").to_numpy().astype(np.int64)
    blast = cols["block_last_docid"]
    # per block: the bucket range it can hold docIds of
    prev = np.empty(len(blast), dtype=np.int64)
    prev[1:] = blast[:-1]
    prev[nb_first[:-1]] = col("min_docid").to_numpy() - 1
    last_b = len(edges) - 1
    b_lo = np.minimum(np.searchsorted(edges, prev + 1, "left"), last_b)
    b_hi = np.minimum(np.searchsorted(edges, blast, "left"), last_b)
    row_lo = b_lo[nb_first[:-1]]
    covered = b_hi[nb_first[1:] - 1] - row_lo + 1
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
    shipped = np.add.reduceat(b_hi - b_lo + 1, nb_first[:-1])
    exact = (covered > 1) & (
        (ndocs < covered * (BLOCK_SIZE // 2))
        | (shipped > _MAX_AVG_BLOCK_DUP * np.diff(nb_first))
    )
    whole, sparse = np.flatnonzero(~exact), np.flatnonzero(exact)
    parts = []
    if len(whole):
        parts.append(_split_whole_blocks(whole, cols, nb_first, b_lo, b_hi,
                                         row_lo, covered, len(edges)))
    if len(sparse):
        parts.append(_split_exact(tbl, sparse, edges))
    lo_of, hi_of = _bucket_bounds(edges)
    tables = []
    for p in parts:
        n = len(p["row"])
        arrays = {
            "bucket": pa.array(p["bucket"].astype(np.int32)),
            "lo_docid": pa.array(lo_of[p["bucket"]]),
            "hi_docid": pa.array(hi_of[p["bucket"]]),
            "term": col("term").take(pa.array(p["row"])).cast(pa.string()),
            "max_tf": pa.array(p["max_tf"].astype(np.int32)),
        }
        for name in ("docids", "tfs", "dls"):
            arrays[name] = _binary_array(*p[name], 0, n)
        for name, dt in _BLOCK_COLS.items():
            le = np.frombuffer(p[name].astype(dt).tobytes(), dtype=np.uint8)
            arrays[name] = _binary_array(le, p["blocks"] * np.dtype(dt).itemsize, 0, n)
        tables.append(pa.table([arrays[f.name] for f in BUCKETED_SCHEMA.fields],
                               names=BUCKETED_SCHEMA.fieldNames()))
    order = np.lexsort((
        np.concatenate([p["bucket"] for p in parts]),
        np.concatenate([p["row"] for p in parts]),
    ))
    return pa.concat_tables(tables).take(pa.array(order))


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
    cost does not). The coverage test needs the vocabulary size
    driver-side, so it only engages when ``term_stats`` is the pandas frame
    of ``load_term_stats_pdf``; that check is the only reason to load it,
    since the df lookup is job-free on the Spark scan too (``term_dfs``).
    Spark-DataFrame stats keep the pushdown."""
    if isinstance(term_stats, pd.DataFrame):
        n_vocab = len(term_stats)
        if n_vocab and len(live_terms) / n_vocab > _FILTER_COVERAGE_MAX:
            return segments
    return isin_where(segments, "term", live_terms)


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


# Packed segment columns the DAAT kernel reads (``build._decode_packed``
# and :func:`_daat_rows_batch`): the one-task plan's whole scan.
_KERNEL_COLS = ["term", "max_tf", "docids", "tfs", "dls", "block_docid_off"]
# ... and the ones the splitter reads (block metadata as Arrow lists here,
# as little-endian bytes in bucketed rows).
_SPLIT_COLS = [
    "term", "max_tf", "docids", "tfs", "dls", "block_last_docid",
    "block_max_tf", "block_docid_off", "block_tf_off", "block_dl_off",
]
# Per segments frame: its scan projected to _KERNEL_COLS and coalesced to
# one partition, built once.
_KERNEL_SCANS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _bucketize_segments(
    spark: SparkSession,
    seg: DataFrame,
    n_buckets: int,
    docid_span: tuple[int, int] | None = None,
    est_work: int | None = None,
) -> DataFrame | None:
    """Re-key packed segment rows by docId-range bucket (whole-block byte
    slicing with kernel-side range masks; sparse rows take one vectorized
    exact split — see :func:`_split_partition`). Shared by the
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
    exactly once; surplus buckets are empty and cost nothing.

    ``est_work``: the postings (or scoring work) the split covers. Below
    ``2 * _WORK_PER_BUCKET`` a coarse scan is split as it comes, without
    the rebalance shuffle; None always rebalances a coarse scan."""
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
        batch_list = [b for b in batches if b.num_rows]
        if batch_list:
            yield from _split_partition(_combine_large(batch_list), edges).to_batches()

    narrowed = seg.select(*_SPLIT_COLS, "min_docid", "ndocs")
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
    bucketed = narrowed.mapInArrow(splitter, BUCKETED_SCHEMA)
    # EXPLICIT repartition by bucket, one partition per bucket: the scoring
    # kernel downstream is python-CPU-heavy per group but byte-light, and
    # AQE's coalescePartitions sizes post-shuffle partitions by BYTES — left
    # to groupBy's own exchange it coalesces a small candidate set into ONE
    # task and serializes the whole kernel stage (measured: 64 buckets x
    # 0.45s ran 25s on 8 cores). An explicit numPartitions is exempt from
    # AQE coalescing, and groupBy("bucket") reuses this partitioning without
    # a second exchange.
    return bucketed.repartition(len(edges), "bucket")


def _one_task(segments: DataFrame, live_terms: list[str], term_stats, kernel,
              schema: StructType) -> DataFrame:
    """The one-bucket DAAT plan: the segments frame's scan of
    ``_KERNEL_COLS`` -> term filter (:func:`_candidate_scan`) ->
    ``coalesce(1)`` -> ONE ``mapInArrow(kernel)`` task over every whole
    packed row. No splitter stage and no bucket exchange, so the plan is a
    single stage of one task. The projected, coalesced scan is built once
    per segments frame; Catalyst pushes each query's filter below the
    coalesce into the scan. ``kernel`` is :func:`_one_task_kernel` bound
    with ``functools.partial``, so the UDF pickles a function reference
    and its arguments, not a fresh closure."""
    scan = _KERNEL_SCANS.get(segments)
    if scan is None:
        # selectExpr ships the names in one py4j call; select() builds a
        # Java Column per name
        scan = _KERNEL_SCANS[segments] = segments.selectExpr(*_KERNEL_COLS).coalesce(1)
    return _candidate_scan(scan, live_terms, term_stats).mapInArrow(kernel, schema)


def _one_task_kernel(get_qmetas, scorer: Scorer, avgdl: float, k: int | None,
                     ties: str, deleted: np.ndarray | None, single: bool, batches):
    """The one-task plan's ``mapInArrow`` function: ONE kernel call over the
    task's whole packed rows, as one Arrow table. The kernel's per-qid
    top-k is final here; with ``k`` it is also put in (qid asc, score desc,
    docId ``ties``) order, which :func:`_daat_rows_batch` alone leaves
    undone for a query with at most ``k`` hits. ``single`` emits a single
    query's (docId, score) rows. Emits no rows when no candidate row
    exists."""
    batch_list = [b for b in batches if b.num_rows]
    if not batch_list:
        return
    top = _score_bucket_rows(pa.Table.from_batches(batch_list), get_qmetas(), scorer,
                             avgdl, k, ties, deleted)
    if k is not None:
        top = _topk(*top, k, ties)
    out = _scored(*top)
    yield from (out.select(["docId", "score"]) if single else out).to_batches()


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
    tbl,
    qmetas: dict[int, dict[str, tuple[float, float]]],
    scorer: Scorer,
    avgdl: float,
    k: int | None,
    ties: str,
    deleted: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Score one bucket's packed rows, an Arrow table, for a whole workload
    — the shared vectorized core of the in-plan kernels and the
    serving-cache kernel (operators/serving.py). Bucketed rows carry their
    bucket's [lo_docid, hi_docid] bounds; whole segment rows
    (:func:`_one_task`) own every docId, so they need no range mask."""
    tbl = _combine_large(tbl.to_batches())
    bounds = None
    if "lo_docid" in tbl.schema.names:
        bounds = (tbl.column("lo_docid")[0].as_py(), tbl.column("hi_docid")[0].as_py())
    return _daat_rows_batch(tbl, qmetas, scorer, avgdl, k, ties, deleted, bounds)


def _scored(qv: np.ndarray, dv: np.ndarray, sv: np.ndarray) -> pa.Table:
    """(qid, docId, score) arrays as a ``BATCH_SCHEMA`` Arrow table."""
    return pa.table({"qid": pa.array(qv, pa.int64()), "docId": pa.array(dv, pa.int64()),
                     "score": pa.array(sv, pa.float64())})


def _packed_shards(
    qv: np.ndarray, dv: np.ndarray, sv: np.ndarray, n_merge: int
) -> pa.Table:
    """Pack per-bucket top-k arrays into PACKED_TOPK_SCHEMA rows, one per
    merge shard (qid % n_merge) — all candidates of a qid share a shard, so
    the sharded merge stays selection-exact per qid."""
    mk = qv % n_merge
    shards = [(r, np.flatnonzero(mk == r)) for r in range(n_merge)]
    shards = [(r, ix) for r, ix in shards if len(ix)]
    return pa.table({
        "mkey": pa.array([r for r, _ in shards], pa.int32()),
        "qids": pa.array([qv[ix].astype("<i8").tobytes() for _, ix in shards], pa.binary()),
        "docids": pa.array([dv[ix].astype("<i8").tobytes() for _, ix in shards], pa.binary()),
        "scores": pa.array([sv[ix].astype("<f8").tobytes() for _, ix in shards], pa.binary()),
    })


def _merge_blobs(blobs: DataFrame, n_merge: int, k: int, ties: str) -> DataFrame:
    """The packed-merge tail of the batch DAAT plan and the serving cache:
    hash-partition per-bucket packed shard rows by merge shard (all
    candidates of a qid share one mkey, so each task's selection is exact;
    n_merge=1 is one merge task for small workloads) and select each qid's
    top-k in one vectorized pass per task. Each blob column's data buffer
    is read once, as one array of the whole task's candidates."""

    def merge(batches):
        batch_list = [b for b in batches if b.num_rows]
        if batch_list:
            tbl = _combine_large(batch_list)

            def flat(name, dt):
                offs, data = _binary_offsets(tbl.column(name).chunk(0))
                return data[offs[0] : offs[-1]].view(dt)

            top = _topk(flat("qids", "<i8"), flat("docids", "<i8"), flat("scores", "<f8"),
                        k, ties)
            yield from _scored(*top).to_batches()

    return blobs.repartition(n_merge, "mkey").mapInArrow(merge, BATCH_SCHEMA)


def _shipped(spark: SparkSession, value, size: int):
    """A zero-arg getter that hands ``value`` to kernel tasks, built from
    ``functools.partial`` so it pickles by reference. Big workload values
    (``size`` >= 256, e.g. a 16k-query qmetas cloudpickles to ~1 MB) ship
    as a broadcast, fetched and cached once per python worker process; a
    captured value would be re-shipped and re-unpickled PER TASK."""
    if size >= 256:
        return partial(getattr, spark.sparkContext.broadcast(value), "value")
    return partial(_identity, value)


def _identity(value):
    return value


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
    ties: str = "desc",
    n_buckets: int | None = None,
    deleted: np.ndarray | None = None,
    docid_span: tuple[int, int] | None = None,
) -> DataFrame:
    """Batch DAAT for a WHOLE QUERY WORKLOAD -> (qid, docId, score).

    One ``term IN (union of all query terms)`` segment scan, one bucketized
    block shuffle, then ONE kernel call (:func:`_daat_rows_batch`) per
    bucket: each packed row decodes once per bucket and the whole workload
    reduces with L2-resident accumulators. When the bucket count (explicit
    ``n_buckets`` or :func:`_auto_buckets`) is 1, the scan feeds one kernel
    call in one task instead (:func:`_one_task`) and the merge exchange goes
    too: that call's per-qid top-k is final, in (qid asc, score desc, docId
    ``ties``) order. Per-bucket results merge as packed blobs, or past
    ``_BLOB_MERGE_CAP`` through the same two-stage top-k as
    :func:`score_queries_batch`; a single query merges by
    TakeOrderedAndProject.

    With ``k=None`` every (qid, docId, score) row is returned unordered
    (each docId lives in exactly one bucket, so rows are already final)."""
    return _daat_plan(spark, segments, term_stats, _analyzed(queries, analyzer),
                      n_docs, avgdl, scorer, k, ties, n_buckets, deleted, docid_span)


def _daat_plan(
    spark: SparkSession,
    segments: DataFrame,
    term_stats,
    qtfs: dict[int, dict[str, float]],
    n_docs: int,
    avgdl: float,
    scorer: Scorer,
    k: int | None,
    ties: str,
    n_buckets: int | None,
    deleted: np.ndarray | None,
    docid_span: tuple[int, int] | None,
    single: bool = False,
) -> DataFrame:
    """The one DAAT plan builder behind :func:`score_queries_daat_batch` ->
    (qid, docId, score) and, with ``single``, :func:`score_query_daat` ->
    one query's (docId, score) in result order."""
    schema = SCORE_SCHEMA if single else BATCH_SCHEMA
    qmetas, dfs = _prep_workload(term_stats, qtfs, scorer, n_docs)
    if not qmetas:
        return spark.createDataFrame([], schema)
    n_q = len(qmetas)
    # workload work estimate: one posting-score evaluation per (query, term,
    # posting) — drives the bucket count, driver-local (df comes from term
    # stats, no job)
    est_work = sum(dfs[t] for qm in qmetas.values() for t in qm)
    if n_buckets is None:
        n_buckets = _auto_buckets(spark, est_work)
    get_qmetas = _shipped(spark, qmetas, n_q)
    if n_buckets == 1:
        # one bucket's per-qid top-k is already final and in result order:
        # no merge exchange and, with k, no sort
        kernel = partial(_one_task_kernel, get_qmetas, scorer, avgdl, k, ties, deleted,
                         single)
        out = _one_task(segments, sorted(dfs), term_stats, kernel, schema)
        return out.orderBy(*_order(ties)) if single and k is None else out

    def score_rows(tbl):
        return _score_bucket_rows(tbl, get_qmetas(), scorer, avgdl, k, ties, deleted)

    seg = _candidate_scan(segments, sorted(dfs), term_stats)
    bucketed = _bucketize_segments(spark, seg, n_buckets, docid_span, est_work)
    if bucketed is None:
        return spark.createDataFrame([], schema)
    # Merge strategy for the per-bucket top-k of a workload. The row
    # merge shuffles every per-(bucket, query) candidate as a JVM row
    # (2M rows for a 16k-query workload: Arrow->UnsafeRow conversion, a
    # partial-prune python stage, a by-qid shuffle — per-row costs on
    # both sides). When the total candidate count is bounded (Q x k x
    # buckets, the kernel's output ceiling), emit ONE PACKED ROW PER
    # BUCKET instead and merge the blobs in a few cheap tasks: ~32
    # binary rows through the shuffle, one vectorized segmented top-k at
    # the end. Selection-only — scores are untouched bytes, so results
    # are bit-identical to the row merge.
    blob_ceiling = n_q * (k or 0) * n_buckets
    if n_q > 1 and 0 < blob_ceiling <= _BLOB_MERGE_CAP:
        n_merge = _n_merge_tasks(spark, blob_ceiling)
        blobs = bucketed.groupBy("bucket").applyInArrow(
            lambda tbl: _packed_shards(*score_rows(tbl), n_merge),
            PACKED_TOPK_SCHEMA,
        )
        return _merge_blobs(blobs, n_merge, k, ties)
    local = bucketed.groupBy("bucket").applyInArrow(
        lambda tbl: _scored(*score_rows(tbl)), BATCH_SCHEMA
    )
    merged = _merge_topk(local, n_q, k, ties)
    return _single(merged, k, ties) if single else merged


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
    ties: str = "desc",
    n_buckets: int | None = None,
    deleted: np.ndarray | None = None,
    docid_span: tuple[int, int] | None = None,
    pre_analyzed: bool = False,
) -> DataFrame:
    """Distributed DAAT for one query, the Q=1 case of the batch plan
    (:func:`score_queries_daat_batch`): parquet pushdown on term ->
    byte-level block re-key by docId bucket -> per-bucket kernel with local
    top-k -> global TakeOrderedAndProject (≙ the reference's per-segment
    top-k + global PQ, IIM:1282-1313).

    When the bucket count (explicit ``n_buckets`` or :func:`_auto_buckets`
    over the query's Σdf) is 1 — any interactive query whose postings fit
    one task — the re-key is skipped: pushed scan of the six columns the
    kernel reads -> ``coalesce(1)`` -> one kernel call over the whole
    packed rows, one Spark job of one task with no exchange
    (:func:`_one_task`). With ``k`` the kernel's top-k, emitted as
    (docId, score) in (score desc, docId ``ties``) order, is the result:
    no sort follows it. It needs no ``docid_span`` either, so the span-agg
    job never runs on that plan. The query-term df lookup runs on the
    driver (``segments.term_dfs``) for the ``load_term_stats`` scan and a
    pandas frame alike, so that job is the whole call. What a query does
    not change is built once per frame: the projected, coalesced scan per
    segments frame and the dictionary's footers per term-stats frame, so a
    query's plan adds only a term filter and the kernel call.

    ``deleted``: sorted int64 tombstone array (operators/delete.py
    ``deleted_array``) — masked inside the kernel as rows decode.

    ``pre_analyzed``: keywords are already index terms (e.g. produced by
    the query parser's analysis pass) — count them as-is instead of
    re-analyzing, which would double-stem under non-idempotent analyzers
    like porter. A ``{term: weight}`` dict is also accepted here (parser
    ``^W`` boosts fold into the per-term query weight, the qtf slot)."""
    if pre_analyzed:
        qtfs = dict(keywords) if isinstance(keywords, dict) else dict(Counter(keywords))
    else:
        qtfs = query_tfs(keywords, analyzer)
    return _daat_plan(spark, segments, term_stats, {0: qtfs}, n_docs, avgdl, scorer,
                      k, ties, n_buckets, deleted, docid_span, single=True)


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
    dfs = term_dfs(term_stats, list(tfs))
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
    kernel, bounded top-k) carries over unchanged."""
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
    rank with the cheap primary scorer (DAAT BM25), then re-rank
    ONLY the top-``window`` hits with a more expensive secondary signal —
    here an exact positional phrase match adding ``boost`` to the primary
    score — and return the top-``k`` of the rescored window. Docs outside
    the window are never rescored (the rescore contract: the expensive
    signal's cost is O(window), not O(matches)).

    Scale shape: the primary pass is :func:`score_query_daat` (term-pushed,
    TakeOrdered at ``window``), run once and its ≤ ``window`` rows
    collected to the driver; the phrase pass decodes ONLY the phrase terms'
    postings (``In`` pushdown on L terms) and semi-joins them to the
    broadcast window before the positional match, so the phrase
    aggregation sees window docs only; the window then joins its
    (≤ window) phrase hits and the final re-sort of ``window`` rows is a
    TakeOrderedAndProject. Ties in the rescored order break docId asc —
    deterministic and oracle-comparable.
    """
    from ..sources.segments import decode_postings
    from .query import analyze_query, search_phrase

    win = spark.createDataFrame(
        score_query_daat(
            spark, segments, term_stats, keywords, n_docs, avgdl, scorer,
            k=window, analyzer=analyzer, ties=ties, deleted=deleted,
            docid_span=docid_span,
        ).collect(),
        SCORE_SCHEMA,
    )
    ph_terms = analyze_query(phrase, analyzer)
    dec = decode_postings(segments, sorted(set(ph_terms)), with_positions=True)
    in_window = dec.join(F.broadcast(win.select("docId")), "docId", "left_semi")
    ph = search_phrase(in_window, ph_terms).select("docId", F.lit(1).alias("_ph"))
    return (
        win.join(F.broadcast(ph), "docId", "left")
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

    Scale shape: one DAAT pass per field (each with its own term
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
    one collect_set agg), the query scores through the usual DAAT kernel,
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
