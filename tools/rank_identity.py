"""North-star metric: BM25 top-10 rank-identity RATE over a query set.

The reference's own query set is a handful of hand-written test queries
(covered verbatim in tests/test_query_rank.py); the rate reported here is
measured over a deterministic df-stratified sample of the indexed
vocabulary — rare / mid / heavy document-frequency terms mixed into 1-3
term queries — which is the honest generalization of "the reference query
set" once the corpus is synthetic. A query counts as rank-identical when
the distributed DAAT top-10 (salted heavy terms, multi-batch index)
returns the oracle's exact docID sequence AND every
score agrees within 1e-9.

Usage::

    python tools/rank_identity.py [n_docs] [n_queries] [k]

Prints one JSON line:
{"n_docs":..., "n_queries":..., "k":..., "rank_identical":..., "rate":...,
 "max_abs_score_err":..., "sec":..., "mismatches":[...]}
"""

from __future__ import annotations

import json
import shutil
import sys
import time

from harness import stratified_queries, write_section


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    ids = sys.argv[4] if len(sys.argv) > 4 else "hash"  # hash | dense

    from search_engine_spark.operators import rank as R
    from search_engine_spark.plans.oracle import OracleIndex
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import segments as S
    from search_engine_spark.sources.corpus import synthetic_corpus

    spark = get_spark(app="rank_identity", master="local[8]", shuffle_partitions=8)
    corpus = synthetic_corpus(spark, n_docs=n_docs, vocab_size=max(600, n_docs // 3),
                              seed=11, dense_ids=(ids == "dense"))
    idx = "/tmp/rank_identity_idx"
    shutil.rmtree(idx, ignore_errors=True)
    m = S.build_index(
        spark, corpus, idx, analyzer="porter", n_batches=2,
        heavy_threshold=max(40, n_docs // 50), n_salts=4,
    )
    segs, stats = S.load_segments(spark, idx), S.load_term_stats(spark, idx)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]

    pdf = corpus.select("docId", "content").toPandas()
    oracle = OracleIndex(dict(zip(pdf.docId, pdf.content)), "porter")

    # df-stratified queries from the index's own term stats (deterministic:
    # the driver and executors see the identical query set).
    queries = stratified_queries([(r.term, r.df) for r in stats.collect()], n_queries)

    identical, max_err, mismatches = 0, 0.0, []
    t0 = time.time()
    for q in queries:
        exp = oracle.topk(q, k, "bm25")
        got = [
            (r.docId, r.score)
            for r in R.score_query_daat(
                spark, segs, stats, q, nd, avg, R.Scorer(), k
            ).collect()
        ]
        ids_ok = [d for d, _ in got] == [d for d, _ in exp]
        err = max((abs(a - b) for (_, a), (_, b) in zip(got, exp)), default=0.0)
        max_err = max(max_err, err)
        if ids_ok and err < 1e-9:
            identical += 1
        else:
            mismatches.append({"q": q, "ids_ok": ids_ok, "err": err})
    sec = round(time.time() - t0, 2)

    # SAME query set as ONE batched job (shared scan, one kernel call per
    # docId bucket): identity must hold query-for-query, and the wall-clock
    # ratio is the throughput win of batching over per-query jobs.
    t1 = time.time()
    batch_rows = R.score_queries_daat_batch(
        spark, segs, stats, dict(enumerate(queries)), nd, avg, R.Scorer(), k,
    ).collect()
    batch_sec = round(time.time() - t1, 2)
    by_q: dict[int, list] = {}
    for r in batch_rows:
        by_q.setdefault(int(r.qid), []).append((r.docId, r.score))
    batch_identical = 0
    for qi, q in enumerate(queries):
        exp = oracle.topk(q, k, "bm25")
        got = by_q.get(qi, [])
        if [d for d, _ in got] == [d for d, _ in exp] and all(
            abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, exp)
        ):
            batch_identical += 1

    report = {
        "n_docs": n_docs,
        "n_queries": n_queries,
        "k": k,
        "rank_identical": identical,
        "rate": round(identical / n_queries, 4),
        "max_abs_score_err": max_err,
        "sec": sec,
        "queries_per_sec": round(n_queries / sec, 2) if sec else None,
        "batch_rank_identical": batch_identical,
        "batch_sec": batch_sec,
        "batch_queries_per_sec": round(n_queries / batch_sec, 2) if batch_sec else None,
        "mismatches": mismatches[:10],
    }
    print(json.dumps(report))
    try:
        write_section("rank_identity:auto", render(report))
    except Exception as ex:  # best-effort doc update; never fail the metric
        print(f"# BENCH.md update skipped: {ex}", file=sys.stderr)
    return 0 if identical == n_queries else 1


def render(r: dict) -> str:
    """The north-star rank-identity section of BENCH.md."""
    return f"""## BM25 top-{r['k']} rank-identity rate (north-star metric)

Distributed DAAT (salted heavy terms, 2-batch index)
vs the single-node numpy oracle, over {r['n_queries']} df-stratified 1-3 term
queries on a {r['n_docs']:,}-doc porter-analyzed corpus; a query counts only
if the full top-{r['k']} docID sequence is identical AND every score agrees
within 1e-9.

**rank-identical: {r['rank_identical']}/{r['n_queries']} = {r['rate']:.1%}**,
max |score err| = {r['max_abs_score_err']:.2e}, {r['queries_per_sec']} queries/s
end-to-end (each query a full Spark job at local[8]).

Batched (same {r['n_queries']} queries as ONE ``score_queries_daat_batch``
job — shared scan, one kernel call per docId bucket; a single task
when the workload fits one bucket):
**rank-identical {r['batch_rank_identical']}/{r['n_queries']},
{r['batch_queries_per_sec']} queries/s** ({r['batch_sec']}s total —
{r['sec'] / r['batch_sec']:.0f}× the per-job throughput).

Reproduce: `python tools/rank_identity.py {r['n_docs']} {r['n_queries']} {r['k']}`"""


if __name__ == "__main__":
    sys.exit(main())
