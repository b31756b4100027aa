"""Headline benchmark (driver contract).

Runs the engine's flagship operations at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {...per-op sec...}, "sf": <sf>, "throughput": {...}}

This host is SHARED: neighbor load swings single-shot wall times 2-6x for
minutes at a time (BENCH.md methodology notes). The suite therefore runs
``$SPARK_GRAFT_TRIALS`` (default 2) full INTERLEAVED passes and reports the
per-query BEST — the same best-of methodology as tools/scaling_bench.py, so
a loaded window during one pass cannot poison every number.

Timed stages (per trial, fresh temp dirs each):
- ``index_build``      full resumable segment build over the sf documents table
  (tokenize -> salted hash shuffle -> delta+varbyte packed segments + stats)
- ``bm25_topk_daat``   distributed DAAT BM25 top-10
- ``bm25_topk_decl``   declarative decode->agg->TakeOrdered BM25 top-10
- ``tfidf_all``        reference-parity TF-IDF cosine, all matching docs
- ``boolean_and`` / ``phrase``  boolean + positional phrase retrieval
- ``minhash_pairs``    MinHash+LSH near-dup candidate pairs
- ``cosine_topk``      brute-force cosine ANN top-20 over embeddings
- ``compact_4to1``     byte-level packed-row merge of a 4-batch index into one
  (B4/B5 path — the merge claim finally carries a number)
- ``synthetic_build_40k``  index build over a 40k-doc generated corpus
  (the docs/sec throughput figure that BENCH.md's scaling runs extend)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_trial(spark, sf_dir: str, docs, n_docs_sf: int, syn, n_syn: int) -> dict:
    """One full pass over every timed stage; fresh output dirs throughout."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.dedup import (
        candidate_pairs,
        lsh_buckets,
        minhash_signatures,
    )
    from search_engine_spark.operators.query import search_and, search_phrase
    from search_engine_spark.operators.rank import (
        Scorer,
        score_queries_batch,
        score_queries_daat_batch,
        score_query,
        score_query_daat,
    )
    from search_engine_spark.operators.similarity import cosine_topk
    from search_engine_spark.sources.segments import (
        build_index,
        compact,
        decode_postings,
        load_segments,
        load_term_stats,
    )

    q_ranked = ["spark", "query", "join"]
    q_and = ["spark", "join", "filter"]
    q_phrase = ["table", "scan"]

    times: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        times[name] = round(time.time() - t0, 3)
        return out

    idx = tempfile.mkdtemp(prefix="bench_idx_")
    shutil.rmtree(idx, ignore_errors=True)
    m = timed(
        "index_build",
        lambda: build_index(
            spark, docs, idx, analyzer="naive", n_batches=1,
            heavy_threshold=max(64, n_docs_sf // 10), n_salts=8,
        ),
    )
    segs = load_segments(spark, idx)
    stats = load_term_stats(spark, idx)
    n_docs, avgdl = m["stats"]["n_docs"], m["stats"]["avgdl"]
    # serving-process setup (SURVEY §2.10): driver-local vocabulary stats +
    # manifest docId span — the DAAT rows then launch no auxiliary jobs
    from search_engine_spark.sources.segments import docid_span, load_term_stats_pdf

    stats_pdf = load_term_stats_pdf(idx)
    span = docid_span(idx)

    timed(
        "bm25_topk_daat",
        lambda: score_query_daat(
            spark, segs, stats_pdf, q_ranked, n_docs, avgdl,
            Scorer("bm25"), k=10, analyzer="naive", docid_span=span,
        ).collect(),
    )
    timed(
        "bm25_topk_decl",
        lambda: score_query(
            spark, decode_postings(segs, q_ranked), stats, q_ranked, n_docs,
            avgdl, Scorer("bm25"), k=10, analyzer="naive",
        ).collect(),
    )
    timed(
        "tfidf_all",
        lambda: score_query_daat(
            spark, segs, stats_pdf, q_ranked, n_docs,
            avgdl, Scorer("tfidf_cosine"), k=None, analyzer="naive",
            docid_span=span,
        ).count(),
    )

    # batch workload: 32 deterministic 3-term queries over the corpus vocab,
    # scored in ONE job (shared scan + one shuffle) — the throughput path
    vocab = [
        "spark", "query", "join", "hash", "merge", "window", "stream",
        "batch", "vector", "sort", "fast", "scan", "filter", "table", "row",
        "column", "group", "agg", "key", "value", "data", "line", "small",
        "big", "slow", "order", "part", "customer",
    ]
    nv = len(vocab)
    q_batch = {
        i: [vocab[i % nv], vocab[(i * 7 + 3) % nv], vocab[(i * 13 + 5) % nv]]
        for i in range(32)
    }
    batch_terms = sorted({t for kw in q_batch.values() for t in kw})
    timed(
        "bm25_batch32",
        lambda: score_queries_batch(
            spark, decode_postings(segs, batch_terms), stats, q_batch, n_docs,
            avgdl, Scorer("bm25"), k=10, analyzer="naive",
        ).count(),
    )
    timed(
        "bm25_batch32_daat",
        lambda: score_queries_daat_batch(
            spark, segs, stats_pdf, q_batch, n_docs, avgdl,
            Scorer("bm25"), k=10, analyzer="naive", docid_span=span,
        ).count(),
    )

    # steady-state serving: the same workload over a prepared bucketized
    # cache (shards prepared once per index generation, untimed — the
    # serving-process analog of the index build itself)
    from search_engine_spark.operators.serving import (
        prepare_serving_cache, score_queries_cached)

    cache = prepare_serving_cache(spark, idx, idx + "_scache", n_buckets=8)
    timed(
        "bm25_batch32_cached",
        lambda: score_queries_cached(
            spark, cache, stats_pdf, q_batch, n_docs, avgdl,
            Scorer("bm25"), k=10, analyzer="naive",
        ).count(),
    )

    dec = decode_postings(segs, list(set(q_and + q_phrase)), with_positions=True)
    timed("boolean_and", lambda: search_and(dec, q_and).count())
    timed("phrase", lambda: search_phrase(dec, q_phrase).count())

    # unified query-string parser: fuzzy + phrase + numeric range + NOT,
    # one string -> one plan (operators/parser.py)
    from search_engine_spark.operators.parser import search_query_string

    docs_n = docs.withColumn("n_chars", F.length("content"))
    timed(
        "parsed_query",
        lambda: search_query_string(
            spark, segs, stats,
            '(spark~1 OR "table scan") AND n_chars:[150 TO 450] AND NOT zebra',
            corpus=docs_n, analyzer="naive", max_expansions=16,
        ).count(),
    )

    # ranked query string: the same parsed filter, BM25-scored (q19)
    from search_engine_spark.operators.parser import rank_query_string

    timed(
        "ranked_parsed",
        lambda: rank_query_string(
            spark, segs, stats, '(query AND "hash join") OR sl*',
            n_docs, avgdl, k=10, analyzer="naive",
        ).count(),
    )

    # trigram code-search path: build the substring index (timed — trigram
    # vocab is small but posting lists are the heaviest in any index), then
    # byte-exact substring + pruned-regex queries through probe/verify
    from search_engine_spark.operators.codesearch import (
        search_regex_content,
        search_substring,
    )

    idx_t = tempfile.mkdtemp(prefix="bench_tri_")
    shutil.rmtree(idx_t, ignore_errors=True)
    timed(
        "trigram_build",
        lambda: build_index(
            spark, docs, idx_t, analyzer="trigram", with_positions=False,
            membership=True,  # tf==1 by construction: docid-only payload
            n_batches=1, heavy_threshold=max(64, n_docs_sf // 10), n_salts=8,
        ),
    )
    tsegs = load_segments(spark, idx_t)
    tstats = load_term_stats(spark, idx_t)
    timed(
        "substring_search",
        lambda: search_substring(tsegs, docs, "merge batch", tstats).count(),
    )
    timed(
        "regex_content_search",
        lambda: search_regex_content(
            tsegs, docs, "merge [a-z]+ scan", tstats
        ).count(),
    )
    # batched substring serving: 32 needles, one shared probe/verify job
    from search_engine_spark.operators.codesearch import search_substring_batch

    nv2 = len(vocab)
    sub_batch = {
        i: f"{vocab[i % nv2]} {vocab[(i * 11 + 3) % nv2]}" for i in range(32)
    }
    timed(
        "substring_batch32",
        lambda: search_substring_batch(tsegs, docs, sub_batch, tstats).count(),
    )
    shutil.rmtree(idx_t, ignore_errors=True)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed(
        "minhash_pairs",
        lambda: candidate_pairs(
            lsh_buckets(minhash_signatures(d, "text", "doc_id", 12, 3), "doc_id", 4, 3),
            "doc_id",
        ).count(),
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = list(e.where(F.col("vec_id") == 0).select("embedding").first()[0])
    timed("cosine_topk", lambda: cosine_topk(e.where(F.col("vec_id") != 0), qv, 20).collect())

    # PQ serving: codebooks + code table are per-corpus artifacts (untimed);
    # the timed row is the ADC top-k over the compressed codes only
    from search_engine_spark.operators.similarity import pq_encode, pq_topk, pq_train

    e_corpus = e.where(F.col("vec_id") != 0)
    pq_books = pq_train(e_corpus, m=4, k=16)
    pq_codes = pq_encode(e_corpus, pq_books).persist()
    pq_codes.count()
    timed(
        "pq_adc_topk",
        lambda: pq_topk(e_corpus, qv, 20, codebooks=pq_books, codes=pq_codes).collect(),
    )
    pq_codes.unpersist()

    # compaction: 4-batch build over the sf docs (untimed setup), then the
    # byte-level packed-row merge of all four batches into one (timed)
    idx_c = tempfile.mkdtemp(prefix="bench_cmp_")
    shutil.rmtree(idx_c, ignore_errors=True)
    build_index(
        spark, docs, idx_c, analyzer="naive", n_batches=4,
        heavy_threshold=max(64, n_docs_sf // 10), n_salts=8,
    )
    timed("compact_4to1", lambda: compact(spark, idx_c, [0, 1, 2, 3]))

    idx2 = tempfile.mkdtemp(prefix="bench_syn_")
    shutil.rmtree(idx2, ignore_errors=True)
    timed(
        "synthetic_build_40k",
        lambda: build_index(
            spark, syn, idx2, analyzer="porter", n_batches=1,
            heavy_threshold=n_syn // 20, n_salts=8,
        ),
    )
    for p in (idx, idx_c, idx2):
        shutil.rmtree(p, ignore_errors=True)
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "2"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as _F

    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.corpus import load_documents, synthetic_corpus

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_documents(spark, sf_dir)
    n_docs_sf = docs.count()  # warm the JVM/reader outside timings
    corpus_mb = (
        docs.agg(_F.sum(_F.length("content")).alias("b")).first()["b"] or 0
    ) / (1024.0 * 1024.0)

    # larger synthetic corpus: the throughput figure the scaling runs extend.
    # Materialized to parquet ONCE, outside timings: the generator is lazy,
    # so building straight from it would re-run the (Python-heavy) row
    # generation on every pass — the timed figure would measure corpus
    # generation, not indexing. Stored parquet is also the real input shape.
    n_syn = int(os.environ.get("SPARK_GRAFT_SYN_DOCS", "40000"))
    syn_dir = tempfile.mkdtemp(prefix="bench_syn_src_")
    shutil.rmtree(syn_dir, ignore_errors=True)
    synthetic_corpus(
        spark, n_docs=n_syn, vocab_size=20000, partitions=4 * int(cpus)
    ).write.parquet(syn_dir)
    syn = spark.read.parquet(syn_dir)
    syn_mb = round(
        (syn.agg(_F.sum(_F.length("content")).alias("b")).first()["b"] or 0) / 2**20, 1
    )

    trials = [
        run_trial(spark, sf_dir, docs, n_docs_sf, syn, n_syn)
        for _ in range(max(1, n_trials))
    ]
    times = {k: min(t[k] for t in trials) for k in trials[0]}

    thr = {
        "index_docs_per_sec": round(n_docs_sf / times["index_build"], 1),
        "batch_queries_per_sec": round(32 / times["bm25_batch32"], 1),
        "cached_queries_per_sec": round(32 / times["bm25_batch32_cached"], 1),
        "synthetic_corpus_mb": syn_mb,
        "synthetic_index_docs_per_sec": round(n_syn / times["synthetic_build_40k"], 1),
        "trials": len(trials),
    }
    shutil.rmtree(syn_dir, ignore_errors=True)
    spark.stop()

    result = {
        "metric": "headline_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "throughput": thr,
    }
    try:
        write_bench_md(times, thr, result["sf"], corpus_mb)
    except Exception as ex:  # the table is best-effort; never fail the bench
        print(f"# BENCH.md update skipped: {ex}", file=sys.stderr)
    print(json.dumps(result))


def _latest_prior_bench() -> tuple[str, dict]:
    """Most recent driver-recorded BENCH_r{N}.json — the carry-forward
    column that makes regressions visible round over round."""
    import glob
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    # sort by the NUMERIC round (BENCH_r2 < BENCH_r10); lexicographic path
    # sort would pick the wrong prior once rounds pass one digit
    def round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    paths = sorted(glob.glob(os.path.join(root, "BENCH_r*.json")), key=round_no)
    if not paths:
        return "", {}
    with open(paths[-1]) as f:
        data = json.load(f)
    data = data.get("parsed", data)  # driver wraps the JSON line under "parsed"
    return os.path.basename(paths[-1]), data.get("queries", {})


def write_bench_md(times: dict, thr: dict, sf, corpus_mb: float) -> None:
    """Rewrite the auto section of BENCH.md: per-query seconds, delta vs the
    previous round's recorded bench, and ratio vs the BASELINE.md envelope.

    Envelope derivation (BASELINE.md "Reference-derived envelope"):
    - build queries: the reference indexes at >= ~0.85 MB/s single-thread
      (Team2StressTest) => envelope_sec = corpus_MB / 0.85;
    - the query suite combined: the reference's end-to-end budget is 900 s
      for its ~1 GB corpus (IcsSearchEngineTest) => 900 * corpus_MB / 1024.
    Ratio < 1 means faster than the reference envelope at equivalent bytes.
    """
    from tools.harness import write_section

    prior_name, prior = _latest_prior_bench()
    # build rows compare THROUGHPUT against the reference floor (0.85 MB/s
    # single-thread, Team2StressTest): size-independent, so meaningful at
    # this tiny sf. Query rows are dominated by fixed Spark job-launch
    # overhead (~1-2 s) at a 1-2 MB corpus — a seconds-vs-envelope ratio at
    # this sf would measure overhead, not the operator — so they carry the
    # prior-round column for regression tracking instead.
    build_mb = {"index_build": corpus_mb}
    if "synthetic_build_40k" in times and "synthetic_corpus_mb" in thr:
        build_mb["synthetic_build_40k"] = thr["synthetic_corpus_mb"]

    lines = [
        "## Per-query bench vs baseline envelope (auto-generated by bench.py)",
        "",
        f"sf={sf}, corpus ≈ {corpus_mb:.1f} MB, best of {thr.get('trials', 1)} "
        "interleaved trials (shared-host noise guard — same methodology as "
        "tools/scaling_bench.py); reference envelope: ≥0.85 MB/s "
        "single-thread build (Team2StressTest), 900 s/GB end-to-end "
        "(IcsSearchEngineTest). Build rows show measured MB/s and the ratio "
        "vs 0.85 MB/s (>1 = faster than the reference's single thread; the "
        "whole 32-thread job, not per-core). Query rows track the prior "
        f"round ({prior_name or 'n/a'}) — at this corpus size their wall "
        "time is fixed job-launch overhead, which vanishes at scale.",
        "",
        "| query | sec | prior sec | delta | MB/s | vs 0.85 MB/s |",
        "|---|---|---|---|---|---|",
    ]
    for k, v in times.items():
        p = prior.get(k)
        delta = f"{v - p:+.1f}s" if p is not None else "—"
        if k in build_mb and v > 0:
            mbs = build_mb[k] / v
            mbs_s, ratio = f"{mbs:.2f}", f"{mbs / 0.85:.2f}x"
        else:
            mbs_s = ratio = "—"
        lines.append(
            f"| {k} | {v:.2f} | {p if p is not None else '—'} | {delta} | {mbs_s} | {ratio} |"
        )
    for k, v in thr.items():
        lines.append(f"| {k} | {v} | — | — | — | — |")
    write_section("bench:auto", "\n".join(lines))


if __name__ == "__main__":
    main()
