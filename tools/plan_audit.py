"""Physical-plan audit: capture `.explain(formatted)` for the headline
operators and check the properties that matter at 100 TB:

- parquet scans carry PushedFilters / narrow ReadSchema (column pruning)
- small dimension inputs broadcast (BroadcastHashJoin / BroadcastExchange)
- aggregations are partial+final (HashAggregate x2 around the exchange)
- top-k is TakeOrderedAndProject or the one-task DAAT kernel's own, never a
  global Sort+collect
- expression work sits inside WholeStageCodegen spans

Writes PLANS.md at the repo root with plan excerpts + an assertion table.
Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def fmt_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def trim(plan: str, max_lines: int = 40) -> str:
    lines = [l.rstrip() for l in plan.splitlines()]
    # keep the tree + any scan detail blocks mentioning pushdown
    keep: list[str] = []
    for l in lines:
        keep.append(l)
        if len(keep) >= max_lines and not l.strip():
            keep.append("... (truncated)")
            break
    return "\n".join(keep)


CHECKS = {
    "pushed_term_filter": lambda p: bool(re.search(r"PushedFilters: \[.*(In|EqualTo)\(term", p)),
    "pushed_prefix_filter": lambda p: bool(re.search(r"PushedFilters: \[.*StringStartsWith\(term", p)),
    "pushed_any_filter": lambda p: "PushedFilters: [" in p and "PushedFilters: []" not in p,
    "column_pruned": lambda p: "ReadSchema" in p,
    "broadcast_join": lambda p: "BroadcastHashJoin" in p or "BroadcastExchange" in p,
    "partial_final_agg": lambda p: len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", p)) >= 2,
    "take_ordered_topk": lambda p: "TakeOrderedAndProject" in p,
    "whole_stage_codegen": lambda p: "WholeStageCodegen" in p or "codegen id" in p,
    "no_cartesian": lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
    "no_window": lambda p: "Window" not in p,
    "no_shuffle": lambda p: "Exchange hashpartitioning" not in p
    and "Exchange rangepartitioning" not in p,
    "no_join": lambda p: "Join" not in p,
    # exactly ONE hash exchange — the serving path's only shuffle is the
    # sharded top-k merge; everything upstream is resident-shard mmap reads
    "one_shuffle": lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1,
    # no Spark file-source scan at all: the per-bucket Arrow shards are read
    # inside the kernel task (mmap), not by the scan machinery
    "no_file_scan": lambda p: "FileScan" not in p and "Scan parquet" not in p,
}


def _node_col(line: str) -> int:
    """Column where a plan-tree node's name starts (children sit 3 deeper)."""
    return len(line) - len(line.lstrip(" :+-"))


def window_is_broadcast_side(p: str) -> bool:
    """q27's cost contract (O(window) rescore): every LeftSemi join is a
    broadcast hash join whose build side holds no file scan — the collected
    rescore window is broadcast and the phrase postings stream past it."""
    tree = p.split("\n\n")[0].splitlines()
    semis = [i for i, l in enumerate(tree) if "LeftSemi" in l]
    if not semis:
        return False
    for i in semis:
        if "BroadcastHashJoin LeftSemi BuildRight" not in tree[i]:
            return False
        col = _node_col(tree[i])
        sub = []
        for l in tree[i + 1:]:
            if _node_col(l) <= col:
                break
            sub.append(l)
        kids = [j for j, l in enumerate(sub) if _node_col(l) == col + 3]
        if len(kids) != 2 or "BroadcastExchange" not in sub[kids[1]]:
            return False
        if any("Scan parquet" in l for l in sub[kids[1]:]):
            return False
    return True


CHECKS["window_is_broadcast_side"] = window_is_broadcast_side

# the one-task DAAT plan's cost contract: its scan reads exactly the six
# columns the kernel decodes, and the kernel's top-k ends the plan
KERNEL_READ_SCHEMA = ("struct<term:string,max_tf:int,docids:binary,tfs:binary,dls:binary,"
                      "block_docid_off:array<int>>")
CHECKS["kernel_columns_only"] = (
    lambda p: re.findall(r"ReadSchema: (\S+)", p) == [KERNEL_READ_SCHEMA])
CHECKS["no_sort"] = (
    lambda p: not re.search(r"\bSort\b", p) and "TakeOrderedAndProject" not in p)


def audit(name: str, df, expect: list[str], out: list[str], results: list[tuple]):
    plan = fmt_plan(df)
    flags = {k: fn(plan) for k, fn in CHECKS.items()}
    ok = all(flags[e] for e in expect)
    results.append((name, expect, flags, ok))
    out.append(f"\n## {name}\n\nExpected: {', '.join(expect)} — "
               f"{'ALL PRESENT' if ok else 'MISSING: ' + ', '.join(e for e in expect if not flags[e])}\n")
    out.append("```\n" + trim(plan) + "\n```\n")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
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
        score_query,
        score_query_daat,
    )
    from search_engine_spark.operators.similarity import cosine_topk
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.corpus import load_documents
    from search_engine_spark.sources.segments import (
        build_index,
        decode_postings,
        load_segments,
        load_term_stats,
    )

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_documents(spark, sf_dir)
    idx = os.path.join(tempfile.gettempdir(), "plan_audit_idx")
    import shutil

    shutil.rmtree(idx, ignore_errors=True)
    m = build_index(spark, docs, idx, analyzer="naive", num_segments=8)
    segs, stats = load_segments(spark, idx), load_term_stats(spark, idx)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    terms = ["spark", "query", "join"]

    out: list[str] = [
        "# PLANS — physical-plan audit (scale properties)\n",
        f"Generated by `python tools/plan_audit.py {sf_dir}`. Each section shows",
        "`explain(formatted)` for a headline operator and asserts the plan",
        "properties that must hold for the 100 TB target.\n",
    ]
    results: list[tuple] = []

    audit(
        "segment scan with term pushdown (S10 seek analog)",
        segs.where(F.col("term").isin(terms)).select("term", "ndocs"),
        ["pushed_term_filter", "column_pruned", "whole_stage_codegen"],
        out, results,
    )
    audit(
        "BM25 declarative scoring (decode -> broadcast idf -> agg -> top-k)",
        score_query(spark, decode_postings(segs, terms), stats, terms, nd, avg,
                    Scorer("bm25"), k=10, analyzer="naive"),
        ["pushed_term_filter", "broadcast_join", "partial_final_agg",
         "take_ordered_topk", "no_cartesian"],
        out, results,
    )
    audit(
        "one-bucket interactive BM25 (DAAT: pushed scan of the kernel's six"
        " columns -> coalesce(1) -> one kernel task whose top-k is the result;"
        " no sort, no splitter, no bucket shuffle)",
        score_query_daat(spark, segs, stats, terms, nd, avg, Scorer("bm25"),
                         k=10, analyzer="naive",
                         docid_span=(m["stats"]["docid_lo"], m["stats"]["docid_hi"])),
        ["pushed_term_filter", "kernel_columns_only", "no_sort", "no_shuffle",
         "no_join", "no_window"],
        out, results,
    )
    audit(
        "batch BM25 (Q queries, one scan + one agg shuffle, windowless top-k)",
        score_queries_batch(
            spark, decode_postings(segs, terms + ["hash", "merge"]), stats,
            {0: terms, 1: ["hash", "merge"]}, nd, avg,
            Scorer("bm25"), k=10, analyzer="naive",
        ),
        ["pushed_term_filter", "broadcast_join", "partial_final_agg",
         "no_window", "no_cartesian"],
        out, results,
    )
    audit(
        "boolean AND (count-matching aggregation, no self-joins)",
        search_and(decode_postings(segs, ["spark", "join", "filter"]), ["spark", "join", "filter"]),
        ["pushed_term_filter", "partial_final_agg", "no_cartesian"],
        out, results,
    )
    audit(
        "phrase search (one positional decode -> shifted-position count agg, no joins)",
        search_phrase(
            decode_postings(segs, ["table", "scan"], with_positions=True), ["table", "scan"]
        ),
        ["pushed_term_filter", "no_cartesian", "no_join"],
        out, results,
    )
    from search_engine_spark.operators.delete import live

    tomb = docs.select("docId").where(F.col("docId") % 7 == 0)
    audit(
        "tombstone anti-filter (B7 lazy deletion — broadcast left-anti)",
        live(decode_postings(segs, terms), tomb),
        ["pushed_term_filter", "broadcast_join", "no_cartesian"],
        out, results,
    )
    audit(
        "corpus scan filter+project (predicate pushdown + pruning)",
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where((F.col("lang") == "en") & (F.col("n_chars") > 200))
        .select("doc_id", "n_chars"),
        ["pushed_any_filter", "column_pruned", "whole_stage_codegen"],
        out, results,
    )
    audit(
        "cosine top-k (scan -> JVM fold -> TakeOrdered)",
        cosine_topk(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            [0.1] * 64, k=20,
        ),
        ["take_ordered_topk", "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.similarity import ivf_assign

    _, ivf = ivf_assign(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), n_centroids=8)
    audit(
        "IVF cell assignment (inline argmax — pure projection)",
        ivf,
        ["no_window", "no_shuffle", "no_join", "column_pruned",
         "whole_stage_codegen"],
        out, results,
    )
    from search_engine_spark.operators.sampling import (
        grouped_topk,
        stratified_sample,
        token_budget_sample,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    audit(
        "stratified sample (pure projection+filter — zero shuffle)",
        stratified_sample(d, {"en": 0.5, "zh": 0.3}, strata_col="lang",
                          id_col="doc_id", default_rate=0.1),
        ["no_shuffle", "no_join", "no_window", "column_pruned",
         "whole_stage_codegen"],
        out, results,
    )
    audit(
        "token-budget cap (bucketed prefix sum; broadcast offsets join)",
        token_budget_sample(
            d.withColumn("n_tokens", F.col("n_chars").cast("long")),
            {"en": 5000, "es": 2000}, token_col="n_tokens",
            strata_col="lang", id_col="doc_id", n_buckets=8,
        ),
        ["broadcast_join", "no_cartesian"],
        out, results,
    )
    audit(
        "grouped top-k (bucketed two-stage sort-trim — windowless)",
        grouped_topk(d, ["lang"], "n_chars", "doc_id", 3, n_buckets=8),
        ["no_window", "no_join", "partial_final_agg", "column_pruned",
         "no_cartesian"],
        out, results,
    )
    audit(
        "minhash LSH candidate pairs (bucket-local equi-join)",
        candidate_pairs(
            lsh_buckets(minhash_signatures(d, "text", "doc_id", 12, 3), "doc_id", 4, 3),
            "doc_id",
        ),
        ["partial_final_agg", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.query import (
        facet_counts,
        fuzzy_candidates,
        related_terms,
        search_and_not,
        search_prefix,
        search_proximity,
    )
    from search_engine_spark.operators.textstats import keyword_snippets

    audit(
        "prefix term query (dictionary range seek -> StringStartsWith pushdown)",
        search_prefix(segs, "sp", "naive"),
        ["pushed_prefix_filter", "column_pruned", "partial_final_agg",
         "no_cartesian"],
        out, results,
    )
    audit(
        "boolean AND-NOT (count-matching agg + anti join, term pushdown both sides)",
        search_and_not(decode_postings(segs, ["spark", "join", "filter"]),
                       ["spark", "join"], ["filter"]),
        ["pushed_term_filter", "partial_final_agg", "no_cartesian"],
        out, results,
    )
    audit(
        "proximity window (positional set algebra, equi-join only)",
        search_proximity(
            decode_postings(segs, ["table", "scan"], with_positions=True),
            "table", "scan", 5,
        ),
        ["pushed_term_filter", "no_cartesian", "no_window"],
        out, results,
    )
    audit(
        "fuzzy term expansion (dictionary-only Levenshtein scan, ranked cap)",
        fuzzy_candidates(stats, "spak", 2, 16),
        ["take_ordered_topk", "no_join", "no_window", "no_shuffle",
         "column_pruned", "whole_stage_codegen", "no_cartesian"],
        out, results,
    )
    audit(
        "facet counts (broadcast semi-join + stacked single partial+final agg)",
        facet_counts(
            d.select("doc_id").limit(50), d, ["lang", "source"], id_col="doc_id"
        ),
        ["broadcast_join", "partial_final_agg", "column_pruned",
         "no_window", "no_cartesian"],
        out, results,
    )
    audit(
        "related terms / PMI (one docId equi-join + partial+final agg, ranked cap)",
        related_terms(
            decode_postings(segs), load_term_stats(spark, idx), "spark", 1000
        ),
        ["take_ordered_topk", "partial_final_agg", "no_window",
         "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.rank import score_with_boosts

    audit(
        "metadata-boosted re-rank (literal CASE bonus + one equi-join, TakeOrdered)",
        score_with_boosts(
            d.select(F.col("doc_id").alias("docId"),
                     F.col("n_chars").cast("double").alias("score")),
            d.select(F.col("doc_id").alias("docId"), "source", "lang"),
            {"source": {"src3": 0.5}, "lang": {"de": 0.1}}, k=10,
        ),
        ["take_ordered_topk", "no_window", "no_cartesian", "column_pruned"],
        out, results,
    )
    audit(
        "keyword snippets (serving hydration — pure projection)",
        keyword_snippets(d, "spark", text="text", id_col="doc_id"),
        ["no_shuffle", "no_join", "no_window", "column_pruned",
         "whole_stage_codegen"],
        out, results,
    )
    from search_engine_spark.operators.similarity import pq_encode, pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, m=4, k=16)
    audit(
        "PQ encode (inline argmin over codebook literals — pure projection)",
        pq_encode(emb, books),
        ["no_window", "no_shuffle", "no_join", "column_pruned",
         "whole_stage_codegen"],
        out, results,
    )
    audit(
        "PQ ADC top-k (code-table scan + LUT lookups + TakeOrdered)",
        pq_topk(emb, [0.1] * 64, 20, codebooks=books),
        ["take_ordered_topk", "no_join", "no_window", "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.similarity import ivfpq_topk, lowid_centroids

    audit(
        "IVF-PQ top-k (cid-filtered code scan + ADC + TakeOrdered)",
        ivfpq_topk(emb, [0.1] * 64, 20, centroids=lowid_centroids(emb, 8),
                   codebooks=books),
        ["take_ordered_topk", "no_join", "no_window", "no_shuffle",
         "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.similarity import pq_rerank_topk

    audit(
        "PQ rerank top-k (ADC shortlist -> broadcast semi-join -> exact fold)",
        pq_rerank_topk(emb, [0.1] * 64, 20, shortlist=100, codebooks=books),
        ["take_ordered_topk", "broadcast_join", "no_window", "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.similarity import (
        ivfpq_encode_residual,
        ivfpq_topk_residual,
        ivfpq_train_residual,
    )

    cents8 = lowid_centroids(emb, 8)
    books_res = ivfpq_train_residual(emb, cents8, m=4, k=16)
    audit(
        "residual IVF-PQ encode (assign -> centroid lookup -> subtract -> argmin, one projection)",
        ivfpq_encode_residual(emb, cents8, books_res),
        ["no_window", "no_shuffle", "no_join", "column_pruned",
         "whole_stage_codegen"],
        out, results,
    )
    audit(
        "residual IVF-PQ top-k (per-cell LUT union over cid-filtered codes)",
        ivfpq_topk_residual(emb, [0.1] * 64, 20, centroids=cents8,
                            codebooks=books_res),
        ["take_ordered_topk", "no_join", "no_window", "no_shuffle",
         "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.dedup import decontaminate
    from search_engine_spark.operators.textstats import pii_scrub, repetition_stats
    from search_engine_spark.streaming.ingest import user_sessions

    audit(
        "repetition stats (t8: explode -> two map-side-combinable aggs, no window)",
        repetition_stats(docs, "content", "docId"),
        ["partial_final_agg", "no_window", "no_cartesian", "column_pruned"],
        out, results,
    )
    audit(
        "decontamination (d7: benchmark n-gram hashes broadcast; corpus side scan->explode->semi-join->agg)",
        decontaminate(
            docs.where(F.col("docId") % 97 != 0),
            docs.where(F.col("docId") % 97 == 0),
            "content", "docId", ngram_n=8,
        ),
        ["broadcast_join", "no_cartesian", "partial_final_agg", "no_window"],
        out, results,
    )
    audit(
        "PII scrub (t10: pure per-row JVM regex — zero shuffle, zero join)",
        pii_scrub(docs, "content", "docId"),
        ["no_shuffle", "no_join", "no_window", "whole_stage_codegen",
         "column_pruned"],
        out, results,
    )
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    audit(
        "sessionization (st2: session_window agg — one shuffle, no per-user sort window)",
        user_sessions(events, gap="30 minutes"),
        ["no_window", "no_cartesian", "column_pruned"],
        out, results,
    )
    from search_engine_spark.operators.query import field_terms
    from search_engine_spark.operators.rank import score_query_fielded

    fidx = os.path.join(tempfile.gettempdir(), "plan_audit_fielded_idx")
    shutil.rmtree(fidx, ignore_errors=True)
    fm = build_index(
        spark, docs, fidx, analyzer="naive", num_segments=8,
        fields={"lang": "naive"},
    )
    fsegs, fstats = load_segments(spark, fidx), load_term_stats(spark, fidx)
    audit(
        "fielded AND (q2fl: field terms ride the same In pushdown as content terms)",
        search_and(
            decode_postings(fsegs, terms + field_terms("lang", ["en"])),
            terms + field_terms("lang", ["en"]),
        ),
        ["pushed_term_filter", "partial_final_agg", "no_cartesian"],
        out, results,
    )
    audit(
        "fielded weighted BM25 (q8f: per-field DAAT parts -> one sum agg -> top-k)",
        score_query_fielded(
            spark, fsegs, fstats, {None: (terms, 1.0), "lang": (["en"], 0.4)},
            fm["stats"]["n_docs"], fm["stats"]["avgdl_by_field"],
            k=10, analyzer="naive",
        ),
        ["take_ordered_topk", "no_cartesian", "no_window"],
        out, results,
    )
    shutil.rmtree(fidx, ignore_errors=True)

    from search_engine_spark.operators.sampling import sequence_pack

    audit(
        "sequence packing (t11: bucketed prefix sum; broadcast offsets join)",
        sequence_pack(
            d.withColumn("n_tokens", F.col("n_chars").cast("long")),
            capacity=2048, n_buckets=8,
        ),
        ["broadcast_join", "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.query import regex_terms
    from search_engine_spark.operators.rank import rrf_fuse
    from search_engine_spark.streaming.ingest import trending_terms

    audit(
        "trending terms (st3: sliding-window count + windowless grouped top-k)",
        trending_terms(events, window="1 hour", slide="30 minutes", top_k=3),
        ["partial_final_agg", "no_window", "no_cartesian"],
        out, results,
    )
    audit(
        "regex dictionary expansion (q2r: rlike scan + df-ranked cap)",
        regex_terms(stats, "^s(park|ort|can)$", 64),
        ["take_ordered_topk", "no_join", "no_window", "column_pruned"],
        out, results,
    )
    lex = docs.select(F.col("docId"), F.lit(1.0).alias("score")).limit(50)
    audit(
        "hybrid RRF fusion (q16: bounded rank join + one sum agg + top-k)",
        rrf_fuse([lex, lex], k=10),
        ["take_ordered_topk", "partial_final_agg", "no_window"],
        out, results,
    )

    from search_engine_spark.operators.query import (
        range_facets,
        search_keyword,
        search_synonyms,
    )
    from search_engine_spark.operators.rank import collapse_results

    postings = decode_postings(segs)
    hits = search_keyword(decode_postings(segs, ["spark"]), "spark")
    audit(
        "range facets (q14r: broadcast semi-join + one partial+final count agg)",
        range_facets(hits, docs, "docId", [100.0, 1000.0]),
        ["broadcast_join", "partial_final_agg", "no_window", "no_cartesian"],
        out, results,
    )
    audit(
        "synonym expansion (q2s: broadcast (term,gid) map + count-matching agg)",
        search_synonyms(postings, ["spark", "scan"], {"spark": ["stream"]}),
        ["broadcast_join", "partial_final_agg", "no_window", "no_cartesian"],
        out, results,
    )
    scored50 = docs.select("docId", F.lit(1.0).alias("score")).limit(50)
    meta = docs.select("docId", F.col("lang"))
    audit(
        "field collapsing (q8c: windowless grouped top-k + TakeOrdered)",
        collapse_results(scored50, meta, "lang", k=5),
        ["take_ordered_topk", "partial_final_agg", "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.query import (
        date_histogram,
        percentiles_agg,
        stats_agg,
    )

    ndocs = docs.select("docId", F.length("content").alias("n_chars"))
    audit(
        "stats agg (q14s: broadcast semi-join + stacked ONE partial+final agg)",
        stats_agg(hits, ndocs, ["n_chars", "docId"]),
        ["broadcast_join", "partial_final_agg", "no_window", "no_cartesian"],
        out, results,
    )
    audit(
        "percentiles agg (q14p: one exact percentile pass, no per-p jobs)",
        percentiles_agg(hits, ndocs, "n_chars", [0.25, 0.5, 0.95]),
        ["broadcast_join", "no_window", "no_cartesian"],
        out, results,
    )
    audit(
        "date histogram (q14d: pushed filter + one partial+final agg)",
        date_histogram(
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .where(F.col("event_type") == "click"),
            "ts", "day", value_col="value",
        ),
        ["pushed_any_filter", "column_pruned", "partial_final_agg",
         "no_window", "no_join", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.query import significant_terms

    ts_df = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    audit(
        "significant terms (q28: semi-join prune + one distinct-count agg + top-k)",
        significant_terms(hits, postings, ts_df, 50, 1000, k=10),
        ["broadcast_join", "partial_final_agg", "take_ordered_topk",
         "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.query import complete_prefix

    audit(
        "completion suggester (q6c: prefix-pushed dictionary seek + top-k)",
        complete_prefix(stats, "sp", k=8),
        ["pushed_prefix_filter", "take_ordered_topk", "no_join",
         "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.similarity import rescore_vector

    audit(
        "vector rescore (q30: semi-join-pruned cosine + broadcast back-join)",
        rescore_vector(scored50, spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
                       [0.1] * 64, k=10),
        ["broadcast_join", "take_ordered_topk", "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.rank import decay_score

    audit(
        "decay function-score (q29: equi-join + JVM multiplier + TakeOrdered)",
        decay_score(scored50, ndocs, "n_chars", 300.0, 200.0, k=10),
        ["take_ordered_topk", "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.rank import rescore_phrase

    audit(
        "rescore window (q27: DAAT top-window once -> phrase postings"
        " semi-joined to the broadcast window -> re-sort)",
        rescore_phrase(
            spark, segs, stats, terms, ["table", "scan"], nd, avg,
            Scorer("bm25"), window=40, k=10, analyzer="naive", ties="asc",
        ),
        ["take_ordered_topk", "broadcast_join", "window_is_broadcast_side",
         "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.rank import explain_score

    audit(
        "BM25 explain (q8x: pushed term decode + broadcast idf join, no agg)",
        explain_score(
            spark, decode_postings(segs, terms), stats, terms, nd, avg,
            analyzer="naive",
        ),
        ["pushed_term_filter", "broadcast_join", "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.serving import (
        prepare_serving_cache,
        score_queries_cached,
    )
    from search_engine_spark.sources.segments import load_term_stats_pdf

    scache = os.path.join(tempfile.gettempdir(), "plan_audit_scache")
    cache = prepare_serving_cache(spark, idx, scache, n_buckets=4)
    audit(
        "cached batch serving (q8 cached: mmap shards -> kernel -> ONE merge shuffle)",
        score_queries_cached(
            spark, cache, load_term_stats_pdf(idx),
            {0: terms, 1: ["scan"]}, nd, avg, Scorer(), 10, analyzer="naive",
        ),
        ["one_shuffle", "no_file_scan", "no_join", "no_window", "no_cartesian"],
        out, results,
    )
    shutil.rmtree(scache, ignore_errors=True)

    from search_engine_spark.operators.codesearch import (
        extract_symbols,
        grep_lines,
        search_substring,
    )

    tidx = os.path.join(tempfile.gettempdir(), "plan_audit_tri_idx")
    shutil.rmtree(tidx, ignore_errors=True)
    build_index(spark, docs, tidx, analyzer="trigram", with_positions=False,
                num_segments=8)
    tsegs, tstats = load_segments(spark, tidx), load_term_stats(spark, tidx)
    audit(
        "trigram substring search (q2t: In-pushed probe seek -> count-matching agg -> broadcast semi-join verify)",
        search_substring(tsegs, docs, "merge batch", tstats),
        ["pushed_term_filter", "partial_final_agg", "broadcast_join",
         "no_window", "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.codesearch import search_substring_batch

    audit(
        "batch substring serving (q2tb: shared probe decode, broadcast fanout, one count-matching agg)",
        search_substring_batch(
            tsegs, docs, {0: "merge batch", 1: "fast scan"}, tstats
        ),
        ["pushed_term_filter", "broadcast_join", "partial_final_agg",
         "no_window", "no_cartesian"],
        out, results,
    )
    from search_engine_spark.operators.codesearch import search_regex_batch

    audit(
        "batch regex serving (q2rb: indexed plan + CASE-chain rlike verify; fallbacks share one scan)",
        search_regex_batch(
            tsegs, docs,
            {0: "merge [a-z]+ scan", 1: "(table|spark) scan"}, tstats,
        ),
        ["pushed_term_filter", "broadcast_join", "partial_final_agg",
         "no_window", "no_cartesian"],
        out, results,
    )
    audit(
        "grep lines (q17: broadcast hits into the scan, split+posexplode projection)",
        grep_lines(docs, hits, "spark", delimiter="table "),
        ["broadcast_join", "no_window", "no_cartesian", "column_pruned"],
        out, results,
    )
    audit(
        "symbol extraction (sym1: per-kind regexp_extract_all, stack unpivot — zero shuffle/join)",
        extract_symbols(docs, {"fast": "fast ([a-z]+)"}),
        ["no_shuffle", "no_join", "no_window", "no_cartesian",
         "column_pruned"],
        out, results,
    )
    shutil.rmtree(tidx, ignore_errors=True)

    from search_engine_spark.operators.parser import search_query_string

    audit(
        "parsed query string (q18: fuzzy+phrase+range+NOT -> one collect_set"
        " agg, tree as codegen boolean)",
        search_query_string(
            spark, segs, stats,
            '(sow~1 OR "table scan") AND n_chars:[150 TO 450] AND NOT zebra',
            corpus=docs.withColumn("n_chars", F.length("content")),
            analyzer="naive", max_expansions=16,
        ),
        ["pushed_term_filter", "broadcast_join", "partial_final_agg",
         "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.parser import rank_query_string

    audit(
        "ranked query string (q19: parsed filter left-joined to DAAT"
        " scores, constant-score leaves rank at 0)",
        rank_query_string(
            spark, segs, stats, '(spark AND "table scan") OR s*',
            nd, avg, k=10, analyzer="naive",
        ),
        ["pushed_term_filter", "partial_final_agg", "take_ordered_topk",
         "no_window", "no_cartesian"],
        out, results,
    )

    from search_engine_spark.operators.query import (
        search_min_should_match,
        search_span_first,
    )
    from search_engine_spark.operators.rank import score_query_dismax
    from search_engine_spark.operators.textstats import highlight_terms

    audit(
        "dismax ranking (q25: max+sum agg over the shared BM25 contribution,"
        " same plan family as declarative scoring)",
        score_query_dismax(
            spark, decode_postings(segs, terms), stats, terms, nd, avg,
            Scorer("bm25"), tie_breaker=0.3, k=10, analyzer="naive",
        ),
        ["pushed_term_filter", "broadcast_join", "partial_final_agg",
         "take_ordered_topk", "no_cartesian", "no_window"],
        out, results,
    )

    audit(
        "minimum-should-match (q22: >=m of n terms, one count-matching agg"
        " shuffle)",
        search_min_should_match(decode_postings(segs, terms), terms, 2),
        ["pushed_term_filter", "partial_final_agg", "no_window",
         "no_cartesian", "no_join"],
        out, results,
    )
    audit(
        "span-first (q24: positional seek + JVM exists, no joins; the Arrow"
        " decode kernel is MapInArrow, so no codegen claim)",
        search_span_first(
            decode_postings(segs, ["spark"], with_positions=True), "spark", 12
        ),
        ["pushed_term_filter", "column_pruned", "no_join", "no_window"],
        out, results,
    )
    audit(
        "query-aware highlighting (q23 projection: best-coverage window via"
        " HOF fold — zero shuffle, zero joins)",
        highlight_terms(docs, terms, window=8),
        ["no_shuffle", "no_join", "no_window", "column_pruned",
         "whole_stage_codegen"],
        out, results,
    )

    from search_engine_spark.operators.query import percolate, percolate_queries

    audit(
        "percolator (q26: reverse search — one tokenize pass, broadcast"
        " standing-query table, one count-matching agg for ALL queries)",
        percolate(
            docs,
            percolate_queries(spark, {1: ["spark", "join"], 2: ["table"]}),
            analyzer="naive",
        ),
        ["broadcast_join", "partial_final_agg", "no_cartesian", "no_window"],
        out, results,
    )

    out.append("\n## Summary\n\n| operator | checks | ok |\n|---|---|---|\n")
    for name, expect, flags, ok in results:
        out.append(f"| {name} | {', '.join(expect)} | {'yes' if ok else 'NO'} |\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    bad = [r for r in results if not r[3]]
    print("PLANS.md written;", "ALL OK" if not bad else f"MISSING: {[r[0] for r in bad]}")
    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
