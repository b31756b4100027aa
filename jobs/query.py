"""spark-submit entry point: run queries against a built index.

Usage::

    spark-submit --py-files search_engine_spark.zip jobs/query.py \
        --index <index dir> --mode bm25 --k 10 -- spark query join

Modes: bm25 (DAAT), tfidf (reference-parity cosine), and/or/phrase
(boolean + positional), keyword, prefix (term-dictionary range seek),
near (--window positional proximity), not (--exclude anti-terms),
fuzzy (--max-dist/--max-expansions typo-tolerant dictionary expansion),
regex / wildcard (RegexpQuery / WildcardQuery dictionary expansion,
--max-expansions cap),
bool (nested AND/OR/NOT with parentheses, one quoted expression),
sloppy (ordered phrase with --slop extra tokens between terms),
suggest (did-you-mean term corrections), mlt (--corpus more-like-this: the
single positional arg is the seed docId), msm (--min-match N of the terms,
Lucene minimumShouldMatch), spanfirst (term within the first --window
positions, Lucene SpanFirstQuery), rescore (BM25 top ``--rescore-window``
re-ranked with an exact ``--phrase`` match adding ``--boost`` — the Lucene
QueryRescorer), decay (function-score gauss/exp/linear decay of
``--stat-field`` around ``--origin``/``--scale``, needs --corpus),
sigterms (significant-terms JLH over the AND-hit set), stats / percentiles
(metric aggregations of ``--stat-field`` over the AND-hit set, need
--corpus), complete (autocomplete: dictionary terms extending the prefix,
df-ranked), vrescore (hybrid semantic rescore: BM25 top ``--rescore-window``
+ ``--vec-weight`` x cosine vs the ``--seed-vec`` embedding from ``--emb``). --highlight adds a query-aware <em>-wrapped
snippet per result (needs --corpus). and/keyword accept repeatable
--field col=value constraints against a fielded index
(build_index(fields=…)). Prints one JSON line with results + latency.

Tombstoned docs (jobs/delete.py / operators/delete.py) are excluded by
default — the DAAT kernel masks them as blocks decode, the boolean paths
anti-filter; ``--ignore-deleted`` queries the raw index instead.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _load_corpus(spark, path: str):
    """Read a corpus parquet and normalize driver-testdata column names."""
    corpus = spark.read.parquet(path)
    if "docId" not in corpus.columns and "doc_id" in corpus.columns:
        corpus = corpus.withColumnRenamed("doc_id", "docId")
    if "content" not in corpus.columns and "text" in corpus.columns:
        corpus = corpus.withColumnRenamed("text", "content")
    return corpus


def _highlight_words(a) -> list[str]:
    """Literal lowercased words to highlight: the positional terms, or for
    --q queries the bare-word / quoted-phrase leaves (operators, regex and
    range leaves dropped; field prefixes, boosts, fuzzy/wildcard suffixes
    stripped). Intentionally pre-analysis: the snippet marks the USER'S
    words in the raw text, independent of the index analyzer."""
    import re as _re

    if a.terms:
        return [w.lower() for w in a.terms]
    words: list[str] = []
    for tok in _re.findall(r'"[^"]*"|\S+', a.q or ""):
        if tok.startswith('"'):
            words.extend(_re.findall(r"[a-z0-9_]+", tok.lower()))
            continue
        if tok.upper() in ("AND", "OR", "NOT", "TO") or tok.startswith("/"):
            continue
        body = tok.rpartition(":")[2]  # strip field prefix
        if body.startswith(("[", "{")):  # range leaf remnants
            continue
        body = body.split("~")[0].split("^")[0].rstrip("*?")
        body = _re.sub(r"[^a-z0-9_]", "", body.lower())
        if body:
            words.append(body)
    return words


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--mode", default="bm25",
                    choices=["bm25", "tfidf", "and", "or", "phrase", "keyword",
                             "not", "near", "prefix", "fuzzy", "suggest",
                             "mlt", "regex", "wildcard", "bool", "sloppy", "substring",
                             "regexcontent", "grep", "parsed", "ranked", "msm",
                             "spanfirst", "dismax", "rescore", "decay",
                             "sigterms", "stats", "percentiles", "complete",
                             "vrescore"])
    ap.add_argument("--q", default=None,
                    help="unified Lucene-style query string (implies "
                         "--mode parsed unless --mode ranked, which "
                         "BM25-scores the matches): AND/OR/NOT, "
                         "\"phrase\"~slop, term~dist fuzzy, pre*, "
                         "field:term, col:[lo TO hi] (range needs "
                         "--corpus)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--window", type=int, default=5,
                    help="near mode: max positions between the two terms; "
                         "spanfirst mode: the term must occur within the "
                         "first N token positions (SpanFirstQuery)")
    ap.add_argument("--slop", type=int, default=0,
                    help="sloppy mode: max extra tokens between consecutive terms")
    ap.add_argument("--exclude", nargs="*", default=[],
                    help="not mode: terms the document must NOT contain")
    ap.add_argument("--max-dist", type=int, default=1,
                    help="fuzzy/suggest: max Levenshtein edits")
    ap.add_argument("--max-expansions", type=int, default=64,
                    help="fuzzy: cap on expanded dictionary terms")
    ap.add_argument("--corpus", default=None,
                    help="mlt/substring/regexcontent/grep modes: corpus "
                         "parquet dir (raw doc text source)")
    ap.add_argument("--top-terms", type=int, default=10,
                    help="mlt mode: seed terms kept by tf-idf weight")
    ap.add_argument("--field", action="append", default=[],
                    help="and/keyword modes: col=value fielded-index "
                         "constraint (repeatable; needs fields= at build)")
    ap.add_argument("--boost-field", action="append", default=[],
                    help="bm25 mode: col=value:weight fielded-BM25 part "
                         "(repeatable; needs fields= at build + finalized "
                         "avgdl_by_field)")
    ap.add_argument("--no-full-scan", action="store_true",
                    help="refuse queries whose only plan is a full corpus "
                         "scan (short needles, unprunable regex, parsed "
                         "range leaves) instead of silently running a "
                         "whole-corpus job")
    ap.add_argument("--max-candidates", type=int, default=None,
                    help="parsed/ranked modes: planner budget on the "
                         "query's df-based candidate bound (dictionary "
                         "stats only); exceeding it fails loudly instead "
                         "of decoding corpus-scale posting lists")
    ap.add_argument("--explain", action="store_true",
                    help="substring mode: print the trigram plan report "
                         "(strategy, rarest-K probes with df, candidate "
                         "upper bound) instead of executing; parsed/ranked "
                         "modes: per-leaf strategy + df bounds + scoring "
                         "weights (dictionary lookups only)")
    ap.add_argument("--tie", type=float, default=0.0,
                    help="dismax mode: tie_breaker in [0,1] — 0 scores the "
                         "best single-term BM25 contribution, 1 the plain "
                         "sum (DisjunctionMaxQuery)")
    ap.add_argument("--min-match", type=int, default=2,
                    help="msm mode: minimum number of distinct query terms "
                         "a doc must contain (Lucene minimumShouldMatch)")
    ap.add_argument("--highlight", action="store_true",
                    help="add a query-aware <em>-wrapped snippet per result "
                         "(best --hl-window-token span by distinct-term "
                         "coverage; matches the literal lowercased query "
                         "words against naive tokens). Needs --corpus; "
                         "docs where no word matches literally get null")
    ap.add_argument("--hl-window", type=int, default=8,
                    help="--highlight: snippet span length in tokens")
    ap.add_argument("--phrase", nargs="*", default=[],
                    help="rescore mode: the exact phrase whose match adds "
                         "--boost to the primary BM25 score")
    ap.add_argument("--rescore-window", type=int, default=50,
                    help="rescore mode: only the top-N primary hits are "
                         "rescored (the Lucene QueryRescorer window)")
    ap.add_argument("--boost", type=float, default=1.0,
                    help="rescore mode: score added on phrase match")
    ap.add_argument("--stat-field", action="append", default=[],
                    help="stats/percentiles/decay modes: numeric corpus "
                         "column (repeatable for stats)")
    ap.add_argument("--fractions", type=float, nargs="*",
                    default=[0.25, 0.5, 0.75, 0.95],
                    help="percentiles mode: fractions in [0,1]")
    ap.add_argument("--origin", type=float, default=0.0,
                    help="decay mode: field value with multiplier 1.0")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="decay mode: distance at which the multiplier "
                         "reaches --decay-rate")
    ap.add_argument("--decay-rate", type=float, default=0.5,
                    help="decay mode: multiplier at origin+scale")
    ap.add_argument("--decay-kind", default="gauss",
                    choices=["gauss", "exp", "linear"])
    ap.add_argument("--min-fg", type=int, default=2,
                    help="sigterms mode: min foreground doc count")
    ap.add_argument("--emb", default=None,
                    help="vrescore mode: embeddings parquet "
                         "(vec_id, embedding)")
    ap.add_argument("--seed-vec", type=int, default=None,
                    help="vrescore mode: vec_id whose embedding is the "
                         "query vector")
    ap.add_argument("--vec-weight", type=float, default=1.0,
                    help="vrescore mode: cosine weight added to BM25")
    ap.add_argument("--master", default=None, help="local testing only")
    ap.add_argument(
        "--ignore-deleted", action="store_true",
        help="query the raw index, skipping any tombstone sets",
    )
    ap.add_argument("terms", nargs="*", default=[])
    a = ap.parse_args(argv)
    if a.q is not None:
        if a.mode not in ("parsed", "ranked"):
            a.mode = "parsed"
    elif a.mode in ("parsed", "ranked"):
        a.q = " ".join(a.terms)
    if not a.terms and a.q is None:
        ap.error("provide query terms (or --q '<query string>')")

    from pyspark.sql import SparkSession

    from search_engine_spark.operators.query import (
        analyze_query,
        field_terms,
        fuzzy_candidates,
        search_and,
        search_and_not,
        search_keyword,
        search_or,
        search_phrase,
        search_prefix,
        search_proximity,
    )
    from search_engine_spark.operators.rank import Scorer, score_query, score_query_daat
    from search_engine_spark.sources.segments import (
        decode_postings,
        load_segments,
        load_term_stats,
        read_manifest,
    )

    owns_session = SparkSession.getActiveSession() is None
    if a.master:
        from search_engine_spark.session import get_spark

        spark = get_spark(app="query", master=a.master)
    else:
        spark = SparkSession.builder.appName("query").getOrCreate()

    from search_engine_spark.operators.delete import deleted_array, live, load_tombstones

    m = read_manifest(a.index)
    analyzer = m.get("analyzer", "porter")
    segs = load_segments(spark, a.index)
    stats = load_term_stats(spark, a.index)
    n_docs = m["stats"]["n_docs"]
    # fielded indexes: stats.avgdl is the global token mix (content + field
    # tokens); content-scoring paths must use the content field's own avgdl
    avgdl = m["stats"].get("avgdl_by_field", {}).get("", m["stats"]["avgdl"])
    tomb = None if a.ignore_deleted else load_tombstones(spark, a.index)
    deleted = None if tomb is None else deleted_array(spark, a.index)

    # manifest-recorded global docId bounds (finalize_index): saves the
    # bucketizer's span-agg job on every query; None on pre-bounds indexes
    lo, hi = m["stats"].get("docid_lo"), m["stats"].get("docid_hi")
    span = (lo, hi) if lo is not None and hi is not None else None

    if a.field and a.mode not in ("and", "keyword"):
        ap.error("--field applies to and/keyword modes")
    if a.boost_field and a.mode != "bm25":
        ap.error("--boost-field applies to bm25 mode")

    t0 = time.time()
    if a.explain and a.mode in ("parsed", "ranked"):
        # plan-only: per-leaf strategy, df cost bounds, scoring weights —
        # dictionary lookups only, no postings decode
        from search_engine_spark.operators.parser import explain_parsed

        rep = explain_parsed(stats, a.q, analyzer=analyzer,
                             max_expansions=a.max_expansions)
        print(json.dumps({"mode": a.mode, "explain": rep,
                          "latency_sec": round(time.time() - t0, 3)}))
        if owns_session:
            spark.stop()
        return 0
    if a.mode == "bm25" and a.boost_field:
        from search_engine_spark.operators.rank import score_query_fielded

        by_field = m["stats"].get("avgdl_by_field")
        if not by_field:
            ap.error("--boost-field needs an index built with fields=")
        fq = {None: (list(a.terms), 1.0)}
        for spec in a.boost_field:
            col_val, _, w = spec.rpartition(":")
            col, _, val = col_val.partition("=")
            if not val or not w:
                ap.error(f"--boost-field expects col=value:weight, got {spec!r}")
            if col not in by_field:
                ap.error(
                    f"--boost-field field {col!r} not in this index "
                    f"(fields: {sorted(k for k in by_field if k)})"
                )
            try:
                weight = float(w)
            except ValueError:
                ap.error(f"--boost-field weight {w!r} is not a number")
            fq[col] = ([val], weight)
        mfields = m.get("fields") or {}
        out = score_query_fielded(
            spark, segs, stats, fq, n_docs, by_field, Scorer("bm25"),
            k=a.k, analyzer=analyzer, deleted=deleted, docid_span=span,
            field_analyzers=mfields if isinstance(mfields, dict) else None,
        )
        rows = [{"docId": r.docId, "score": round(r.score, 6)} for r in out.collect()]
    elif a.mode == "bm25":
        out = score_query_daat(spark, segs, stats, a.terms, n_docs, avgdl,
                               Scorer("bm25"), k=a.k, analyzer=analyzer,
                               deleted=deleted, docid_span=span)
        rows = [{"docId": r.docId, "score": round(r.score, 6)} for r in out.collect()]
    elif a.mode == "tfidf":
        dec = live(decode_postings(segs, analyze_query(a.terms, analyzer)), tomb)
        out = score_query(spark, dec, stats, a.terms, n_docs, avgdl,
                          Scorer("tfidf_cosine"), k=a.k, analyzer=analyzer)
        rows = [{"docId": r.docId, "score": round(r.score, 6)} for r in out.collect()]
    elif a.mode == "prefix":
        # the raw prefix is matched against the term dictionary as-is
        # (dictionary entries are analyzer output already)
        out = live(search_prefix(segs, a.terms[0], analyzer), tomb)
        rows = [{"docId": r.docId} for r in out.limit(a.k).collect()]
    elif a.mode == "near":
        terms = analyze_query(a.terms, analyzer)
        if len(terms) != 2:
            ap.error("near mode takes exactly two terms")
        dec = live(decode_postings(segs, terms, with_positions=True), tomb)
        out = search_proximity(dec, terms[0], terms[1], a.window)
        rows = [{"docId": r.docId} for r in out.limit(a.k).collect()]
    elif a.mode == "fuzzy":
        # two-stage: bounded dictionary expansion, then an OR seek with the
        # usual In pushdown (same plan family as --mode or)
        cands = fuzzy_candidates(
            stats, analyze_query(a.terms, analyzer)[0], a.max_dist,
            a.max_expansions,
        ).collect()
        terms = [r.term for r in cands]
        dec = live(decode_postings(segs, terms), tomb)
        rows = [
            {"docId": r.docId}
            for r in search_or(dec, terms).limit(a.k).collect()
        ]
    elif a.mode == "sloppy":
        from search_engine_spark.operators.query import search_sloppy_phrase

        terms = analyze_query(a.terms, analyzer)
        dec = live(
            decode_postings(segs, sorted(set(terms)), with_positions=True), tomb
        )
        rows = [
            {"docId": r.docId}
            for r in search_sloppy_phrase(dec, terms, a.slop).limit(a.k).collect()
        ]
    elif a.mode == "parsed":
        from search_engine_spark.operators.parser import search_query_string

        corpus = _load_corpus(spark, a.corpus) if a.corpus else None
        out = live(
            search_query_string(
                spark, segs, stats, a.q, corpus=corpus, analyzer=analyzer,
                max_expansions=a.max_expansions,
                max_candidates=a.max_candidates,
                allow_corpus_filter=not a.no_full_scan,
            ),
            tomb,
        )
        rows = [{"docId": r.docId} for r in out.limit(a.k).collect()]
    elif a.mode == "ranked":
        from search_engine_spark.operators.parser import rank_query_string

        corpus = _load_corpus(spark, a.corpus) if a.corpus else None
        out = rank_query_string(
            spark, segs, stats, a.q, n_docs, avgdl, k=a.k, corpus=corpus,
            analyzer=analyzer, max_expansions=a.max_expansions,
            tombstones=tomb, max_candidates=a.max_candidates,
            allow_corpus_filter=not a.no_full_scan,
        )
        rows = [{"docId": r.docId, "score": round(r.score, 6)}
                for r in out.collect()]
    elif a.mode == "bool":
        from search_engine_spark.operators.query import (
            bool_leaf_terms,
            parse_bool,
            search_bool,
        )

        tree = parse_bool(" ".join(a.terms), analyzer)
        dec = live(decode_postings(segs, bool_leaf_terms(tree)), tomb)
        rows = [
            {"docId": r.docId}
            for r in search_bool(dec, tree).limit(a.k).collect()
        ]
    elif a.mode == "regex":
        from search_engine_spark.operators.query import regex_terms

        terms = [
            r.term
            for r in regex_terms(stats, a.terms[0], a.max_expansions).collect()
        ]
        dec = live(decode_postings(segs, terms), tomb)
        rows = [
            {"docId": r.docId}
            for r in search_or(dec, terms).limit(a.k).collect()
        ]
    elif a.mode == "wildcard":
        from search_engine_spark.operators.query import wildcard_terms

        terms = [
            r.term
            for r in wildcard_terms(stats, a.terms[0], a.max_expansions).collect()
        ]
        dec = live(decode_postings(segs, terms), tomb)
        rows = [
            {"docId": r.docId}
            for r in search_or(dec, terms).limit(a.k).collect()
        ]
    elif a.mode in ("substring", "regexcontent", "grep"):
        from search_engine_spark.operators.codesearch import (
            grep_lines,
            search_regex_content,
            search_substring,
        )

        needle = a.terms[0]
        if a.explain and a.mode == "substring":
            # plan-only: needs the index stats, never the corpus
            from search_engine_spark.operators.codesearch import (
                explain_substring,
            )

            rep = explain_substring(
                needle, stats, fold_case=analyzer == "trigram_fold",
                allow_full_scan=not a.no_full_scan,
            )
            print(json.dumps({"mode": a.mode, "explain": rep,
                              "latency_sec": round(time.time() - t0, 3)}))
            if owns_session:
                spark.stop()
            return 0
        if not a.corpus:
            ap.error(f"{a.mode} mode requires --corpus (raw content source)")
        corpus = _load_corpus(spark, a.corpus)
        if a.mode == "regexcontent":
            hits = search_regex_content(
                segs, corpus, needle, stats,
                allow_full_scan=not a.no_full_scan,
            )
        else:
            hits = search_substring(
                segs, corpus, needle, stats,
                fold_case=analyzer == "trigram_fold",
                allow_full_scan=not a.no_full_scan,
            )
        hits = live(hits, tomb)
        if a.mode == "grep":
            out = grep_lines(
                corpus, hits, needle, fold_case=analyzer == "trigram_fold"
            ).limit(a.k).collect()
            rows = [
                {"docId": r.docId, "line_no": r.line_no,
                 "col_no": r.col_no, "line": r.line}
                for r in out
            ]
        else:
            rows = [{"docId": r.docId} for r in hits.limit(a.k).collect()]
    elif a.mode == "suggest":
        out = fuzzy_candidates(
            stats, analyze_query(a.terms, analyzer)[0], a.max_dist, a.k
        ).collect()
        rows = [{"term": r.term, "df": r.df, "dist": r.dist} for r in out]
    elif a.mode == "mlt":
        from search_engine_spark.operators.rank import more_like_this

        if not a.corpus:
            ap.error("mlt mode requires --corpus")
        corpus = spark.read.parquet(a.corpus)
        out = more_like_this(
            spark, corpus, segs, stats, int(a.terms[0]), n_docs, avgdl,
            top_terms=a.top_terms, k=a.k, analyzer=analyzer, deleted=deleted,
        )
        rows = [{"docId": r.docId, "score": round(r.score, 6)} for r in out.collect()]
    elif a.mode == "dismax":
        from search_engine_spark.operators.rank import score_query_dismax

        dec = live(
            decode_postings(segs, analyze_query(a.terms, analyzer)), tomb
        )
        out = score_query_dismax(
            spark, dec, stats, a.terms, n_docs, avgdl, Scorer("bm25"),
            tie_breaker=a.tie, k=a.k, analyzer=analyzer,
        )
        rows = [{"docId": r.docId, "score": round(r.score, 6)}
                for r in out.collect()]
    elif a.mode == "rescore":
        from search_engine_spark.operators.rank import rescore_phrase

        if len(a.phrase) < 2:
            ap.error("rescore mode requires --phrase with >= 2 words")
        out = rescore_phrase(
            spark, segs, stats, a.terms, a.phrase, n_docs, avgdl,
            Scorer("bm25"), window=a.rescore_window, k=a.k, boost=a.boost,
            analyzer=analyzer, ties="asc", deleted=deleted, docid_span=span,
        )
        rows = [{"docId": r.docId, "score": round(r.score, 6)}
                for r in out.collect()]
    elif a.mode == "decay":
        from search_engine_spark.operators.rank import decay_score

        if not a.corpus or len(a.stat_field) != 1:
            ap.error("decay mode requires --corpus and exactly one --stat-field")
        if a.scale <= 0 or not (0.0 < a.decay_rate < 1.0):
            ap.error("decay mode needs --scale > 0 and 0 < --decay-rate < 1")
        scored = score_query_daat(
            spark, segs, stats, a.terms, n_docs, avgdl, Scorer("bm25"),
            k=None, analyzer=analyzer, ties="asc", deleted=deleted,
            docid_span=span,
        )
        meta = _load_corpus(spark, a.corpus)
        out = decay_score(
            scored, meta, a.stat_field[0], a.origin, a.scale,
            decay=a.decay_rate, kind=a.decay_kind, k=a.k,
        )
        rows = [{"docId": r.docId, "score": round(r.score, 6)}
                for r in out.collect()]
    elif a.mode == "complete":
        from search_engine_spark.operators.query import complete_prefix

        if not a.terms[0]:
            ap.error("complete mode needs a non-empty prefix")
        out = complete_prefix(stats, a.terms[0].lower(), k=a.k)
        rows = [{"term": r.term, "df": r.df} for r in out.collect()]
    elif a.mode == "vrescore":
        from search_engine_spark.operators.similarity import rescore_vector

        if not a.emb or a.seed_vec is None:
            ap.error("vrescore mode requires --emb and --seed-vec")
        from pyspark.sql import functions as F

        emb = spark.read.parquet(a.emb)
        seed = emb.where(F.col("vec_id") == a.seed_vec).select(
            "embedding"
        ).collect()
        if not seed:
            ap.error(f"--seed-vec {a.seed_vec} not found in {a.emb}")
        win = score_query_daat(
            spark, segs, stats, a.terms, n_docs, avgdl, Scorer("bm25"),
            k=a.rescore_window, analyzer=analyzer, ties="asc",
            deleted=deleted, docid_span=span,
        )
        out = rescore_vector(
            win, emb, list(seed[0][0]), weight=a.vec_weight, k=a.k
        )
        rows = [{"docId": r.docId, "score": round(r.score, 6)}
                for r in out.collect()]
    elif a.mode in ("stats", "percentiles", "sigterms"):
        from search_engine_spark.operators.query import (
            percentiles_agg,
            significant_terms,
            stats_agg,
        )

        terms = analyze_query(a.terms, analyzer)
        hits = live(
            search_and(decode_postings(segs, terms), terms), tomb
        )
        if a.mode == "sigterms":
            # persist: the hit set feeds both the count and the semi-join
            hits = hits.persist()
            n_fg = hits.count()
            if n_fg == 0:
                rows = []
            else:
                out = significant_terms(
                    hits, decode_postings(segs), stats, n_fg, n_docs,
                    k=a.k, min_fg=a.min_fg,
                )
                rows = [
                    {"term": r.term, "fg_df": r.fg_df, "df": r.df,
                     "score": round(r.score, 6)}
                    for r in out.collect()
                ]
            hits.unpersist()
        else:
            if not a.corpus or not a.stat_field:
                ap.error(f"{a.mode} mode requires --corpus and --stat-field")
            docs = _load_corpus(spark, a.corpus)
            if a.mode == "stats":
                out = stats_agg(hits, docs, a.stat_field)
                rows = [
                    {"col": r.col, "n": r.n, "ndv": r.ndv,
                     "min": round(r.min, 6), "max": round(r.max, 6),
                     "sum": round(r.sum, 6), "avg": round(r.avg, 6)}
                    for r in out.collect()
                ]
            else:
                if not a.fractions or any(
                    not (0.0 <= p <= 1.0) for p in a.fractions
                ):
                    ap.error("--fractions must be non-empty values in [0, 1]")
                out = percentiles_agg(
                    hits, docs, a.stat_field[0], a.fractions
                )
                rows = [{"p": r.p, "value": round(r.value, 6)}
                        for r in out.collect()]
    elif a.mode == "spanfirst":
        from search_engine_spark.operators.query import search_span_first

        terms = analyze_query(a.terms, analyzer)
        if len(terms) != 1:
            ap.error("spanfirst mode takes exactly one term")
        dec = live(decode_postings(segs, terms, with_positions=True), tomb)
        rows = [
            {"docId": r.docId}
            for r in search_span_first(dec, terms[0], a.window)
            .limit(a.k)
            .collect()
        ]
    elif a.mode == "msm":
        from search_engine_spark.operators.query import search_min_should_match

        terms = analyze_query(a.terms, analyzer)
        dec = live(decode_postings(segs, sorted(set(terms))), tomb)
        rows = [
            {"docId": r.docId}
            for r in search_min_should_match(dec, terms, a.min_match)
            .limit(a.k)
            .collect()
        ]
    elif a.mode == "not":
        terms = analyze_query(a.terms, analyzer)
        neg = analyze_query(a.exclude, analyzer)
        dec = live(decode_postings(segs, sorted(set(terms + neg))), tomb)
        out = search_and_not(dec, terms, neg)
        rows = [{"docId": r.docId} for r in out.limit(a.k).collect()]
    else:
        terms = analyze_query(a.terms, analyzer)
        # --field col=value constraints AND in as fielded-index terms
        # (requires an index built with build_index(fields=…))
        fterms: list[str] = []
        mfields = m.get("fields") or {}
        for spec in a.field:
            col, _, val = spec.partition("=")
            if not val:
                ap.error(f"--field expects col=value, got {spec!r}")
            if col not in mfields:
                ap.error(
                    f"--field field {col!r} not in this index "
                    f"(fields: {sorted(mfields)})"
                )
            # analyze the value with the FIELD's build analyzer (recorded in
            # the manifest), NOT the content analyzer — porter would stem a
            # naive-indexed field value into a term that does not exist
            fan = mfields[col] if isinstance(mfields, dict) else "naive"
            fts = field_terms(col, [val], fan)
            if not fts:
                ap.error(f"--field value {val!r} analyzes to nothing ({fan})")
            fterms.extend(fts)
        dec = live(
            decode_postings(
                segs, sorted(set(terms + fterms)),
                with_positions=(a.mode == "phrase"),
            ),
            tomb,
        )
        fn = {
            "and": lambda: search_and(dec, terms + fterms),
            "or": lambda: search_or(dec, terms),
            "phrase": lambda: search_phrase(dec, terms),
            "keyword": lambda: (
                search_and(dec, [terms[0]] + fterms)
                if fterms
                else search_keyword(dec, terms[0])
            ),
        }[a.mode]
        rows = [{"docId": r.docId} for r in fn().limit(a.k).collect()]
    if a.highlight and rows and "docId" in rows[0]:
        if not a.corpus:
            ap.error("--highlight requires --corpus (raw doc text source)")
        words = _highlight_words(a)
        if words:
            from pyspark.sql import functions as F

            from search_engine_spark.operators.textstats import highlight_terms

            ids = [r["docId"] for r in rows]  # bounded by --k
            sub = _load_corpus(spark, a.corpus).where(F.col("docId").isin(ids))
            hl = {
                r.docId: r.snippet
                for r in highlight_terms(sub, words, window=a.hl_window).collect()
            }
            for r in rows:
                r["snippet"] = hl.get(r["docId"])
    print(json.dumps({
        "mode": a.mode, "terms": a.terms, "k": a.k,
        "latency_sec": round(time.time() - t0, 3), "results": rows,
    }))
    if owns_session:  # don't kill a caller's session (tests drive main() in-process)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
