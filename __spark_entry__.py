"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the inverted index over the sf0.001
documents table (segments on disk, salted term-range shuffle, delta+varbyte
packing) and run a BM25 top-10 via the distributed DAAT path.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2 plus the training-data pipeline operators (40 queries,
ALL 40 with value-exact DuckDB oracles — iterative PageRank is checked via
an unrolled-CTE power iteration, the non-SQL analyzers via single-node side
tables); every SQL-expressible operator's oracle is built on the *same*
naive tokenization (lower + split on whitespace) so values match exactly.
Cross-engine hash: ``int64(md5(s)[:15 hex])`` (= Spark
``conv(substring(md5,1,15),16,10)`` = DuckDB ``('0x'||substr(md5,1,15))::int64``).
"""

from __future__ import annotations

import math
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared parameters (mirrored verbatim in the oracle SQL)

BM25_K1, BM25_B = 1.2, 0.75
Q_RANKED = ["spark", "query", "join"]
# batch workload for q8_bm25_batch: mixed lengths, a repeated keyword
# (qtf=2), and an absent-term query that must yield zero rows
BATCH_QUERIES = {
    0: ["spark", "query", "join"],
    1: ["hash", "merge"],
    2: ["window", "stream", "batch"],
    3: ["vector"],
    4: ["sort", "sort", "fast"],
    5: ["zebra"],
}
Q_KEYWORD = "spark"
REGEX_PATTERN = "^s(park|ort|can)$"
Q_AND = ["spark", "join", "filter"]
Q_PHRASE = ["table", "scan"]
TOPK = 10
RRF_N = 50
BOOL_QUERY = "spark AND (join OR merge) AND NOT scan"
Q_SLOPPY, Q_SLOP = ("table", "scan", "fast"), 3
MIX_TARGETS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
ANN_K = 20
MINHASHES, BANDS, ROWS_PER_BAND, SHINGLE_N = 12, 4, 3, 3
SIMHASH_BITS = 16
NEARDUP_TAU = 0.10
N_PLANES, PLANE_SEED, EMB_DIM = 8, 42, 64
IVF_CENTROIDS, IVF_NPROBE = 8, 2
Q_PREFIX = "s"
Q_NEAR, Q_NEAR_WINDOW = ("table", "scan"), 5
SNIPPET_TERM, SNIPPET_BEFORE, SNIPPET_AFTER = "spark", 3, 3
MSM_MIN, HL_WINDOW = 2, 8  # q22 minimum-should-match / q23 highlight window
DISMAX_TIE = 0.3  # q25 DisjunctionMax tie_breaker
PERCO_QUERIES = {  # q26 standing percolator queries (boolean-AND)
    1: ["spark", "join"],
    2: ["table", "scan"],
    3: ["filter", "query", "spark"],
}
PQ_M, PQ_K = 4, 16
Q_FUZZY, Q_FUZZY_DIST, Q_FUZZY_EXP = "sow", 1, 16
Q_SUGGEST, Q_SUGGEST_K, Q_SUGGEST_DIST = "spak", 3, 2
MLT_SEED, MLT_TOP_TERMS, MLT_K = 7, 8, 10
GTOPK_K, GTOPK_BUCKETS = 3, 8
REL_TERM, REL_K, REL_MIN_CODF = "spark", 10, 2
BOOSTS = {"source": {"src3": 0.5, "src7": 0.25}, "lang": {"de": 0.1}}
PAGE_K = 10
Q_FUZZY_AND = ["spak", "joln"]
Q_SHINGLE_PHRASE = ["table", "scan", "fast"]
Q_SYN_TERMS = ["spark", "scan"]
Q_SYNONYMS = {"spark": ["stream"], "scan": ["sort"]}
RANGE_FACET_COL = "n_chars"
RANGE_FACET_EDGES = [150.0, 300.0, 450.0]
COLLAPSE_K = 5
DBQ_QUERY = "table AND NOT filter"  # delete-by-query boolean tree
STATS_COLS = ["n_chars"]  # q14s metric-stats fields (bounded numeric metadata)
PCT_FRACTIONS = [0.25, 0.5, 0.75, 0.95]  # q14p exact percentiles
DH_EVENT_TYPE, DH_INTERVAL = "click", "day"  # q14d date-histogram scope
RESCORE_WINDOW, RESCORE_BOOST = 40, 0.5  # q27 rescore window / phrase boost
SIG_K, SIG_MIN_FG = 10, 2  # q28 significant-terms cap / noise floor
COMPLETE_PREFIX, COMPLETE_K = "s", 8  # q6c completion suggester
VEC_RESCORE_W = 0.5  # q30 hybrid semantic-rescore cosine weight
DECAY_ORIGIN, DECAY_SCALE, DECAY_RATE = 300.0, 200.0, 0.5  # q29 gauss decay
_DECAY_SIGMA2 = -(DECAY_SCALE ** 2) / (2.0 * math.log(DECAY_RATE))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.sources.corpus import load_documents

    return load_documents(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_INDEX_CACHE: dict[tuple[str, str], tuple[str, dict]] = {}


def _index(
    spark: SparkSession, sf_dir: str, analyzer: str = "naive",
    with_positions: bool = True, membership: bool = False,
) -> tuple[str, dict]:
    """Build (once per (sf_dir, analyzer)) a real on-disk segment index over
    the documents table."""
    key = (sf_dir, analyzer)
    if key not in _INDEX_CACHE:
        from search_engine_spark.sources.segments import build_index

        idx = os.path.join(
            tempfile.gettempdir(),
            f"se_idx_{analyzer}_" + sf_dir.strip("/").replace("/", "_"),
        )
        # a committed manifest from a PRIOR process (different corpus bytes
        # or encoder version) must never be silently resumed for oracle
        # queries — always build fresh on first touch in this process.
        # Resume-from-checkpoint itself is covered by tests/test_index.py.
        import shutil

        shutil.rmtree(idx, ignore_errors=True)
        m = build_index(
            spark,
            _docs(spark, sf_dir),
            idx,
            analyzer=analyzer,
            n_batches=2,
            num_segments=8,
            heavy_threshold=None,
            n_salts=4,
            with_positions=with_positions,
            membership=membership,
        )
        _INDEX_CACHE[key] = (idx, m)
    return _INDEX_CACHE[key]


# Porter-postings side table: the porter/punctuation/stemmer pipeline (A3-A6)
# is not SQL-expressible, so its oracle consumes a parquet of per-doc porter
# postings written by the SAME pytest-golden-verified Python analyzer. The
# oracle joins it back to `documents` on (doc_id, md5(text)) — rows from a
# different sf dir can never match — and then recomputes BM25 entirely in
# SQL. This gives a hard cross-engine check of the distributed porter path
# (tokenize UDF -> segment build -> DAAT) against independent scoring.
PORTER_TOKENS_ROOT = os.path.join(tempfile.gettempdir(), "se_porter_tokens")


def _write_porter_side_table(spark: SparkSession, sf_dir: str) -> None:
    from search_engine_spark.operators.build import build_postings

    d = _docs(spark, sf_dir)
    p = build_postings(d, "porter").select("docId", "term", "tf", "dl")
    side = p.join(
        d.select("docId", F.md5("content").alias("content_md5")), "docId"
    ).select(
        F.col("docId").alias("doc_id"), "content_md5", "term", "tf", "dl"
    )
    out = os.path.join(PORTER_TOKENS_ROOT, os.path.basename(sf_dir.rstrip("/")))
    side.write.mode("overwrite").parquet(out)


def _index_fielded(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Fielded variant of :func:`_index`: lang and repo columns indexed as
    namespaced ``lang``/``repo`` field terms next to the content terms."""
    key = (sf_dir, "naive-fielded")
    if key not in _INDEX_CACHE:
        from search_engine_spark.sources.segments import build_index

        idx = os.path.join(
            tempfile.gettempdir(),
            "se_idx_fielded_" + sf_dir.strip("/").replace("/", "_"),
        )
        import shutil

        shutil.rmtree(idx, ignore_errors=True)
        docs = _docs(spark, sf_dir).withColumn(
            # multi-token field so fielded PHRASES have real adjacency to
            # test (field positions are the field's own token stream)
            "meta", F.concat_ws(" ", "lang", "repo")
        )
        m = build_index(
            spark, docs, idx, analyzer="naive",
            n_batches=2, num_segments=8, heavy_threshold=None, n_salts=4,
            fields={"lang": "naive", "repo": "naive", "meta": "naive"},
        )
        _INDEX_CACHE[key] = (idx, m)
    return _INDEX_CACHE[key]


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators.build import build_postings

    return build_postings(_docs(spark, sf_dir), "naive")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: segment build + distributed BM25 DAAT top-10."""
    from search_engine_spark.operators.rank import Scorer, score_query_daat
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    sf_dir = "/root/testdata/sf0.001"
    idx, m = _index(spark, sf_dir)
    out = score_query_daat(
        spark,
        load_segments(spark, idx),
        load_term_stats(spark, idx),
        Q_RANKED,
        m["stats"]["n_docs"],
        m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B),
        k=TOPK,
        analyzer="naive",
        ties="asc",
    )
    return out.select(F.col("docId").alias("doc_id"), F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# queries


def q_s1_scan(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.where((F.col("lang") == "en") & (F.col("n_chars") > 200))
        .select("doc_id", "lang", "n_chars")
    )


def q_a2_token_count(spark, sf_dir):
    from search_engine_spark.operators.textstats import token_count_expr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", token_count_expr(F.col("text")).alias("n_tokens"))


def q_b1_postings(spark, sf_dir):
    p = _postings(spark, sf_dir)
    return p.select(F.col("docId").alias("doc_id"), "term", "tf")


def q_b3_term_stats(spark, sf_dir):
    p = _postings(spark, sf_dir)
    return p.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf")
    )


def q_q7_corpus_stats(spark, sf_dir):
    p = _postings(spark, sf_dir)
    return p.agg(
        F.countDistinct("docId").cast("long").alias("n_docs"),
        F.sum("tf").cast("long").alias("total_tokens"),
        F.countDistinct("term").cast("long").alias("n_terms"),
    )


def q_q2_keyword(spark, sf_dir):
    from search_engine_spark.operators.query import search_keyword

    p = _postings(spark, sf_dir)
    return search_keyword(p, Q_KEYWORD).select(F.col("docId").alias("doc_id"))


def q_q2fl_field_search(spark, sf_dir):
    """q2fl: fielded search through the real segment store — content term
    AND two field constraints (lang:en, repo:testdata/src3), all three just
    posting lists in the same index (build_index(fields=…))."""
    from search_engine_spark.operators.query import (
        analyze_query,
        field_terms,
        search_and,
    )
    from search_engine_spark.sources.segments import decode_postings, load_segments

    idx, _ = _index_fielded(spark, sf_dir)
    segs = load_segments(spark, idx)
    terms = (
        analyze_query([Q_KEYWORD], "naive")
        + field_terms("lang", ["en"])
        + field_terms("repo", ["testdata/src3"])
    )
    dec = decode_postings(segs, terms)
    return search_and(dec, terms).select(F.col("docId").alias("doc_id"))


def q_q8f_fielded_bm25(spark, sf_dir):
    """q8f: per-field weighted BM25 (BM25F-lite) over the fielded index —
    content terms at weight 1.0 plus lang:en (0.4) and repo:testdata/src3
    (0.8), each field scored with its OWN avgdl."""
    from search_engine_spark.operators.rank import Scorer, score_query_fielded
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index_fielded(spark, sf_dir)
    segs, stats = load_segments(spark, idx), load_term_stats(spark, idx)
    out = score_query_fielded(
        spark, segs, stats,
        {None: (Q_RANKED, 1.0), "lang": (["en"], 0.4),
         "repo": (["testdata/src3"], 0.8)},
        m["stats"]["n_docs"], m["stats"]["avgdl_by_field"], Scorer("bm25"),
        k=TOPK, analyzer="naive",
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q2r_regex_search(spark, sf_dir):
    """q2r: regex term query — dictionary expansion (bounded, RE2/Java-
    portable pattern) then the usual In-pushed OR seek over the real
    segment store."""
    from search_engine_spark.operators.query import search_regex
    from search_engine_spark.sources.segments import (
        decode_postings,
        load_segments,
        load_term_stats,
    )

    idx, _ = _index(spark, sf_dir, "naive")
    segs, stats = load_segments(spark, idx), load_term_stats(spark, idx)
    # expand against the dictionary first so decode only seeks matched terms
    from search_engine_spark.operators.query import regex_terms

    terms = [r.term for r in regex_terms(stats, REGEX_PATTERN, 64).collect()]
    dec = decode_postings(segs, terms)
    from search_engine_spark.operators.query import search_or

    return search_or(dec, terms).select(F.col("docId").alias("doc_id"))


def q_q16_hybrid_rrf(spark, sf_dir):
    """q16: hybrid retrieval — BM25 top-50 (real segment index) and cosine
    top-50 (embeddings table, vec_id as the doc key) fused by reciprocal
    rank (c=60), top-10 by (rrf desc, id asc)."""
    from search_engine_spark.operators.rank import Scorer, rrf_fuse, score_query_daat
    from search_engine_spark.operators.similarity import cosine_topk
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir, "naive")
    segs, stats = load_segments(spark, idx), load_term_stats(spark, idx)
    bm25 = score_query_daat(
        spark, segs, stats, Q_RANKED, m["stats"]["n_docs"],
        m["stats"]["avgdl"], Scorer("bm25"), k=RRF_N, analyzer="naive",
        ties="asc",
    )
    e = _emb(spark, sf_dir)
    qv = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cos = cosine_topk(e.where(F.col("vec_id") != 0), list(qv), RRF_N).select(
        F.col("vec_id").alias("docId"), F.col("cosine").alias("score")
    )
    out = rrf_fuse([bm25, cos], k=TOPK, c=60)
    return out.select(
        F.col("docId").alias("doc_id"), F.round("rrf", 6).alias("rrf")
    )


def q_q3b_bool_tree(spark, sf_dir):
    """q3b: nested boolean query — spark AND (join OR merge) AND NOT scan
    evaluated as ONE plan (leaf-term In-pushed scan -> per-doc matched-term
    set -> codegen boolean expression), any nesting depth."""
    from search_engine_spark.operators.query import parse_bool, search_bool

    tree = parse_bool(BOOL_QUERY, "naive")
    return search_bool(_postings(spark, sf_dir), tree).select(
        F.col("docId").alias("doc_id")
    )


def q_q8flt_filtered_bm25(spark, sf_dir):
    """q8flt: ranked search within a boolean filter — BM25 over Q_RANKED
    restricted to docs matching a fielded boolean tree
    (lang:en AND NOT repo:testdata/src3), all through the fielded index."""
    from search_engine_spark.operators.rank import Scorer, score_query_filtered
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index_fielded(spark, sf_dir)
    segs, stats = load_segments(spark, idx), load_term_stats(spark, idx)
    from search_engine_spark.operators.query import field_terms

    tree = ("and", [
        ("term", field_terms("lang", ["en"])[0]),
        ("not", ("term", field_terms("repo", ["testdata/src3"])[0])),
    ])
    out = score_query_filtered(
        spark, segs, stats, Q_RANKED, tree, m["stats"]["n_docs"],
        m["stats"]["avgdl_by_field"][""], Scorer("bm25"), k=TOPK,
        analyzer="naive",
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q20_fielded_phrase(spark, sf_dir):
    """q20: fielded phrase — ``meta:"en testdata/src3"`` matches adjacency
    in the FIELD's own token stream (meta = "<lang> <repo>", so the phrase
    is exactly lang='en' AND repo='testdata/src3' and the oracle recomputes
    it relationally); combined with a content term in one parsed plan."""
    from search_engine_spark.operators.parser import search_query_string
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index_fielded(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    out = search_query_string(
        spark, segs, ts, 'meta:"en testdata/src3" AND spark',
        analyzer="naive",
    )
    return out.select(F.col("docId").alias("doc_id"))


WILDCARD_PARSED = "sc?n AND qu*y AND /m[ae]rge/"


def q_q21_wildcard_parsed(spark, sf_dir):
    """q21: wildcard + regexp term leaves through the parser — Lucene
    WildcardQuery (``?``/``*``, whole-term dictionary LIKE expansion) and
    RegexpQuery (anchored dictionary rlike expansion), constant-score,
    sharing the one In-pushed membership decode with the boolean plan."""
    from search_engine_spark.operators.parser import search_query_string
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    # the DuckDB oracle's LIKE/regexp subqueries are UNCAPPED, so the
    # engine must run with an expansion cap the fixture can never reach —
    # otherwise a large-vocabulary sf silently drops the low-df tail and
    # the contract diverges for a non-bug reason
    out = search_query_string(spark, segs, ts, WILDCARD_PARSED,
                              analyzer="naive", max_expansions=1_000_000)
    return out.select(F.col("docId").alias("doc_id"))


def q_q3_and(spark, sf_dir):
    from search_engine_spark.operators.query import search_and

    return search_and(_postings(spark, sf_dir), Q_AND).select(
        F.col("docId").alias("doc_id")
    )


def q_q4_or(spark, sf_dir):
    from search_engine_spark.operators.query import search_or

    return search_or(_postings(spark, sf_dir), Q_AND).select(
        F.col("docId").alias("doc_id")
    )


def q_q5_phrase(spark, sf_dir):
    """Phrase search over the positional index (positions decoded from the
    segment store — the raw postings carry packed posbin blobs)."""
    from search_engine_spark.operators.query import search_phrase
    from search_engine_spark.sources.segments import decode_postings, load_segments

    idx, _ = _index(spark, sf_dir)
    dec = decode_postings(load_segments(spark, idx), Q_PHRASE, with_positions=True)
    return search_phrase(dec, Q_PHRASE).select(F.col("docId").alias("doc_id"))


SPAN_FIRST_LIMIT = 12  # q24: term within the first N token positions


def q_q24_span_first(spark, sf_dir):
    """Lucene SpanFirstQuery: docs where the keyword occurs within the
    first SPAN_FIRST_LIMIT positions — the Q5 positional decode path with
    a JVM exists() over the position array instead of adjacency."""
    from search_engine_spark.operators.query import search_span_first
    from search_engine_spark.sources.segments import decode_postings, load_segments

    idx, _ = _index(spark, sf_dir)
    dec = decode_postings(
        load_segments(spark, idx), [Q_KEYWORD], with_positions=True
    )
    return search_span_first(dec, Q_KEYWORD, SPAN_FIRST_LIMIT).select(
        F.col("docId").alias("doc_id")
    )


PARSED_QUERY = '(sow~1 OR "table scan") AND n_chars:[150 TO 450] AND NOT zebra'


def q_q18_parsed_query(spark, sf_dir):
    """q18: the unified Lucene-style query string, end to end — ONE string
    routes to fuzzy expansion + positional phrase + corpus numeric range +
    boolean NOT, compiled to one plan (operators/parser.py). The oracle
    recomputes each leaf relationally and applies the same tree."""
    from search_engine_spark.operators.parser import search_query_string
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    corpus = _docs(spark, sf_dir).withColumn("n_chars", F.length("content"))
    out = search_query_string(
        spark, segs, ts, PARSED_QUERY, corpus=corpus, analyzer="naive",
        max_expansions=16,
    )
    return out.select(F.col("docId").alias("doc_id"))


RANKED_PARSED = '(query AND "hash join") OR sl*'


def q_q19_ranked_parsed(spark, sf_dir):
    """q19: BM25-ranked query string — parse -> one-plan boolean filter ->
    DAAT over the tree's scoring terms (positive bare terms +
    phrase constituents; the prefix leaf is a constant-score filter, so
    docs matching only via ``sl*`` rank with score 0.0). The Lucene
    parse->score path over the reference's Q8 scoring surface."""
    from search_engine_spark.operators.parser import rank_query_string
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    out = rank_query_string(
        spark, segs, ts, RANKED_PARSED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        k=TOPK, analyzer="naive",
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


BOOSTED_PARSED = '(query^2 AND "hash join"^1.5) OR sl*'


def q_q19b_boosted_parsed(spark, sf_dir):
    """q19b: Lucene ``^W`` boosts through the ranked query string — each
    boost multiplies its term's BM25 contribution (the weight takes the
    qtf slot in the scoring sum; matching is unchanged vs q19, and
    constant-score ``sl*``-only docs still rank at 0.0)."""
    from search_engine_spark.operators.parser import rank_query_string
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    out = rank_query_string(
        spark, segs, ts, BOOSTED_PARSED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        k=TOPK, analyzer="naive",
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q5s_sloppy_phrase(spark, sf_dir):
    """q5s: ordered sloppy phrase — Q_SLOPPY terms in order, <= Q_SLOP extra
    tokens between consecutive terms, over the positional segment index."""
    from search_engine_spark.operators.query import search_sloppy_phrase
    from search_engine_spark.sources.segments import decode_postings, load_segments

    idx, _ = _index(spark, sf_dir)
    dec = decode_postings(load_segments(spark, idx), list(Q_SLOPPY), with_positions=True)
    return search_sloppy_phrase(dec, list(Q_SLOPPY), Q_SLOP).select(
        F.col("docId").alias("doc_id")
    )


def q_q2p_prefix(spark, sf_dir):
    """Prefix term query against the SEGMENT store: ``startswith`` compiles
    to a StringStartsWith pushed filter on the term-sorted parquet — the
    dictionary range-seek analog (TreeMap subMap in the reference's term
    dictionary shape). Only matching packed rows decode."""
    from search_engine_spark.operators.query import search_prefix
    from search_engine_spark.sources.segments import load_segments

    idx, _ = _index(spark, sf_dir)
    out = search_prefix(load_segments(spark, idx), Q_PREFIX, analyzer="naive")
    return out.select(F.col("docId").alias("doc_id"))


def q_q3n_and_not(spark, sf_dir):
    """Boolean AND-NOT: all of Q_AND[:2], none of Q_AND[2]."""
    from search_engine_spark.operators.query import search_and_not

    out = search_and_not(_postings(spark, sf_dir), Q_AND[:2], [Q_AND[2]])
    return out.select(F.col("docId").alias("doc_id"))


def q_q5w_proximity(spark, sf_dir):
    """Ordered proximity over the positional index: Q_NEAR[1] within
    1..Q_NEAR_WINDOW positions after Q_NEAR[0] (window=1 would be Q5)."""
    from search_engine_spark.operators.query import search_proximity
    from search_engine_spark.sources.segments import decode_postings, load_segments

    idx, _ = _index(spark, sf_dir)
    dec = decode_postings(load_segments(spark, idx), list(Q_NEAR), with_positions=True)
    return search_proximity(dec, Q_NEAR[0], Q_NEAR[1], Q_NEAR_WINDOW).select(
        F.col("docId").alias("doc_id")
    )


def q_q2f_fuzzy(spark, sf_dir):
    """Typo-tolerant keyword query: expand Q_FUZZY against the term
    dictionary (Levenshtein <= Q_FUZZY_DIST, ranked + capped), then OR-seek
    the expansions with the usual ``In`` term pushdown."""
    from search_engine_spark.operators.query import search_fuzzy

    p = _postings(spark, sf_dir)
    stats = p.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    out = search_fuzzy(p, stats, Q_FUZZY, Q_FUZZY_DIST, Q_FUZZY_EXP)
    return out.select(F.col("docId").alias("doc_id"))


def q_q3f_fuzzy_and(spark, sf_dir):
    """Multi-term fuzzy AND: every Q_FUZZY_AND term independently expanded
    (dist <= Q_FUZZY_DIST, ranked cap), doc must match one expansion per
    group — countDistinct(gid) == n groups."""
    from search_engine_spark.operators.query import search_fuzzy_and

    p = _postings(spark, sf_dir)
    stats = p.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    out = search_fuzzy_and(p, stats, Q_FUZZY_AND, Q_FUZZY_DIST, Q_FUZZY_EXP)
    return out.select(F.col("docId").alias("doc_id"))


def q_q6s_suggest(spark, sf_dir):
    """Did-you-mean: top-K_SUGGEST dictionary terms near Q_SUGGEST by
    (edit distance, df desc, term) — dictionary-only TakeOrdered plan."""
    from search_engine_spark.operators.query import suggest_terms

    p = _postings(spark, sf_dir)
    stats = p.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    return suggest_terms(stats, Q_SUGGEST, Q_SUGGEST_K, Q_SUGGEST_DIST)


def q_q8m_more_like_this(spark, sf_dir):
    """More-like-this: seed doc MLT_SEED's tf-idf-heaviest MLT_TOP_TERMS
    terms re-run as a weighted TF-IDF query through the DAAT kernel,
    seed excluded, top-MLT_K by (score desc, doc asc)."""
    from search_engine_spark.operators.rank import Scorer, more_like_this
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    out = more_like_this(
        spark, _docs(spark, sf_dir), load_segments(spark, idx),
        load_term_stats(spark, idx), MLT_SEED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        top_terms=MLT_TOP_TERMS, k=MLT_K,
        analyzer="naive", scorer=Scorer("tfidf_cosine"),
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_t9_grouped_topk(spark, sf_dir):
    """Windowless grouped top-k: the GTOPK_K longest docs per lang
    (n_chars desc, doc_id asc) via the bucketed two-stage sort-trim."""
    from search_engine_spark.operators.sampling import grouped_topk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return grouped_topk(
        d, ["lang"], "n_chars", "doc_id", GTOPK_K, n_buckets=GTOPK_BUCKETS
    )


def q_q15_related_terms(spark, sf_dir):
    """Related searches for REL_TERM: co-occurrence PMI over postings,
    top-REL_K by (pmi desc, term asc), codf >= REL_MIN_CODF."""
    from search_engine_spark.operators.query import related_terms

    p = _postings(spark, sf_dir)
    n = _docs(spark, sf_dir).count()
    out = related_terms(p, p.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    ), REL_TERM, n, REL_K, REL_MIN_CODF)
    return out.select("term", "codf", F.round("pmi", 6).alias("pmi"))


def q_q11b_boosted(spark, sf_dir):
    """Metadata-boosted BM25: the Q_RANKED DAAT scores (all matching docs)
    + literal CASE boosts on (source, lang), top-TOPK re-rank."""
    from search_engine_spark.operators.rank import (
        Scorer, score_query_daat, score_with_boosts,
    )
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    base = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"], Scorer("bm25"),
        k=None, analyzer="naive",
    )
    meta = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("docId"), "source", "lang"
    )
    out = score_with_boosts(base, meta, BOOSTS, k=TOPK)
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q8p_page2(spark, sf_dir):
    """Deep pagination: page 2 of the Q_RANKED BM25 ranking via a
    (score, docId) cursor — equals OFFSET PAGE_K under the deterministic
    (score desc, docId asc) total order, without materializing page 1
    downstream."""
    from search_engine_spark.operators.rank import (
        Scorer, score_query_daat, search_after,
    )
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    scored = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"], Scorer("bm25"),
        k=None, analyzer="naive", ties="asc",
    )
    page1 = scored.orderBy(F.desc("score"), F.asc("docId")).limit(PAGE_K).collect()
    if len(page1) < PAGE_K:
        return scored.limit(0).select(
            F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
        )
    cur = (page1[-1].score, page1[-1].docId)
    out = search_after(scored, cur, PAGE_K)
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q14_facets(spark, sf_dir):
    """Facet counts over the Q_KEYWORD result set by (lang, source):
    broadcast semi-join hydration + one stacked partial+final count agg."""
    from search_engine_spark.operators.query import facet_counts, search_keyword

    hits = search_keyword(_postings(spark, sf_dir), Q_KEYWORD).select(
        F.col("docId").alias("doc_id")
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return facet_counts(hits, d, ["lang", "source"], id_col="doc_id")


def q_q14s_stats_agg(spark, sf_dir):
    """q14s: ES-style stats + cardinality aggregation over the Q_KEYWORD
    result set — per numeric field (n, ndv, min, max, sum, avg), all fields
    stacked into ONE partial+final agg."""
    from search_engine_spark.operators.query import search_keyword, stats_agg

    hits = search_keyword(_postings(spark, sf_dir), Q_KEYWORD).select(
        F.col("docId").alias("doc_id")
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stats_agg(hits, d, STATS_COLS, id_col="doc_id")
    return out.select(
        "col", "n", "ndv",
        F.round("min", 6).alias("min"), F.round("max", 6).alias("max"),
        F.round("sum", 6).alias("sum"), F.round("avg", 6).alias("avg"),
    )


def q_q14p_percentiles(spark, sf_dir):
    """q14p: exact percentiles (PERCENTILE_CONT / R-7 interpolation) of
    n_chars over the Q_KEYWORD result set — one percentile agg for all
    fractions, posexploded back to (p, value) rows."""
    from search_engine_spark.operators.query import percentiles_agg, search_keyword

    hits = search_keyword(_postings(spark, sf_dir), Q_KEYWORD).select(
        F.col("docId").alias("doc_id")
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = percentiles_agg(hits, d, RANGE_FACET_COL, PCT_FRACTIONS, id_col="doc_id")
    return out.select("p", F.round("value", 6).alias("value"))


def q_q14d_date_histogram(spark, sf_dir):
    """q14d: calendar date-histogram of DH_EVENT_TYPE events (count + value
    sum per day) — the filter scopes the scan (predicate pushdown), one
    partial+final agg keyed on date_trunc."""
    from search_engine_spark.operators.query import date_histogram

    # bucket boundaries follow the session tz; the DuckDB oracle reads the
    # parquet timestamps as naive UTC. get_spark pins UTC (st1 depends on it
    # too); a query must not change session state, so check it instead.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(f"q14d needs spark.sql.session.timeZone=UTC, got {tz!r}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("event_type") == DH_EVENT_TYPE
    )
    out = date_histogram(ev, "ts", DH_INTERVAL, value_col="value")
    return out.select("bucket", "n", F.round("sum_value", 6).alias("sum_value"))


def q_q27_rescore_phrase(spark, sf_dir):
    """q27: rescore window (Lucene QueryRescorer / ES rescore) — BM25
    top-RESCORE_WINDOW via DAAT, then ONLY those rows re-ranked
    with an exact positional phrase signal (+RESCORE_BOOST on match);
    top-TOPK of the rescored window."""
    from search_engine_spark.operators.rank import Scorer, rescore_phrase
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    lo, hi = m["stats"].get("docid_lo"), m["stats"].get("docid_hi")
    out = rescore_phrase(
        spark, load_segments(spark, idx), load_term_stats(spark, idx),
        Q_RANKED, Q_PHRASE, m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), window=RESCORE_WINDOW, k=TOPK,
        boost=RESCORE_BOOST, analyzer="naive", ties="asc",
        docid_span=(lo, hi) if lo is not None and hi is not None else None,
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q28_significant_terms(spark, sf_dir):
    """q28: significant-terms aggregation (ES JLH heuristic) over the
    Q_KEYWORD result set — terms over-represented in the hits vs the corpus
    background; broadcast semi-join + one distinct-count agg + TakeOrdered."""
    from search_engine_spark.operators.query import (
        search_keyword,
        significant_terms,
    )

    postings = _postings(spark, sf_dir)
    ts = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    hits = search_keyword(postings, Q_KEYWORD)
    n_fg = hits.count()
    n_docs = _docs(spark, sf_dir).count()
    out = significant_terms(
        hits, postings, ts, n_fg, n_docs, k=SIG_K, min_fg=SIG_MIN_FG
    )
    return out.select("term", "fg_df", "df", F.round("score", 6).alias("score"))


def q_q29_decay_score(spark, sf_dir):
    """q29: function-score gauss decay — exhaustive BM25 scores multiplied
    by exp decay of |n_chars − origin|, top-TOPK of the product (the ES
    recency/proximity re-ranking shape)."""
    from search_engine_spark.operators.rank import (
        Scorer,
        decay_score,
        score_query_daat,
    )
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    scored = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx),
        Q_RANKED, m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=None, analyzer="naive", ties="asc",
    )
    meta = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("docId"), "n_chars"
    )
    out = decay_score(
        scored, meta, "n_chars", DECAY_ORIGIN, DECAY_SCALE,
        decay=DECAY_RATE, kind="gauss", k=TOPK,
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q6c_complete(spark, sf_dir):
    """q6c: completion suggester — top-COMPLETE_K dictionary terms extending
    COMPLETE_PREFIX by (df desc, term asc); dictionary-only seek, no
    posting decode."""
    from search_engine_spark.operators.query import complete_prefix

    p = _postings(spark, sf_dir)
    stats = p.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    return complete_prefix(stats, COMPLETE_PREFIX, COMPLETE_K)


def q_q30_rescore_vector(spark, sf_dir):
    """q30: hybrid semantic rescore — BM25 top-RESCORE_WINDOW (the q27
    primary), each hit's score + VEC_RESCORE_W x cosine(query embedding,
    doc embedding), top-TOPK re-cut. Query vector = embedding of vec_id 0
    (dataset-derived, so the oracle references the same row)."""
    from search_engine_spark.operators.rank import Scorer, score_query_daat
    from search_engine_spark.operators.similarity import rescore_vector
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    win = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx),
        Q_RANKED, m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=RESCORE_WINDOW, analyzer="naive",
        ties="asc",
    )
    e = _emb(spark, sf_dir)
    qv = list(e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0])
    out = rescore_vector(win, e, qv, weight=VEC_RESCORE_W, k=TOPK)
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_t7_snippets(spark, sf_dir):
    """Result-snippet generation: token window around the first occurrence
    of the query term — serving-path hydration, pure JVM array exprs."""
    from search_engine_spark.operators.textstats import keyword_snippets

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return keyword_snippets(
        d, SNIPPET_TERM, text="text", id_col="doc_id",
        before=SNIPPET_BEFORE, after=SNIPPET_AFTER,
    )


def q_q22_min_should_match(spark, sf_dir):
    """Lucene minimumNumberShouldMatch: docs matching >= MSM_MIN of the
    Q_AND terms — the count-matching agg shape of Q3 with a >= threshold."""
    from search_engine_spark.operators.query import search_min_should_match

    return search_min_should_match(_postings(spark, sf_dir), Q_AND, MSM_MIN).select(
        F.col("docId").alias("doc_id")
    )


def q_q23_highlight(spark, sf_dir):
    """Query-aware multi-term highlighting over the q22 hit set: best
    HL_WINDOW-token span by distinct-term coverage (earliest on ties),
    matches <em>-wrapped. Serving shape: broadcast semi-join hydrates only
    hit docs, then a pure JVM projection — zero extra shuffles."""
    from search_engine_spark.operators.query import search_min_should_match
    from search_engine_spark.operators.textstats import highlight_terms

    hits = search_min_should_match(_postings(spark, sf_dir), Q_AND, MSM_MIN)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = d.join(
        F.broadcast(hits.withColumnRenamed("docId", "doc_id")),
        "doc_id",
        "left_semi",
    )
    return highlight_terms(
        docs, Q_AND, window=HL_WINDOW, text="text", id_col="doc_id"
    )


PQ_REF_ROOT = os.path.join(tempfile.gettempdir(), "se_pq_ref")
IVFPQ_REF_ROOT = os.path.join(tempfile.gettempdir(), "se_ivfpq_ref")
IVFPQ_RES_REF_ROOT = os.path.join(tempfile.gettempdir(), "se_ivfpq_res_ref")


def q_e4_pq_topk(spark, sf_dir):
    """PQ-ADC approximate top-k over the compressed code table.

    Oracle construction (a7-style side table): the SAME deterministic
    codebooks (``pq_train`` — lowest-id sample, numpy Lloyd's, tie-to-lower
    argmin) drive a single-node Python mirror (``pq_reference_scores``) that
    shares the Spark expressions' left-fold arithmetic bit for bit; its
    top-k lands in a side parquet the SQL reads back. The check proves the
    distributed encode (inline-argmin projection) + ADC lookup path
    reproduces the single-node quantizer exactly."""
    import pandas as pd

    from search_engine_spark.operators.similarity import (
        pq_reference_scores, pq_topk, pq_train,
    )

    e = _emb(spark, sf_dir).where(F.col("vec_id") < SIDE_DOC_CAP)
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    corpus = e.where(F.col("vec_id") != 0)
    books = pq_train(corpus, m=PQ_M, k=PQ_K)

    rows = [(int(r[0]), [float(x) for x in r[1]])
            for r in corpus.select("vec_id", "embedding").collect()]
    scored = pq_reference_scores(rows, books, qv)
    scored.sort(key=lambda t: (t[1], t[0]))
    ref = pd.DataFrame(scored[:ANN_K], columns=["vec_id", "adc"])
    # sf-scope guard: side rows from a different sf dir (overlapping vec_id
    # space) can never satisfy the oracle's corpus-count predicate
    ref["n_corpus"] = len(rows)
    out = os.path.join(PQ_REF_ROOT, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    ref.to_parquet(os.path.join(out, "ref.parquet"), index=False)

    res = pq_topk(corpus, qv, ANN_K, codebooks=books)
    return res.select("vec_id", F.round("adc", 6).alias("adc"))


def q_e5_ivfpq_topk(spark, sf_dir):
    """IVF-PQ top-k: coarse-cell pruning + compressed ADC scoring, the
    billion-scale serving composition. Oracle: the same a7/e4-style
    single-node mirror — deterministic centroids (lowest-id) + pq_train
    codebooks drive ``ivf_reference_assign`` + ``pq_reference_scores``
    restricted to the probed cells, bit-identical arithmetic throughout."""
    import pandas as pd

    from search_engine_spark.operators.similarity import (
        _probe_cells, ivf_reference_assign, ivfpq_topk, lowid_centroids,
        pq_reference_scores, pq_train,
    )

    e = _emb(spark, sf_dir).where(F.col("vec_id") < SIDE_DOC_CAP)
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    corpus = e.where(F.col("vec_id") != 0)
    cents = lowid_centroids(corpus, IVF_CENTROIDS)
    books = pq_train(corpus, m=PQ_M, k=PQ_K)

    rows = [(int(r[0]), [float(x) for x in r[1]])
            for r in corpus.select("vec_id", "embedding").collect()]
    probe = set(_probe_cells(cents, qv, IVF_NPROBE))
    cid_of = ivf_reference_assign(rows, cents)
    probed_rows = [(rid, vec) for rid, vec in rows if cid_of[rid] in probe]
    scored = pq_reference_scores(probed_rows, books, qv)
    scored.sort(key=lambda t: (t[1], t[0]))
    ref = pd.DataFrame(scored[:ANN_K], columns=["vec_id", "adc"])
    ref["n_corpus"] = len(rows)
    out = os.path.join(IVFPQ_REF_ROOT, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    ref.to_parquet(os.path.join(out, "ref.parquet"), index=False)

    res = ivfpq_topk(
        corpus, qv, ANN_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
        centroids=cents, codebooks=books,
    )
    return res.select("vec_id", F.round("adc", 6).alias("adc"))


def q_e6_ivfpq_residual(spark, sf_dir):
    """Residual IVF-PQ top-k (FAISS IVFPQ semantics: quantize
    x - centroid[cell]) — same side-table oracle pattern as e4/e5; the
    mirror covers assignment, residual, per-cell LUTs, and ADC."""
    import pandas as pd

    from search_engine_spark.operators.similarity import (
        ivfpq_residual_reference_scores, ivfpq_topk_residual,
        ivfpq_train_residual, lowid_centroids,
    )

    e = _emb(spark, sf_dir).where(F.col("vec_id") < SIDE_DOC_CAP)
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    corpus = e.where(F.col("vec_id") != 0)
    cents = lowid_centroids(corpus, IVF_CENTROIDS)
    books = ivfpq_train_residual(corpus, cents, m=PQ_M, k=PQ_K)

    rows = [(int(r[0]), [float(x) for x in r[1]])
            for r in corpus.select("vec_id", "embedding").collect()]
    scored = ivfpq_residual_reference_scores(rows, cents, books, qv, IVF_NPROBE)
    scored.sort(key=lambda t: (t[1], t[0]))
    ref = pd.DataFrame(scored[:ANN_K], columns=["vec_id", "adc"])
    ref["n_corpus"] = len(rows)
    out = os.path.join(IVFPQ_RES_REF_ROOT, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    ref.to_parquet(os.path.join(out, "ref.parquet"), index=False)

    res = ivfpq_topk_residual(
        corpus, qv, ANN_K, nprobe=IVF_NPROBE, centroids=cents, codebooks=books,
    )
    return res.select("vec_id", F.round("adc", 6).alias("adc"))


def q_q8_tfidf(spark, sf_dir):
    """TF-IDF cosine, ALL matching docs (reference §2.6 semantics).

    Runs through the packed DAAT kernel (exhaustive, ``k=None``): parquet
    `term IN` pushdown + byte-level block
    decode, no Python-object position lists anywhere on this path."""
    from search_engine_spark.operators.rank import Scorer, score_query_daat
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    out = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("tfidf_cosine"), k=None, analyzer="naive", ties="asc",
    )
    return out.select(F.col("docId").alias("doc_id"), F.round("score", 6).alias("score"))


def q_q8_bm25_topk(spark, sf_dir):
    """BM25 top-10 through the full segment + DAAT path."""
    from search_engine_spark.operators.rank import Scorer, score_query_daat
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    out = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=TOPK, analyzer="naive", ties="asc",
    )
    return out.select(F.col("docId").alias("doc_id"), F.round("score", 6).alias("score"))


def q_q25_dismax(spark, sf_dir):
    """Lucene DisjunctionMaxQuery ranking: best single-term BM25
    contribution + DISMAX_TIE x the rest — the declarative scoring plan
    with a max+sum aggregate over the SAME shared contribution expression
    as q8/q8x (so the oracle reuses the q8 scoring CTEs verbatim)."""
    from search_engine_spark.operators.rank import Scorer, score_query_dismax
    from search_engine_spark.sources.segments import (
        decode_postings,
        load_segments,
        load_term_stats,
    )

    idx, m = _index(spark, sf_dir)
    dec = decode_postings(load_segments(spark, idx), sorted(set(Q_RANKED)))
    out = score_query_dismax(
        spark, dec, load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), tie_breaker=DISMAX_TIE, k=TOPK,
        analyzer="naive", ties="asc",
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q26_percolate(spark, sf_dir):
    """Reverse search (Percolator): every (doc, standing query) pair where
    the doc contains ALL the query's terms — one tokenize pass, broadcast
    query table, one count-matching agg for all queries at once."""
    from search_engine_spark.operators.query import percolate, percolate_queries

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qt = percolate_queries(spark, PERCO_QUERIES, analyzer="naive")
    return percolate(d, qt, analyzer="naive", text="text", id_col="doc_id")


_SHARDED_CACHE: dict = {}


def q_q8s_sharded_bm25(spark, sf_dir):
    """BM25 top-10 over a FEDERATED 3-shard index (operators/federation.py,
    scatter mode): corpus hash-partitioned by docId into three independent
    indexes, each scored by its own DAAT job using GLOBAL stats
    (df summed across shards, global n_docs/avgdl), per-shard top-k merged.
    Rank-identical to the single-index q8 path by construction — so the
    oracle is the SAME global BM25 SQL as q8_bm25_topk. This is the
    deployment shape at 10^12 files: shards built/refreshed independently,
    queries fan out and merge S·k rows."""
    from search_engine_spark.operators.federation import (
        build_sharded_index,
        federated_search,
    )
    from search_engine_spark.operators.rank import Scorer

    if sf_dir not in _SHARDED_CACHE:
        import shutil

        root = os.path.join(
            tempfile.gettempdir(),
            "se_fed_naive_" + sf_dir.strip("/").replace("/", "_"),
        )
        shutil.rmtree(root, ignore_errors=True)  # never resume a stale corpus
        build_sharded_index(
            spark, _docs(spark, sf_dir), root, n_shards=3,
            analyzer="naive", n_batches=1, num_segments=4, n_salts=4,
        )
        _SHARDED_CACHE[sf_dir] = root
    out = federated_search(
        spark, _SHARDED_CACHE[sf_dir], Q_RANKED, k=TOPK,
        scorer=Scorer("bm25", BM25_K1, BM25_B), analyzer="naive",
        ties="asc", mode="scatter",
    )
    return out.select(F.col("docId").alias("doc_id"), F.round("score", 6).alias("score"))


def q_q8_bm25_batch(spark, sf_dir):
    """Batch BM25: score the whole BATCH_QUERIES workload in ONE Spark job
    (one ``term IN`` postings scan for the union of query terms, one
    groupBy(qid, docId) shuffle, zero-shuffle partial top-k). The reference
    scores queries one at a time (IIM:1131-1315); this is the
    throughput-oriented generalization a cluster serving a query log needs.
    Ties/rounding follow the q8 convention (rank on raw score, round after);
    the per-qid rank is emitted so order is value-checked."""
    from pyspark.sql import Window

    from search_engine_spark.operators.rank import Scorer, score_queries_batch
    from search_engine_spark.sources.segments import (
        decode_postings,
        load_segments,
        load_term_stats,
    )

    idx, m = _index(spark, sf_dir)
    out = score_queries_batch(
        spark,
        decode_postings(load_segments(spark, idx)),
        load_term_stats(spark, idx),
        BATCH_QUERIES,
        m["stats"]["n_docs"],
        m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B),
        k=TOPK,
        analyzer="naive",
        ties="asc",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docId"))
    return out.select(
        "qid",
        F.col("docId").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.row_number().over(w).alias("rank"),
    )


def q_q8_bm25_batch_daat(spark, sf_dir):
    """Q8 batched, DAAT flavor: the SAME workload as
    q8_bm25_batch through ``score_queries_daat_batch`` — packed segment
    scan with term pushdown, zero-decode docId-bucket re-key (whole-block
    byte slices + kernel range mask), decode-once vectorized kernel, two
    stage top-k. Value-exact against the identical DuckDB oracle SQL, so
    the driver checks the distributed DAAT serving path end-to-end, not
    just the declarative one."""
    from pyspark.sql import Window

    from search_engine_spark.operators.rank import Scorer, score_queries_daat_batch
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    out = score_queries_daat_batch(
        spark,
        load_segments(spark, idx),
        load_term_stats(spark, idx),
        BATCH_QUERIES,
        m["stats"]["n_docs"],
        m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B),
        k=TOPK,
        analyzer="naive",
        ties="asc",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docId"))
    return out.select(
        "qid",
        F.col("docId").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.row_number().over(w).alias("rank"),
    )


DELETE_MOD = 7


def q_b7_delete_search(spark, sf_dir):
    """B7 deletion — the engine's real tombstone path (the reference leaves
    ``deleteDocuments`` as ``UnsupportedOperationException``, IIM:1375-1377;
    ``operators/delete.py`` implements it Lucene-style). Tombstone every doc
    with ``doc_id % DELETE_MOD == 0``, then run the q8 BM25 top-10 through
    the distributed DAAT kernel with its deleted-docs mask. Lazy-deletion
    semantics (df/idf/avgdl stay as-built until purge) are mirrored exactly
    in the oracle: the identical scoring CTEs over ALL docs, with deleted
    docs filtered from the final ranking only."""
    from search_engine_spark.operators import delete as D
    from search_engine_spark.operators.rank import Scorer, score_query_daat
    from search_engine_spark.sources.segments import (
        load_segments,
        load_term_stats,
        read_manifest,
    )

    idx, m = _index(spark, sf_dir)
    if not read_manifest(idx).get("tombstones"):  # idempotent per process
        dead = (
            _docs(spark, sf_dir)
            .where(F.col("docId") % DELETE_MOD == 0)
            .select("docId")
        )
        D.add_tombstones(spark, idx, dead)
    out = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=TOPK, analyzer="naive", ties="asc",
        deleted=D.deleted_array(spark, idx),
    )
    return out.select(F.col("docId").alias("doc_id"), F.round("score", 6).alias("score"))


def _index_shingled(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Index with a bigram (shingle) pseudo-field over content next to the
    unigram terms — the phrase-acceleration index design (Lucene
    ShingleFilter / common-grams)."""
    key = (sf_dir, "naive-shingled")
    if key not in _INDEX_CACHE:
        from search_engine_spark.sources.segments import build_index

        idx = os.path.join(
            tempfile.gettempdir(),
            "se_idx_shingled_" + sf_dir.strip("/").replace("/", "_"),
        )
        import shutil

        shutil.rmtree(idx, ignore_errors=True)
        corpus = _docs(spark, sf_dir).withColumn("sh", F.col("content"))
        m = build_index(
            spark, corpus, idx, analyzer="naive",
            n_batches=2, num_segments=8, heavy_threshold=None, n_salts=4,
            fields={"sh": "shingle:naive"},
        )
        _INDEX_CACHE[key] = (idx, m)
    return _INDEX_CACHE[key]


def q_q5sh_phrase_shingled(spark, sf_dir):
    """q5sh: phrase search via the bigram shingle field — the L-1 (rarer)
    bigram posting lists intersect on shifted positions instead of the L
    unigram position lists (and a 2-token phrase would be a docId-only
    decode, zero position bytes). Results must equal the unigram positional
    phrase semantics — the oracle is the plain SQL consecutive-positions
    join."""
    from search_engine_spark.operators.query import search_phrase_shingled
    from search_engine_spark.sources.segments import load_segments

    idx, _ = _index_shingled(spark, sf_dir)
    out = search_phrase_shingled(
        load_segments(spark, idx), Q_SHINGLE_PHRASE, field="sh"
    )
    return out.select(F.col("docId").alias("doc_id"))


def q_q2s_synonym_search(spark, sf_dir):
    """q2s: query-time synonym expansion — each term becomes an OR-group
    (term + synonyms), groups AND together via one count-matching agg over
    a broadcast (term, gid) map (the search_fuzzy_and mechanism with a
    user-supplied expansion)."""
    from search_engine_spark.operators.query import search_synonyms

    out = search_synonyms(_postings(spark, sf_dir), Q_SYN_TERMS, Q_SYNONYMS)
    return out.select(F.col("docId").alias("doc_id"))


def q_q14r_range_facets(spark, sf_dir):
    """q14r: numeric histogram facet over the Q_KEYWORD result set —
    open-ended edge buckets, numeric (bucket, lo, hi) identity so the
    oracle compares float-exact."""
    from search_engine_spark.operators.query import range_facets, search_keyword

    hits = search_keyword(_postings(spark, sf_dir), Q_KEYWORD).select(
        F.col("docId").alias("doc_id")
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return range_facets(
        hits, d, RANGE_FACET_COL, RANGE_FACET_EDGES, id_col="doc_id"
    )


def q_q8c_collapse(spark, sf_dir):
    """q8c: field collapsing — best BM25 hit per source (windowless
    grouped_topk over the exhaustively scored result set), then the global
    top-COLLAPSE_K. Per-group ties break docId asc; oracle = row_number()
    per source over the identical scored CTE."""
    from search_engine_spark.operators.rank import (
        Scorer,
        collapse_results,
        score_query_daat,
    )
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index(spark, sf_dir)
    scored = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx),
        Q_RANKED, m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=None, analyzer="naive", ties="asc",
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("docId"), "source"
    )
    out = collapse_results(scored, d, "source", per_group=1, k=COLLAPSE_K)
    return out.select(
        F.col("docId").alias("doc_id"),
        "source",
        F.round("score", 6).alias("score"),
    )


def _index_dbq(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Own index copy for delete-by-query (mutating: tombstones committed),
    so the shared _index fixture's tombstone state stays b7's."""
    key = (sf_dir, "naive-dbq")
    if key not in _INDEX_CACHE:
        from search_engine_spark.operators.delete import delete_by_query
        from search_engine_spark.sources.segments import build_index, read_manifest

        idx = os.path.join(
            tempfile.gettempdir(),
            "se_idx_dbq_" + sf_dir.strip("/").replace("/", "_"),
        )
        import shutil

        shutil.rmtree(idx, ignore_errors=True)
        m = build_index(
            spark, _docs(spark, sf_dir), idx, analyzer="naive",
            n_batches=2, num_segments=8, heavy_threshold=None, n_salts=4,
        )
        if not read_manifest(idx).get("tombstones"):
            delete_by_query(spark, idx, DBQ_QUERY, analyzer="naive")
        _INDEX_CACHE[key] = (idx, m)
    return _INDEX_CACHE[key]


def q_b7q_delete_by_query(spark, sf_dir):
    """b7q: delete-by-query — tombstone every doc matching the boolean tree
    DBQ_QUERY (index-evaluated, leaf-term pushdown), then the q8 BM25
    top-10 with the deleted mask. Lazy-deletion semantics as b7: scoring
    stats stay as-built, deleted docs drop from the final ranking only."""
    from search_engine_spark.operators import delete as D
    from search_engine_spark.operators.rank import Scorer, score_query_daat
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, m = _index_dbq(spark, sf_dir)
    out = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx),
        Q_RANKED, m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=TOPK, analyzer="naive", ties="asc",
        deleted=D.deleted_array(spark, idx),
    )
    return out.select(
        F.col("docId").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_q8_bm25_batch_cached(spark, sf_dir):
    """q8 batched through the SERVING CACHE (operators/serving.py): the
    bucketized index is prepared once per generation as per-bucket Arrow
    IPC shards; the workload runs as parallelize(bucket ids) -> mmap shard
    -> accumulator kernel -> sharded packed merge. Same oracle SQL as
    q8_bm25_batch — the steady-state serving path is value-checked end to
    end."""
    from pyspark.sql import Window

    from search_engine_spark.operators.rank import Scorer
    from search_engine_spark.operators.serving import (
        prepare_serving_cache,
        score_queries_cached,
    )
    from search_engine_spark.sources.segments import load_term_stats_pdf

    idx, m = _index(spark, sf_dir)
    ckey = (sf_dir, "serving-cache")
    if ckey not in _INDEX_CACHE:
        _INDEX_CACHE[ckey] = (
            idx,
            prepare_serving_cache(spark, idx, idx + "_serving_cache", n_buckets=8),
        )
    cache = _INDEX_CACHE[ckey][1]
    # check_generation=False: b7's tombstone commit bumps the shared index's
    # generation without touching segments — the snapshot stays valid here
    out = score_queries_cached(
        spark, cache, load_term_stats_pdf(idx), BATCH_QUERIES,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=TOPK, analyzer="naive", ties="asc",
        check_generation=False,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docId"))
    return out.select(
        "qid",
        F.col("docId").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.row_number().over(w).alias("rank"),
    )


def q_q8_bm25_batch_refreshed(spark, sf_dir):
    """q8 batched through an INCREMENTALLY REFRESHED serving cache: the
    index is grown in two commits (even docIds, then odd docIds), the
    cache is prepared after the first and brought current with
    ``refresh_serving_cache`` after the second — so the workload scores
    base shards + appended delta shards together. Same oracle SQL as
    q8_bm25_batch over the FULL corpus: the incremental-ingest serving
    path (the 10^12-file micro-batch cadence) is value-checked end to
    end, stats (n_docs/avgdl/df) included."""
    import shutil

    from pyspark.sql import Window

    from search_engine_spark.operators.rank import Scorer
    from search_engine_spark.operators.serving import (
        prepare_serving_cache,
        refresh_serving_cache,
        score_queries_cached,
    )
    from search_engine_spark.sources.segments import (
        build_one_batch,
        finalize_index,
        load_term_stats_pdf,
    )

    ckey = (sf_dir, "serving-cache-refreshed")
    if ckey not in _INDEX_CACHE:
        idx = os.path.join(
            tempfile.gettempdir(),
            "se_idx_refresh_" + sf_dir.strip("/").replace("/", "_"),
        )
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(idx + "_cache", ignore_errors=True)
        docs = _docs(spark, sf_dir)
        kw = dict(analyzer="naive", num_segments=8, heavy_threshold=None,
                  n_salts=4)
        build_one_batch(spark, docs.where(F.col("docId") % 2 == 0), idx,
                        key="0", **kw)
        finalize_index(spark, idx)
        prepare_serving_cache(spark, idx, idx + "_cache", n_buckets=8)
        build_one_batch(spark, docs.where(F.col("docId") % 2 == 1), idx,
                        key="1", **kw)
        finalize_index(spark, idx)
        cache = refresh_serving_cache(spark, idx, idx + "_cache")
        assert any(
            len(fs) > 1 for fs in cache["shards"].values()
        ), "refresh produced no delta shards — the row would not exercise it"
        _INDEX_CACHE[ckey] = (idx, cache)
    idx, cache = _INDEX_CACHE[ckey]
    out = score_queries_cached(
        spark, cache, load_term_stats_pdf(idx), BATCH_QUERIES,
        scorer=Scorer("bm25", BM25_K1, BM25_B), k=TOPK, analyzer="naive",
        ties="asc",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docId"))
    return out.select(
        "qid",
        F.col("docId").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.row_number().over(w).alias("rank"),
    )


def q_q8x_explain_score(spark, sf_dir):
    """q8 explain (Lucene ``IndexSearcher.explain`` analog): one row per
    (docId, matched query term) exposing qtf/tf/dl/df/idf and the BM25
    contribution — SUM(contribution) GROUP BY docId reproduces the q8
    score. Oracle recomputes every factor independently in SQL over the
    same tokenization, so the whole factor decomposition is value-checked,
    not just the final score."""
    from search_engine_spark.operators.rank import Scorer, explain_score
    from search_engine_spark.sources.segments import (
        decode_postings,
        load_segments,
        load_term_stats,
    )

    idx, m = _index(spark, sf_dir)
    # term-pushdown decode: only the query terms' packed rows leave the
    # scan (naive analysis is identity on these lowercase tokens)
    out = explain_score(
        spark, decode_postings(load_segments(spark, idx), Q_RANKED),
        load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), analyzer="naive",
    )
    return out.select(
        F.col("docId").alias("doc_id"),
        "term",
        "qtf",
        "tf",
        "dl",
        "df",
        F.round("idf", 6).alias("idf"),
        F.round("contribution", 6).alias("contribution"),
    )


GRAPH_ROOT = os.path.join(tempfile.gettempdir(), "se_graph_io")


def q_s2_edge_scan(spark, sf_dir):
    """S2 edge-list scan (IcsSearchEngine.java:92-98 shape): write the
    deterministic synthetic graph as a real TSV, read it back through
    ``sources.graph.load_edge_list``, return per-node in-degrees. The oracle
    recomputes the edge formula directly, so the round-trip proves the TSV
    reader (schema, separator, int parsing) end-to-end."""
    from search_engine_spark.sources.graph import load_edge_list

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = d.count()
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * 7 + 1, F.lit(n)).alias("dst"),
        )
        .union(
            d.select(
                F.col("doc_id").alias("src"),
                F.pmod(F.col("doc_id") * 13 + 5, F.lit(n)).alias("dst"),
            )
        )
        .where(F.col("src") != F.col("dst"))
    )
    path = os.path.join(GRAPH_ROOT, os.path.basename(sf_dir.rstrip("/")), "edges")
    edges.write.mode("overwrite").option("sep", "\t").csv(path)
    back = load_edge_list(spark, path)
    return back.groupBy("dst").agg(F.count("*").cast("long").alias("indeg"))


def q_s3_url_map(spark, sf_dir):
    """S3 url-map scan (IcsSearchEngineTest.java:57-59 shape): synthesize
    (doc_id, url), TSV round-trip through ``load_url_map``."""
    from search_engine_spark.sources.graph import load_url_map

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id")).alias("url"),
    )
    path = os.path.join(GRAPH_ROOT, os.path.basename(sf_dir.rstrip("/")), "urls")
    urls.write.mode("overwrite").option("sep", "\t").csv(path)
    return load_url_map(spark, path)


WORDBREAK_ROOT = os.path.join(tempfile.gettempdir(), "se_wordbreak_ref")
LANGID_ROOT = os.path.join(tempfile.gettempdir(), "se_langid_ref")
CODESUB_ROOT = os.path.join(tempfile.gettempdir(), "se_codesub_ref")
JAPANESE_ROOT = os.path.join(tempfile.gettempdir(), "se_japanese_ref")
# Bound on the driver-side single-node reference runs (a7/a8 oracle side
# tables): they deliberately re-run the pytest-golden Python tokenizer on the
# driver, so cap the row count to keep the driver O(1)-ish at any sf. Both
# the Spark query and the oracle SQL apply the same predicate.
SIDE_DOC_CAP = 100_000


def q_a7_wordbreak(spark, sf_dir):
    """A7 DP word-break through the distributed pandas-UDF path (self-
    dictionary mode: each doc's concatenated text re-segmented against its
    own token frequencies — deterministic, no external dictionary data).

    Oracle construction: a SINGLE-NODE reference run of the same
    pytest-golden ``WordBreakTokenizer`` (tests/test_analyzers.py mirrors
    ``WordBreakTokenizerTest.java:23-35``) is written to a side parquet; the
    SQL joins it back on (doc_id, md5(text)). The check therefore proves the
    distributed UDF/Arrow path reproduces the single-node algorithm exactly;
    the algorithm itself is golden-tested against reference fixtures."""
    import hashlib

    import pandas as pd

    from search_engine_spark.functions.analyzers import tokens_column, wordbreak_selfdict

    pdf = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < SIDE_DOC_CAP)
        .toPandas()
    )
    wb = [wordbreak_selfdict(t) for t in pdf["text"]]
    ref = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "content_md5": [hashlib.md5(t.encode()).hexdigest() for t in pdf["text"]],
            "n_wb_tokens": [len(t) for t in wb],
            "tokens_md5": [hashlib.md5(" ".join(t).encode()).hexdigest() for t in wb],
        }
    )
    out = os.path.join(WORDBREAK_ROOT, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    ref.to_parquet(os.path.join(out, "ref.parquet"), index=False)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < SIDE_DOC_CAP
    )
    toks = tokens_column(F.col("text"), "wordbreak")
    return d.withColumn("_t", toks).select(
        "doc_id",
        F.size("_t").alias("n_wb_tokens"),
        F.md5(F.concat_ws(" ", "_t")).alias("tokens_md5"),
    )


def q_a10_code_subtokens(spark, sf_dir):
    """A10 (code payload): camel/snake sub-identifier analysis through the
    distributed Arrow analyzer path (functions/analyzers.py
    ``code_subtoken_tokenize`` — whole identifier + hump/underscore
    subtokens, no stop-wording; the Zoekt/OpenGrok-style indexing unit for
    source code). Oracle construction (a7-style): a single-node run of the
    SAME pure-Python tokenizer is written to a side parquet keyed by
    (doc_id, md5(text)); the check proves the distributed UDF path
    reproduces the single-node token stream exactly."""
    import hashlib

    import pandas as pd

    from search_engine_spark.functions.analyzers import (
        code_subtoken_tokenize,
        tokens_column,
    )

    pdf = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < SIDE_DOC_CAP)
        .toPandas()
    )
    toks = [code_subtoken_tokenize(t) for t in pdf["text"]]
    ref = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "content_md5": [hashlib.md5(t.encode()).hexdigest() for t in pdf["text"]],
            "n_sub_tokens": [len(t) for t in toks],
            "tokens_md5": [hashlib.md5(" ".join(t).encode()).hexdigest() for t in toks],
        }
    )
    out = os.path.join(CODESUB_ROOT, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    ref.to_parquet(os.path.join(out, "ref.parquet"), index=False)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < SIDE_DOC_CAP
    )
    toks_col = tokens_column(F.col("text"), "code_sub")
    return d.withColumn("_t", toks_col).select(
        "doc_id",
        F.size("_t").alias("n_sub_tokens"),
        F.md5(F.concat_ws(" ", "_t")).alias("tokens_md5"),
    )


SUBSTRING_NEEDLE = "merge batch"  # crosses a token boundary: not a term
REGEX_PATTERN = "merge [a-z]+ scan"
GREP_DELIM = "table "  # stand-in line delimiter (testdata docs are single-line)
SYMBOL_PATTERNS = {"fast": "fast ([a-z]+)", "slow": "slow ([a-z]+)"}


def _index_trigram(spark, sf_dir):
    """Trigram (substring) index over documents — positions are meaningless
    for membership trigrams and tf==1 by construction, so the build runs in
    membership mode (empty tf/dl blobs, measured 2.7x payload reduction on
    dense ids) — every q2t*/q2rx/q17 oracle row exercises that format."""
    return _index(
        spark, sf_dir, analyzer="trigram", with_positions=False,
        membership=True,
    )


def q_q2t_substring(spark, sf_dir):
    """q2t: byte-exact substring search through the trigram index
    (operators/codesearch.py — Zoekt/Google-Code-Search shape: rarest-K
    trigram intersection prunes, JVM contains() verifies). The needle spans
    a token boundary, so no analyzed-term query could answer it — this is
    the capability the trigram index exists for."""
    from search_engine_spark.operators.codesearch import search_substring
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index_trigram(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    corpus = _docs(spark, sf_dir)
    return search_substring(segs, corpus, SUBSTRING_NEEDLE, ts).select(
        F.col("docId").alias("doc_id")
    )


def q_q2rx_regex_content(spark, sf_dir):
    """q2rx: regex search over raw content — required-literal trigrams
    prune via the index, rlike verifies (codesearch.required_trigrams is
    conservative: it would full-scan rather than over-prune)."""
    from search_engine_spark.operators.codesearch import search_regex_content
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index_trigram(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    corpus = _docs(spark, sf_dir)
    return search_regex_content(segs, corpus, REGEX_PATTERN, ts).select(
        F.col("docId").alias("doc_id")
    )


def q_q17_grep_lines(spark, sf_dir):
    """q17: grep serving shape — per matched doc, 1-based line number +
    line text containing the needle; hits come from the trigram substring
    path. The testdata docs are single-line, so the delimiter parameter
    stands in to exercise real multi-line splitting."""
    from search_engine_spark.operators.codesearch import (
        grep_lines,
        search_substring,
    )
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index_trigram(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    corpus = _docs(spark, sf_dir)
    hits = search_substring(segs, corpus, SUBSTRING_NEEDLE, ts)
    return grep_lines(corpus, hits, SUBSTRING_NEEDLE, delimiter=GREP_DELIM).select(
        F.col("docId").alias("doc_id"), "line_no", "col_no", "line"
    )


BATCH_NEEDLES = {0: "merge batch", 1: "le sc", 2: "ta", 3: "zzqx-never"}


def q_q2tb_substring_batch(spark, sf_dir):
    """q2tb: batched substring serving — Q needles in ONE job (shared
    In-pushed probe decode, broadcast (term, qid) fanout, one count-matching
    agg, one hydrate+verify). Workload includes a boundary-crossing needle,
    a short-needle scan fallback, and a provably-empty needle."""
    from search_engine_spark.operators.codesearch import search_substring_batch
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index_trigram(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    corpus = _docs(spark, sf_dir)
    return search_substring_batch(segs, corpus, BATCH_NEEDLES, ts).select(
        "qid", F.col("docId").alias("doc_id")
    )


BATCH_PATTERNS = {
    0: "merge [a-z]+ scan",     # prunable (literal runs >= 3 chars)
    1: "(table|spark) scan",    # alternation -> shared full-scan fallback
    2: "windowzz+",             # prunable, provably empty (trigram absent)
}


def q_q2rb_regex_batch(spark, sf_dir):
    """q2rb: batched regex serving — prunable patterns share the substring
    batch's indexed plan (CASE-chain rlike verify); unprunable ones share
    ONE corpus scan (exploded CASE cells)."""
    from search_engine_spark.operators.codesearch import search_regex_batch
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index_trigram(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    corpus = _docs(spark, sf_dir)
    return search_regex_batch(segs, corpus, BATCH_PATTERNS, ts).select(
        "qid", F.col("docId").alias("doc_id")
    )


def q_q2tc_match_counts(spark, sf_dir):
    """q2tc: grep -c shape — occurrence counts per matching doc (length
    arithmetic, no regex engine), over the trigram substring hits."""
    from search_engine_spark.operators.codesearch import (
        count_matches,
        search_substring,
    )
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    idx, _ = _index_trigram(spark, sf_dir)
    segs, ts = load_segments(spark, idx), load_term_stats(spark, idx)
    corpus = _docs(spark, sf_dir)
    hits = search_substring(segs, corpus, SUBSTRING_NEEDLE, ts)
    return count_matches(corpus, hits, SUBSTRING_NEEDLE).select(
        F.col("docId").alias("doc_id"), "n_matches"
    )


def q_sym1_symbols(spark, sf_dir):
    """sym1: ctags-lite definition-site extraction (codesearch.
    extract_symbols) — per-kind regexp_extract_all, stack-unpivot, explode;
    pure codegen projections. Kinds are configurable patterns; the testdata
    corpus has no def/class keywords, so keyword-shaped bigrams stand in."""
    from search_engine_spark.operators.codesearch import extract_symbols

    return extract_symbols(_docs(spark, sf_dir), SYMBOL_PATTERNS).select(
        F.col("docId").alias("doc_id"), "kind", "symbol"
    )


def q_b8_dense_docids(spark, sf_dir):
    """Dense docId assignment (corpus.dense_doc_ids): ids are exactly
    0..n-1 in global (repo, path, commit) order — the 10^12-file-scale
    alternative to hashed clustered ids (doc_id_expr docstring), two narrow
    mapInPandas passes over a range-partitioned sort, driver sees one count
    row per partition. SQL-equivalent: row_number() over a global order,
    which is exactly the oracle."""
    from search_engine_spark.sources.corpus import dense_doc_ids, load_documents

    c = load_documents(spark, sf_dir).select(
        "repo", "path", "commit", F.col("docId").alias("orig_id")
    )
    out = dense_doc_ids(c, num_partitions=8)
    return out.select(
        F.col("docId").alias("dense_id"),
        F.col("orig_id").alias("doc_id"),
        "repo",
    )


def q_a8_japanese(spark, sf_dir):
    """A8 CJK dictionary analyzer (JapaneseTokenizer.java:19-84 +
    JapaneseStopWords.java) through the distributed pandas-UDF path.

    Input texts are synthesized deterministically per doc_id from the
    committed CJK fixture dictionary (cjk.jp_text_for — always segmentable,
    stop words mixed in so removal is exercised). Oracle construction
    mirrors a7: a SINGLE-NODE run of the same pytest-golden JapaneseTokenizer
    is written to a side parquet together with the input text; the Spark
    query re-reads the text column and tokenizes it DISTRIBUTED via the
    registered "japanese" analyzer UDF, so the check proves the Arrow/UDF
    path reproduces the single-node DP + stop-word semantics exactly."""
    import hashlib

    import pandas as pd

    from search_engine_spark.functions.analyzers import (
        JapaneseTokenizer,
        make_analyzer_udf,
    )
    from search_engine_spark.functions.cjk import jp_text_for

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .where(F.col("doc_id") < SIDE_DOC_CAP)
        .toPandas()["doc_id"]
    )
    tok = JapaneseTokenizer()
    texts = [jp_text_for(int(i)) for i in ids]
    toks = [tok.tokenize(t) for t in texts]
    ref = pd.DataFrame(
        {
            "doc_id": ids,
            "jp_text": texts,
            "n_jp_tokens": [len(t) for t in toks],
            "tokens_md5": [hashlib.md5(" ".join(t).encode()).hexdigest() for t in toks],
        }
    )
    out = os.path.join(JAPANESE_ROOT, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    ref.to_parquet(os.path.join(out, "ref.parquet"), index=False)

    side = spark.read.parquet(os.path.join(out, "ref.parquet")).select(
        "doc_id", "jp_text"
    )
    jp = make_analyzer_udf("japanese")(F.col("jp_text"))
    return side.withColumn("_t", jp).select(
        "doc_id",
        F.size("_t").alias("n_jp_tokens"),
        F.md5(F.concat_ws(" ", "_t")).alias("tokens_md5"),
    )


def q_q8_bm25_porter(spark, sf_dir):
    """BM25 top-10 through the FLAGSHIP analyzer chain (A3 punctuation
    tokenize -> A4 stopwords -> A5 porter stem, composed per A6
    ComposableAnalyzer.java:13-23 / Team2StressTest.java:30-31) and the full
    segment + DAAT path. Also writes the porter-postings side
    table the oracle scores independently."""
    from search_engine_spark.operators.rank import Scorer, score_query_daat
    from search_engine_spark.sources.segments import load_segments, load_term_stats

    _write_porter_side_table(spark, sf_dir)
    idx, m = _index(spark, sf_dir, analyzer="porter")
    out = score_query_daat(
        spark, load_segments(spark, idx), load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("bm25", BM25_K1, BM25_B), k=TOPK, analyzer="porter", ties="asc",
    )
    return out.select(F.col("docId").alias("doc_id"), F.round("score", 6).alias("score"))


def q_q9_pagerank(spark, sf_dir):
    """PageRank over a deterministic synthetic link graph, value-checked
    against an unrolled-CTE power iteration in the oracle SQL. Scores round
    to 4 decimals on BOTH sides before the top-k sort: Spark and DuckDB sum
    float contributions in different orders, so ~1e-13 ulp noise near a
    rounding boundary must not flip the last digit (6-decimal rounding left
    a ~2e-7/value flake window)."""
    from search_engine_spark.operators.pagerank import compute_pagerank

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("docId")
    )
    n = d.count()
    edges = d.select(
        F.col("docId").alias("src"),
        F.pmod(F.col("docId") * 7 + 1, F.lit(n)).alias("dst"),
    ).union(
        d.select(
            F.col("docId").alias("src"),
            F.pmod(F.col("docId") * 13 + 5, F.lit(n)).alias("dst"),
        )
    ).where(F.col("src") != F.col("dst"))
    pr = compute_pagerank(d, edges, num_iterations=20)
    return pr.select(
        F.col("docId").alias("doc_id"), F.round("pagerank", 4).alias("pagerank")
    ).orderBy(F.desc("pagerank"), F.asc("doc_id")).limit(TOPK)


def q_q1_full_scan(spark, sf_dir):
    """Q1 FullScanSearcher oracle path: analyze every doc, keep docs whose
    token set contains ALL query tokens (FullScanSearcher.java:27-40)."""
    from search_engine_spark.operators.query import full_scan_search

    return full_scan_search(_docs(spark, sf_dir), Q_AND, analyzer="naive").select(
        F.col("docId").alias("doc_id")
    )


def q_s4_doc_fetch(spark, sf_dir):
    """S4 doc hydration: semi-join matched docIds back to content
    (IIM:720-726); md5 proves the fetched bytes equal the source."""
    from search_engine_spark.operators.query import fetch_documents, search_and

    d = _docs(spark, sf_dir)
    hits = search_and(_postings(spark, sf_dir), Q_AND)
    return fetch_documents(hits, d).select(
        F.col("docId").alias("doc_id"), F.md5("content").alias("content_md5")
    )


def q_st1_windowed_events(spark, sf_dir):
    """Streaming-shaped tumbling-window aggregation over the events table
    (batch run of the same window expression used in streaming.ingest)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_q11_combined(spark, sf_dir):
    """Q11 combined PageRank + TF-IDF ranking (ICS:184-199) — rows-only
    (depends on iterative PageRank)."""
    from search_engine_spark.operators.pagerank import combined_search, compute_pagerank
    from search_engine_spark.operators.rank import Scorer, score_query
    from search_engine_spark.sources.segments import (
        decode_postings,
        load_segments,
        load_term_stats,
    )

    idx, m = _index(spark, sf_dir)
    dec = decode_postings(load_segments(spark, idx))
    scores = score_query(
        spark, dec, load_term_stats(spark, idx), Q_RANKED,
        m["stats"]["n_docs"], m["stats"]["avgdl"],
        Scorer("tfidf_cosine"), k=None, analyzer="naive", ties="asc",
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("docId")
    )
    n = d.count()
    edges = d.select(
        F.col("docId").alias("src"),
        F.pmod(F.col("docId") * 7 + 1, F.lit(n)).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    pr = compute_pagerank(d, edges, num_iterations=10)
    # 4-decimal rounding before the top-k sort: same cross-engine float-noise
    # rationale as q9 (iterative PageRank feeds this score)
    out = combined_search(scores, pr, k=TOPK, weight=2.0, round_scores=4)
    return out.select(F.col("docId").alias("doc_id"), F.col("score"))


def q_q12_doc_iteration(spark, sf_dir):
    """Q12 ``documentIterator`` (IIM:905-938): every doc in docId order. The
    driver's value compare is order-insensitive, so the ORDER itself is
    captured as a ``row_number`` column and verified by the hash."""
    from pyspark.sql.window import Window

    from search_engine_spark.operators.query import document_iterator

    it = document_iterator(_docs(spark, sf_dir))
    return it.select(
        F.col("docId").alias("doc_id"), F.md5("content").alias("content_md5")
    ).withColumn("rank", F.row_number().over(Window.orderBy("doc_id")))


def q_d1_exact_dedup(spark, sf_dir):
    from search_engine_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(d, text="text", id_col="doc_id")


def q_d2_minhash_pairs(spark, sf_dir):
    from search_engine_spark.operators.dedup import (
        candidate_pairs,
        lsh_buckets,
        minhash_signatures,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(d, "text", "doc_id", MINHASHES, SHINGLE_N)
    return candidate_pairs(lsh_buckets(sigs, "doc_id", BANDS, ROWS_PER_BAND), "doc_id")


def q_d6_dedup_clusters(spark, sf_dir):
    """d6: duplicate-cluster assignment + keep/drop over the same MinHash
    LSH candidate pairs as d2 (connected components by min-label
    propagation; ``dedup.dedup_clusters``). Oracle = recursive-CTE
    transitive closure over the identical pair set — min reachable id per
    node, singletons keep themselves."""
    from search_engine_spark.operators.dedup import (
        candidate_pairs,
        dedup_clusters,
        lsh_buckets,
        minhash_signatures,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(d, "text", "doc_id", MINHASHES, SHINGLE_N)
    pairs = candidate_pairs(lsh_buckets(sigs, "doc_id", BANDS, ROWS_PER_BAND), "doc_id")
    cl = dedup_clusters(d, pairs, id_col="doc_id")
    return cl.select(
        "doc_id", "cluster_id", F.col("keep").cast("int").alias("keep")
    )


def q_d3_simhash(spark, sf_dir):
    from search_engine_spark.operators.dedup import simhash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(d, "text", "doc_id", SIMHASH_BITS)


def q_d4_jaccard(spark, sf_dir):
    from search_engine_spark.operators.dedup import (
        candidate_pairs,
        lsh_buckets,
        minhash_signatures,
        ngram_jaccard,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(d, "text", "doc_id", MINHASHES, SHINGLE_N)
    pairs = candidate_pairs(lsh_buckets(sigs, "doc_id", BANDS, ROWS_PER_BAND), "doc_id")
    j = ngram_jaccard(d, pairs, "text", "doc_id", SHINGLE_N)
    return j.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_e1_cosine_topk(spark, sf_dir):
    from search_engine_spark.operators.similarity import cosine_topk

    e = _emb(spark, sf_dir)
    qv = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = cosine_topk(e.where(F.col("vec_id") != 0), list(qv), ANN_K)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_e2_lsh_topk(spark, sf_dir):
    from search_engine_spark.operators.similarity import lsh_topk

    e = _emb(spark, sf_dir)
    qv = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = lsh_topk(e.where(F.col("vec_id") != 0), list(qv), ANN_K, n_planes=N_PLANES, seed=PLANE_SEED)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_d5_embedding_neardup(spark, sf_dir):
    from search_engine_spark.operators.dedup import embedding_near_dups

    e = _emb(spark, sf_dir)
    out = embedding_near_dups(e, NEARDUP_TAU, n_planes=N_PLANES, seed=PLANE_SEED)
    return out.select("a", "b", F.round("cosine", 6).alias("cosine"))


def q_t5_stratified_sample(spark, sf_dir):
    """t5: deterministic per-language Bernoulli sample (training-data
    mixing). Pure projection+filter, no shuffle; ticket = h64(salt:id)
    mod 1e6 mirrored verbatim in the oracle."""
    from search_engine_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(
        d, {"en": 0.5, "zh": 0.3}, strata_col="lang", id_col="doc_id",
        salt="v1", default_rate=0.1,
    )
    return out.select("doc_id", "lang")


def q_t6_token_budget(spark, sf_dir):
    """t6: per-language token-budget cap — keep each language's docs in
    deterministic (ticket, id) order while the running BPE-token total
    stays within budget. Distributed two-phase prefix sum (bucketed
    windows, no whole-stratum reducer)."""
    from search_engine_spark.operators.sampling import token_budget_sample
    from search_engine_spark.operators.textstats import bpe_token_count_expr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "n_tokens", bpe_token_count_expr(F.col("text")).cast("long")
    )
    out = token_budget_sample(
        d, {"en": 5000, "es": 2000, "zh": 1000}, token_col="n_tokens",
        strata_col="lang", id_col="doc_id", salt="v1", n_buckets=8,
        default_budget=0,
    )
    return out.select("doc_id", "lang", "n_tokens")


def q_t1_lang_id(spark, sf_dir):
    from search_engine_spark.operators.textstats import lang_id

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_id(d, "text", "doc_id")


def q_t1b_lang_id_nb(spark, sf_dir):
    """Model-shaped language ID: hashed char-trigram multinomial Naive
    Bayes trained on the committed fixture
    (search_engine_spark/functions/data/langid_train.tsv), scored by a
    vectorized pandas UDF (functions/langid.py — the exact UDF shape a
    fastText-grade model swap needs; held-out accuracy in BENCH.md).

    Oracle construction (a7-style): a single-node run of the SAME model's
    ``predict_pdf`` is written to a side parquet keyed by (doc_id,
    md5(text)); the check proves the distributed Arrow/UDF path reproduces
    the single-node scorer bit-exactly (identical per-row accumulation
    order, see langid.py docstring)."""
    import hashlib

    import pandas as pd

    from search_engine_spark.functions.langid import default_model, lang_id_nb

    pdf = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < SIDE_DOC_CAP)
        .toPandas()
    )
    pred = default_model().predict_pdf(pdf["text"])
    ref = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "content_md5": [hashlib.md5(t.encode()).hexdigest() for t in pdf["text"]],
            "lang_nb": list(pred),
        }
    )
    out = os.path.join(LANGID_ROOT, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    ref.to_parquet(os.path.join(out, "ref.parquet"), index=False)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < SIDE_DOC_CAP
    )
    return lang_id_nb(d, "text", "doc_id")


def q_t10_pii_scrub(spark, sf_dir):
    """t10: PII redaction (emails + phone numbers counted and stripped).
    The synthetic corpus has no organic PII, so the query plants
    deterministic PII derived from doc_id on both the Spark and oracle
    sides, then proves the scrub removes it (md5 of the scrubbed text)."""
    from search_engine_spark.operators.textstats import pii_scrub

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    phone = F.format_string(
        "555-%03d-%04d",
        (F.col("doc_id") % 1000).cast("int"),
        (F.col("doc_id") % 10000).cast("int"),
    )
    aug = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("call "), phone)).otherwise(
                F.lit("no phone")
            ),
        ).alias("text"),
    )
    out = pii_scrub(aug, "text", "doc_id")
    return out.select(
        "doc_id", "n_email", "n_phone", F.md5("scrubbed").alias("scrubbed_md5")
    )


def q_st2_user_sessions(spark, sf_dir):
    """st2: gap-based sessionization of the events stream (Structured
    Streaming ``session_window``, run here in its batch-equivalent mode —
    exactly like st1's windowed aggregation)."""
    from search_engine_spark.streaming.ingest import user_sessions

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return user_sessions(e, gap="30 minutes")


def q_st3_trending_terms(spark, sf_dir):
    """st3: trending terms per SLIDING window — top-3 event types per
    1-hour window sliding every 30 minutes, via the watermarkable
    sliding-window count composed with the windowless grouped_topk."""
    from search_engine_spark.streaming.ingest import trending_terms

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trending_terms(e, window="1 hour", slide="30 minutes", top_k=3)


def q_t11_sequence_pack(spark, sf_dir):
    """t11: sequence packing — docs (in doc_id order, BPE-proxy token
    counts) assigned to fixed 2048-token training bins by exclusive running
    total, via the bucketed two-phase distributed prefix sum."""
    from search_engine_spark.operators.sampling import sequence_pack
    from search_engine_spark.operators.textstats import bpe_token_count_expr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", bpe_token_count_expr(F.col("text")).cast("long").alias("n_tokens")
    )
    return sequence_pack(d, capacity=2048)


def q_t12_domain_mix(spark, sf_dir):
    """t12: domain mixing — deterministically down-sample sources toward
    MIX_TARGETS proportions (rates derived from observed counts, then the
    zero-shuffle ticket filter of t5)."""
    from search_engine_spark.operators.sampling import mix_to_target

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mix_to_target(d, MIX_TARGETS, strata_col="source", id_col="doc_id").select(
        "doc_id", "source"
    )


def q_t2_quality(spark, sf_dir):
    from search_engine_spark.operators.textstats import quality_score

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_score(d, "text", "doc_id")


def q_t8_repetition(spark, sf_dir):
    """t8: Gopher-style repetition signals (top-bigram coverage, duplicate
    trigram fraction, removal flag) — the repetitious-document filter of an
    LLM training pipeline, over the documents table."""
    from search_engine_spark.operators.textstats import repetition_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(d, "text", "doc_id")


def q_d7_decontaminate(spark, sf_dir):
    """d7: benchmark decontamination — flag corpus docs sharing any word
    8-gram with the held-out benchmark slice (doc_id % 97 == 0), the
    train/test-overlap removal step (GPT-3 appendix-C family)."""
    from search_engine_spark.operators.dedup import decontaminate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "text", "doc_id", ngram_n=8)


def q_t3_fingerprint(spark, sf_dir):
    from search_engine_spark.operators.textstats import fingerprint

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint(d, "text", "doc_id", SHINGLE_N)


def q_t4_bpe_tokens(spark, sf_dir):
    """BPE-ish pre-token count (letter runs / digit runs / single symbols)
    — the cheap LLM-token-budget proxy over the documents table."""
    from search_engine_spark.operators.textstats import bpe_token_count_expr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", bpe_token_count_expr(F.col("text")).alias("n_bpe_tokens"))


def q_e3_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: deterministic coarse quantizer (lowest-id vectors as
    the codebook), argmax-dot assignment, nprobe nearest cells probed, exact
    cosine inside — the brief's IVF scale path next to the LSH one (e2)."""
    from search_engine_spark.operators.similarity import ivf_topk

    e = _emb(spark, sf_dir)
    qv = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = ivf_topk(
        e.where(F.col("vec_id") != 0), list(qv), ANN_K,
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_m1_media_meta(spark, sf_dir):
    from search_engine_spark.operators.multimodal import attach_media

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return attach_media(d, "text", "doc_id").select(
        F.col("docId").alias("doc_id"), "mime", "payload_size", "payload_sha256"
    )


def q_m2_media_features(spark, sf_dir):
    """Binary decode / feature-extract plumbing. The stub decoder derives
    features arithmetically from the payload sha256 (multimodal.py), so the
    oracle value-checks the whole mapInPandas path: frame count, dim, and
    three probe feature values."""
    from search_engine_spark.operators.multimodal import attach_media, extract_features

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = extract_features(attach_media(d, "text", "doc_id"))
    probe = lambda i: F.round(F.element_at("feature", i + 1).cast("double"), 6)
    return feats.select(
        F.col("docId").alias("doc_id"),
        F.col("n_frames").cast("int").alias("n_frames"),
        F.size("feature").alias("dim"),
        probe(0).alias("f0"),
        probe(8).alias("f8"),
        probe(15).alias("f15"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- keys without driver-run correctness evidence yet, FIRST:
        # the driver consumes this dict in order and may stop at its
        # per-round budget (r04 reached 50/91), so never-verified keys
        # must not sit behind already-green ones.
        "d7_decontaminate": q_d7_decontaminate,
        "t8_repetition_stats": q_t8_repetition,
        "t10_pii_scrub": q_t10_pii_scrub,
        "t11_sequence_pack": q_t11_sequence_pack,
        "t12_domain_mix": q_t12_domain_mix,
        "st2_user_sessions": q_st2_user_sessions,
        "st3_trending_terms": q_st3_trending_terms,
        "q6c_complete": q_q6c_complete,
        "q30_rescore_vector": q_q30_rescore_vector,
        "q28_significant_terms": q_q28_significant_terms,
        "q29_decay_score": q_q29_decay_score,
        "q14s_stats_agg": q_q14s_stats_agg,
        "q14p_percentiles": q_q14p_percentiles,
        "q14d_date_histogram": q_q14d_date_histogram,
        "q27_rescore_phrase": q_q27_rescore_phrase,
        "q22_min_should_match": q_q22_min_should_match,
        "q23_highlight": q_q23_highlight,
        "q24_span_first": q_q24_span_first,
        "q25_dismax": q_q25_dismax,
        "q26_percolate": q_q26_percolate,
        "q19_ranked_parsed": q_q19_ranked_parsed,
        "q19b_boosted_parsed": q_q19b_boosted_parsed,
        "q20_fielded_phrase": q_q20_fielded_phrase,
        "q21_wildcard_parsed": q_q21_wildcard_parsed,
        "q18_parsed_query": q_q18_parsed_query,
        "q14r_range_facets": q_q14r_range_facets,
        "q8c_collapse_by_source": q_q8c_collapse,
        "q8_bm25_porter": q_q8_bm25_porter,
        "a7_wordbreak": q_a7_wordbreak,
        "a10_code_subtokens": q_a10_code_subtokens,
        "q2t_substring_search": q_q2t_substring,
        "q2rx_regex_search": q_q2rx_regex_content,
        "q17_grep_lines": q_q17_grep_lines,
        "q2tb_substring_batch": q_q2tb_substring_batch,
        "q2rb_regex_batch": q_q2rb_regex_batch,
        "q2tc_match_counts": q_q2tc_match_counts,
        "sym1_symbols": q_sym1_symbols,
        "a8_japanese": q_a8_japanese,
        "b8_dense_docids": q_b8_dense_docids,
        "q9_pagerank": q_q9_pagerank,
        "q12_doc_iteration": q_q12_doc_iteration,
        "d1_exact_dedup": q_d1_exact_dedup,
        "d2_minhash_pairs": q_d2_minhash_pairs,
        "d6_dedup_clusters": q_d6_dedup_clusters,
        "d3_simhash": q_d3_simhash,
        "d4_ngram_jaccard": q_d4_jaccard,
        "d5_embedding_neardup": q_d5_embedding_neardup,
        "e1_cosine_topk": q_e1_cosine_topk,
        "e2_lsh_topk": q_e2_lsh_topk,
        "e3_ivf_topk": q_e3_ivf_topk,
        "t4_bpe_tokens": q_t4_bpe_tokens,
        "t5_stratified_sample": q_t5_stratified_sample,
        "t6_token_budget": q_t6_token_budget,
        "t1_lang_id": q_t1_lang_id,
        "t1b_lang_id_nb": q_t1b_lang_id_nb,
        "t2_quality_score": q_t2_quality,
        "t3_fingerprint": q_t3_fingerprint,
        "m1_media_meta": q_m1_media_meta,
        "m2_media_features": q_m2_media_features,
        # --- driver-verified green in CORRECTNESS_r04:
        "s1_scan_filter_project": q_s1_scan,
        "s2_edge_scan": q_s2_edge_scan,
        "s3_url_map": q_s3_url_map,
        "a2_token_count": q_a2_token_count,
        "b1_postings": q_b1_postings,
        "b3_term_stats": q_b3_term_stats,
        "q7_corpus_stats": q_q7_corpus_stats,
        "q2_keyword_search": q_q2_keyword,
        "q2fl_field_search": q_q2fl_field_search,
        "q2r_regex_search": q_q2r_regex_search,
        "q16_hybrid_rrf": q_q16_hybrid_rrf,
        "q3b_bool_tree": q_q3b_bool_tree,
        "q5s_sloppy_phrase": q_q5s_sloppy_phrase,
        "q8flt_filtered_bm25": q_q8flt_filtered_bm25,
        "q8f_fielded_bm25": q_q8f_fielded_bm25,
        "q3_and_search": q_q3_and,
        "q4_or_search": q_q4_or,
        "q5_phrase_search": q_q5_phrase,
        "q2p_prefix_search": q_q2p_prefix,
        "q2f_fuzzy_search": q_q2f_fuzzy,
        "q3f_fuzzy_and_search": q_q3f_fuzzy_and,
        "q14_facet_counts": q_q14_facets,
        "q8m_more_like_this": q_q8m_more_like_this,
        "t9_grouped_topk": q_t9_grouped_topk,
        "q15_related_terms": q_q15_related_terms,
        "q11b_boosted_bm25": q_q11b_boosted,
        "q8p_search_after": q_q8p_page2,
        "q6s_suggest_terms": q_q6s_suggest,
        "q3n_and_not_search": q_q3n_and_not,
        "q5w_proximity_search": q_q5w_proximity,
        "t7_snippets": q_t7_snippets,
        "e4_pq_topk": q_e4_pq_topk,
        "e5_ivfpq_topk": q_e5_ivfpq_topk,
        "e6_ivfpq_residual_topk": q_e6_ivfpq_residual,
        "q1_full_scan": q_q1_full_scan,
        "s4_doc_fetch": q_s4_doc_fetch,
        "st1_windowed_events": q_st1_windowed_events,
        "q11_combined_pagerank": q_q11_combined,
        "q8_tfidf_scores": q_q8_tfidf,
        "q8_bm25_topk": q_q8_bm25_topk,
        "q8s_sharded_bm25": q_q8s_sharded_bm25,
        "q8_bm25_batch": q_q8_bm25_batch,
        "q8_bm25_batch_daat": q_q8_bm25_batch_daat,
        "q8_bm25_batch_cached": q_q8_bm25_batch_cached,
        "q8_bm25_batch_refreshed": q_q8_bm25_batch_refreshed,
        "q8x_explain_score": q_q8x_explain_score,
        "b7_delete_search": q_b7_delete_search,
        "b7q_delete_by_query": q_b7q_delete_by_query,
        "q5sh_phrase_shingles": q_q5sh_phrase_shingled,
        "q2s_synonym_search": q_q2s_synonym_search,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB). Shared CTE fragments mirror the Spark expressions.

_TOKS = r"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos, len(t) AS dl
  FROM toks
),
postings AS (
  SELECT term, doc_id, count(*)::int AS tf, any_value(dl) AS dl
  FROM tok GROUP BY term, doc_id
)
"""

_SHINGLES = rf"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
shingle_lists AS (
  SELECT doc_id,
    list_sort(list_distinct(list_transform(
      generate_series(1, greatest(len(t) - {SHINGLE_N - 1}, 0)),
      i -> concat_ws(' ', t[i], t[i+1], t[i+2])
    ))) AS sh
  FROM toks
)
"""


def _h64(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::int64"


def _minhash_ctes() -> str:
    from search_engine_spark.operators.dedup import MINHASH_P, minhash_coeffs

    mh_mins = ",\n    ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P})) AS mh{j}"
        for j, (a, b) in enumerate(minhash_coeffs(MINHASHES))
    )
    band_selects = []
    for b in range(BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}::varchar" for r in range(ROWS_PER_BAND)]
        bucket = _h64(f"concat_ws('_', '{b}', {', '.join(cols)})")
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {bucket} AS bucket FROM mh"
        )
    return f"""
mh AS (
  SELECT doc_id, {mh_mins}
  FROM (
    SELECT doc_id, list_transform(sh, s -> {_h64("s")} % {MINHASH_P}) AS hs
    FROM shingle_lists WHERE len(sh) > 0
  )
),
buckets AS (
  {' UNION ALL '.join(band_selects)}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM buckets x JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
)
"""


def _qterm_values(terms: list[str]) -> str:
    from collections import Counter

    c = Counter(t.lower() for t in terms)
    return ", ".join(f"('{t}', {n})" for t, n in sorted(c.items()))


def _bm25_scored_ctes(qvals: str) -> str:
    """BM25 scoring CTEs over a `postings(term, doc_id, tf, dl)` relation —
    shared by the naive and porter oracle variants. dlsum = Σ tf over
    postings ≡ total token count (exact integer sum, engine-independent)."""
    return f"""qterms(qt, qtf) AS (VALUES {qvals}),
ndocs AS (SELECT count(*)::double AS n FROM documents),
dlsum AS (SELECT sum(tf)::double AS tot FROM postings),
stats AS (SELECT ndocs.n AS n, dlsum.tot / ndocs.n AS avgdl FROM ndocs, dlsum),
tstats AS (
  SELECT term, count(*)::double AS df FROM postings GROUP BY term
),
scored AS (
  SELECT p.doc_id,
    sum(q.qtf * ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
        * p.tf * ({BM25_K1} + 1.0)
        / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.dl / s.avgdl))
        ORDER BY p.term) AS score
  FROM postings p
  JOIN qterms q ON p.term = q.qt
  JOIN tstats t ON p.term = t.term
  CROSS JOIN stats s
  GROUP BY p.doc_id
)"""


_BM25_SQL = f"""
WITH {_TOKS},
{_bm25_scored_ctes(_qterm_values(Q_RANKED))}
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""

# q25: same per-(doc, term) contribution as _bm25_scored_ctes, aggregated
# dismax-style (max + tie * (sum - max)) instead of summed.
_DISMAX_SQL = f"""
WITH {_TOKS},
qterms(qt, qtf) AS (VALUES {_qterm_values(Q_RANKED)}),
ndocs AS (SELECT count(*)::double AS n FROM documents),
dlsum AS (SELECT sum(tf)::double AS tot FROM postings),
stats AS (SELECT ndocs.n AS n, dlsum.tot / ndocs.n AS avgdl FROM ndocs, dlsum),
tstats AS (
  SELECT term, count(*)::double AS df FROM postings GROUP BY term
),
contrib AS (
  SELECT p.doc_id, p.term,
    q.qtf * ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
        * p.tf * ({BM25_K1} + 1.0)
        / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.dl / s.avgdl)) AS c
  FROM postings p
  JOIN qterms q ON p.term = q.qt
  JOIN tstats t ON p.term = t.term
  CROSS JOIN stats s
),
scored AS (
  SELECT doc_id,
    max(c) + {DISMAX_TIE} * (sum(c ORDER BY term) - max(c)) AS score
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""

def _batch_qterm_values() -> str:
    from collections import Counter

    vals = []
    for qid, kws in sorted(BATCH_QUERIES.items()):
        c = Counter(t.lower() for t in kws)
        vals.extend(f"({qid}, '{t}', {n})" for t, n in sorted(c.items()))
    return ", ".join(vals)


# Batch workload: same scoring expression as _BM25_SQL with qid threaded
# through the join + group keys; per-qid top-k via row_number (ranked on the
# raw score, rounded after — the q8 convention).
_BM25_BATCH_SQL = f"""
WITH {_TOKS},
qterms(qid, qt, qtf) AS (VALUES {_batch_qterm_values()}),
ndocs AS (SELECT count(*)::double AS n FROM documents),
dlsum AS (SELECT sum(tf)::double AS tot FROM postings),
stats AS (SELECT ndocs.n AS n, dlsum.tot / ndocs.n AS avgdl FROM ndocs, dlsum),
tstats AS (SELECT term, count(*)::double AS df FROM postings GROUP BY term),
scored AS (
  SELECT q.qid, p.doc_id,
    sum(q.qtf * ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
        * p.tf * ({BM25_K1} + 1.0)
        / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.dl / s.avgdl))
        ORDER BY p.term) AS score
  FROM postings p
  JOIN qterms q ON p.term = q.qt
  JOIN tstats t ON p.term = t.term
  CROSS JOIN stats s
  GROUP BY q.qid, p.doc_id
),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT qid::bigint AS qid, doc_id, round(score, 6) AS score, rank::int AS rank
FROM ranked WHERE rank <= {TOPK}
"""

# B7 lazy deletion: SAME scoring CTEs over ALL docs (tombstoned docs still
# contribute df/avgdl until purge), deleted ids filtered from the final
# ranking only — mirrors the DAAT kernel's deleted-mask semantics.
_B7_DELETE_SQL = f"""
WITH {_TOKS},
{_bm25_scored_ctes(_qterm_values(Q_RANKED))}
SELECT doc_id, round(score, 6) AS score FROM scored
WHERE doc_id % {DELETE_MOD} <> 0
ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""

# b7q delete-by-query: dead set = the DBQ_QUERY boolean tree
# ("table AND NOT filter") evaluated over the same postings; lazy-deletion
# scoring semantics identical to b7.
_B7Q_DELETE_SQL = f"""
WITH {_TOKS},
{_bm25_scored_ctes(_qterm_values(Q_RANKED))},
dead AS (
  SELECT DISTINCT doc_id FROM postings WHERE term = 'table'
  AND doc_id NOT IN (SELECT doc_id FROM postings WHERE term = 'filter')
)
SELECT doc_id, round(score, 6) AS score FROM scored
WHERE doc_id NOT IN (SELECT doc_id FROM dead)
ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""

# q5sh: the shingled phrase must equal plain consecutive-position phrase
# semantics — the oracle knows nothing about bigrams.
_SHINGLE_PHRASE_SQL = f"""
WITH {_TOKS}
SELECT DISTINCT a.doc_id FROM tok a
JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
          AND b.term = '{Q_SHINGLE_PHRASE[1]}'
JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
          AND c.term = '{Q_SHINGLE_PHRASE[2]}'
WHERE a.term = '{Q_SHINGLE_PHRASE[0]}'
"""


def _synonym_sql() -> str:
    groups = []
    for t in Q_SYN_TERMS:
        members = sorted({t, *Q_SYNONYMS.get(t, [])})
        groups.append("bool_or(term IN (%s))" % ", ".join(f"'{m}'" for m in members))
    return f"""
WITH {_TOKS}
SELECT doc_id FROM postings GROUP BY doc_id
HAVING {' AND '.join(groups)}
"""


def _range_facet_sql() -> str:
    e = RANGE_FACET_EDGES
    bucket_case = "CASE " + " ".join(
        f"WHEN v >= {e[i]} THEN {i + 1}" for i in range(len(e) - 1, -1, -1)
    ) + " ELSE 0 END"
    lo_case = "CASE bucket " + " ".join(
        f"WHEN {i + 1} THEN {e[i]}" for i in range(len(e))
    ) + " END"
    hi_case = "CASE bucket " + " ".join(
        f"WHEN {i} THEN {e[i]}" for i in range(len(e))
    ) + " END"
    return f"""
WITH {_TOKS},
hits AS (SELECT DISTINCT doc_id FROM postings WHERE term = '{Q_KEYWORD}'),
hd AS (
  SELECT d.{RANGE_FACET_COL}::double AS v FROM documents d JOIN hits USING (doc_id)
),
b AS (SELECT ({bucket_case}) AS bucket FROM hd)
SELECT bucket::int AS bucket,
       ({lo_case})::double AS lo,
       ({hi_case})::double AS hi,
       count(*) AS n
FROM b GROUP BY bucket
"""


_COLLAPSE_SQL = f"""
WITH {_TOKS},
{_bm25_scored_ctes(_qterm_values(Q_RANKED))},
grp AS (
  SELECT s.doc_id, d.source, s.score,
         row_number() OVER (
           PARTITION BY d.source ORDER BY s.score DESC, s.doc_id ASC
         ) AS rn
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, source, round(score, 6) AS score FROM grp WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT {COLLAPSE_K}
"""


def _bm25_porter_sql() -> str:
    from collections import Counter

    from search_engine_spark.functions.analyzers import get_analyzer

    fn = get_analyzer("porter")
    toks = [t for k in Q_RANKED for t in fn(k)]
    qvals = ", ".join(f"('{t}', {n})" for t, n in sorted(Counter(toks).items()))
    return f"""
WITH ptok AS (
  SELECT DISTINCT doc_id, content_md5, term, tf, dl
  FROM read_parquet('{PORTER_TOKENS_ROOT}/*/*.parquet')
),
postings AS (
  SELECT p.term, p.doc_id, p.tf, p.dl
  FROM ptok p JOIN documents d ON d.doc_id = p.doc_id AND md5(d.text) = p.content_md5
),
{_bm25_scored_ctes(qvals)}
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""

_TFIDF_CORE = f"""{_TOKS},
qterms(qt, qtf) AS (VALUES {_qterm_values(Q_RANKED)}),
n AS (SELECT count(*)::double AS n FROM documents),
tstats AS (SELECT term, count(*)::double AS df FROM postings GROUP BY term),
scored AS (
  SELECT p.doc_id,
    sum((p.tf * log10(n.n / t.df)) * (q.qtf * log10(n.n / t.df))
        ORDER BY p.term) AS dot,
    sum((p.tf * log10(n.n / t.df)) * (p.tf * log10(n.n / t.df))
        ORDER BY p.term) AS len
  FROM postings p
  JOIN qterms q ON p.term = q.qt
  JOIN tstats t ON p.term = t.term
  CROSS JOIN n
  GROUP BY p.doc_id
),
tfidf AS (
  SELECT doc_id, CASE WHEN len > 0 THEN dot / sqrt(len) ELSE 0.0 END AS score
  FROM scored
)"""

_TFIDF_SQL = f"""
WITH {_TFIDF_CORE}
SELECT doc_id, round(score, 6) AS score FROM tfidf
"""


def _pagerank_ctes(n_iters: int, edge_muls: list[tuple[int, int]], damping: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain mirroring
    ``operators/pagerank.compute_pagerank`` (reference IcsSearchEngine.java:
    74-146): init PR=1.0, PR_i = (1-d) + d*Σ PR_j/outdeg_j, NO dangling
    redistribution, post-hoc (PR-min)/max normalization. Edges are the
    deterministic synthetic graph of the queries() entries:
    dst = (doc_id*m + a) mod n per (m, a), self-loops dropped. Damping
    constants use Python float reprs so both engines evaluate bit-identical
    literals."""
    one_minus_d, d = repr(1.0 - damping), repr(damping)
    branches = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {m} + {a}) % nn.n AS dst "
        f"FROM nodes, nn WHERE doc_id <> (doc_id * {m} + {a}) % nn.n"
        for m, a in edge_muls
    )
    ctes = [
        "nodes AS (SELECT doc_id FROM documents)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"edges AS ({branches})",
        "outdeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src)",
        "pr0 AS (SELECT doc_id, 1.0::double AS pr FROM nodes)",
    ]
    for t in range(1, n_iters + 1):
        ctes.append(
            f"""pr{t} AS (
  SELECT nd.doc_id, ({one_minus_d} + {d} * coalesce(c.s, 0.0))::double AS pr
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS doc_id, sum(p.pr / o.odeg) AS s
    FROM pr{t - 1} p JOIN edges e ON p.doc_id = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.doc_id = nd.doc_id
)"""
        )
    ctes.append(f"mm AS (SELECT min(pr) AS lo, max(pr) AS hi FROM pr{n_iters})")
    ctes.append(
        f"prnorm AS (SELECT doc_id, (pr - mm.lo) / mm.hi AS pagerank FROM pr{n_iters}, mm)"
    )
    return ",\n".join(ctes)


def _q9_sql() -> str:
    return f"""
WITH {_pagerank_ctes(20, [(7, 1), (13, 5)])}
SELECT doc_id, round(pagerank, 4) AS pagerank
FROM prnorm
ORDER BY round(pagerank, 4) DESC, doc_id ASC LIMIT {TOPK}
"""


def _q11_sql() -> str:
    return f"""
WITH {_TFIDF_CORE},
{_pagerank_ctes(10, [(7, 1)])}
SELECT s.doc_id,
  round(s.score + 2.0 * coalesce(p.pagerank, 0.0), 4) AS score
FROM tfidf s LEFT JOIN prnorm p ON p.doc_id = s.doc_id
ORDER BY round(s.score + 2.0 * coalesce(p.pagerank, 0.0), 4) DESC, s.doc_id ASC
LIMIT {TOPK}
"""


def _m2_sql() -> str:
    probe = lambda i: (
        f"round(CAST(('0x' || substr(hx, {4 * i + 1}, 4))::int / 65535.0 * 2.0 - 1.0 "
        f"AS FLOAT)::DOUBLE, 6)"
    )
    return f"""
WITH f AS (
  SELECT doc_id, strlen(text) AS nbytes, sha256(text) AS hx FROM documents
)
SELECT doc_id,
  least((nbytes + 4095) // 4096, 4)::int AS n_frames,
  16 AS dim,
  {probe(0)} AS f0,
  {probe(8)} AS f8,
  {probe(15)} AS f15
FROM f
"""


def _simhash_sql() -> str:
    sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH {_TOKS},
th AS (SELECT doc_id, {_h64('term')} AS h FROM tok),
g AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id)
SELECT doc_id, ({bits})::int64 AS simhash FROM g
"""


_LANG_MARKERS_SQL = {
    "en": "['the','of','and','to','in','is','that','it','for','with']",
    "es": "['el','la','de','que','y','en','los','del','las','por']",
    "de": "['der','die','und','das','von','zu','mit','den','ist','nicht']",
    "fr": "['le','la','les','des','et','est','une','dans','que','pour']",
}


def _lang_id_sql() -> str:
    hits = ",\n    ".join(
        f"len(list_filter(t, x -> list_contains({arr}, x))) AS hits_{lang}"
        for lang, arr in _LANG_MARKERS_SQL.items()
    )
    langs = list(_LANG_MARKERS_SQL)
    # mirror the Spark fold: reversed order, earlier languages win ties,
    # score must be >= max(best, 1)
    expr = "'und'"
    best = "0"
    for lang in reversed(langs):
        expr = f"(CASE WHEN hits_{lang} >= greatest({best}, 1) THEN '{lang}' ELSE {expr} END)"
        best = f"greatest({best}, hits_{lang})"
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
h AS (SELECT doc_id, {hits} FROM toks)
SELECT doc_id, {expr} AS lang_pred, hits_en, hits_es, hits_de, hits_fr FROM h
"""


def _quality_sql() -> str:
    stop = _LANG_MARKERS_SQL["en"]
    return f"""
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
),
f AS (
  SELECT doc_id, n_chars, len(t) AS n_tokens,
    CASE WHEN len(t) > 0 THEN (n_chars - (len(t) - 1))::double / len(t) ELSE 0.0 END AS mean_len,
    CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> list_contains({stop}, x)))::double / len(t) ELSE 0.0 END AS stop_ratio,
    CASE WHEN len(t) > 0 THEN len(list_distinct(t))::double / len(t) ELSE 0.0 END AS distinct_ratio
  FROM toks
)
SELECT doc_id, n_chars, n_tokens,
  round(mean_len, 6) AS mean_token_len,
  round(stop_ratio, 6) AS stopword_ratio,
  round(distinct_ratio, 6) AS distinct_ratio,
  round(
    least(n_tokens::double / 64.0, 1.0) * 0.4
    + least(stop_ratio * 5.0, 1.0) * 0.2
    + least(distinct_ratio * 2.0, 1.0) * 0.2
    + (CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 0.2 ELSE 0.0 END), 6) AS quality
FROM f
"""


def _planes_sql_literal() -> str:
    from search_engine_spark.operators.similarity import plane_literals

    planes = plane_literals(EMB_DIM, N_PLANES, PLANE_SEED)
    return "[" + ", ".join("[" + ", ".join(str(x) for x in p) + "]" for p in planes) + "]"


def _cosine_sql(va: str, vb: str) -> str:
    return (
        f"(list_dot_product({va}::DOUBLE[], {vb}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({va}::DOUBLE[], {va}::DOUBLE[])) * "
        f"sqrt(list_dot_product({vb}::DOUBLE[], {vb}::DOUBLE[]))))"
    )


def _bucket_sql(vec: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec}::DOUBLE[], (planes.p[{i + 1}])::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(N_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


def oracle_sql() -> dict[str, str]:
    return {
        "s1_scan_filter_project": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE lang = 'en' AND n_chars > 200
        """,
        "s2_edge_scan": """
            WITH nodes AS (SELECT doc_id FROM documents),
            nn AS (SELECT count(*) AS n FROM nodes),
            edges AS (
              SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst
              FROM nodes, nn WHERE doc_id <> (doc_id * 7 + 1) % nn.n
              UNION ALL
              SELECT doc_id, (doc_id * 13 + 5) % nn.n
              FROM nodes, nn WHERE doc_id <> (doc_id * 13 + 5) % nn.n
            )
            SELECT dst, count(*)::int64 AS indeg FROM edges GROUP BY dst
        """,
        "s3_url_map": """
            SELECT doc_id, 'https://example.org/doc/' || doc_id AS url
            FROM documents
        """,
        "a2_token_count": r"""
            SELECT doc_id,
              len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n_tokens
            FROM documents
        """,
        "b1_postings": f"WITH {_TOKS} SELECT doc_id, term, tf FROM postings",
        "b3_term_stats": f"""
            WITH {_TOKS}
            SELECT term, count(*)::int64 AS df, sum(tf)::int64 AS cf
            FROM postings GROUP BY term
        """,
        "q7_corpus_stats": f"""
            WITH {_TOKS}
            SELECT count(DISTINCT doc_id)::int64 AS n_docs,
                   sum(tf)::int64 AS total_tokens,
                   count(DISTINCT term)::int64 AS n_terms
            FROM postings
        """,
        "q2_keyword_search": f"""
            WITH {_TOKS}
            SELECT DISTINCT doc_id FROM postings WHERE term = '{Q_KEYWORD}'
        """,
        "q8f_fielded_bm25": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))},
            lang_df AS (
              SELECT lang, count(*)::double AS df FROM documents GROUP BY lang
            ),
            repo_df AS (
              SELECT source, count(*)::double AS df FROM documents GROUP BY source
            ),
            -- one-token fields: dl = avgdl = tf = 1, so saturation = 1 and
            -- the field part is exactly weight * idf(field df)
            lang_scored AS (
              SELECT d.doc_id,
                0.4 * ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0) AS score
              FROM documents d CROSS JOIN stats s JOIN lang_df t USING (lang)
              WHERE d.lang = 'en'
            ),
            repo_scored AS (
              SELECT d.doc_id,
                0.8 * ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0) AS score
              FROM documents d CROSS JOIN stats s JOIN repo_df t USING (source)
              WHERE d.source = 'src3'
            ),
            combined AS (
              SELECT doc_id, sum(score ORDER BY score) AS score FROM (
                SELECT doc_id, score FROM scored
                UNION ALL SELECT doc_id, score FROM lang_scored
                UNION ALL SELECT doc_id, score FROM repo_scored
              ) GROUP BY doc_id
            )
            SELECT doc_id, round(score, 6) AS score FROM combined
            ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
        """,
        "q2r_regex_search": f"""
            WITH {_TOKS},
            expansion AS (
              SELECT term FROM (
                SELECT term, count(*) AS df FROM postings GROUP BY term
              ) WHERE regexp_matches(term, '{REGEX_PATTERN}')
              ORDER BY df DESC, term ASC LIMIT 64
            )
            SELECT DISTINCT doc_id FROM postings
            WHERE term IN (SELECT term FROM expansion)
        """,
        "q8flt_filtered_bm25": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))}
            SELECT s.doc_id, round(s.score, 6) AS score
            FROM scored s JOIN documents d ON s.doc_id = d.doc_id
            WHERE d.lang = 'en' AND d.source <> 'src3'
            ORDER BY s.score DESC, s.doc_id ASC LIMIT {TOPK}
        """,
        "q5s_sloppy_phrase": f"""
            WITH {_TOKS}
            SELECT DISTINCT a.doc_id FROM tok a
            JOIN tok b ON b.doc_id = a.doc_id AND b.term = '{Q_SLOPPY[1]}'
                       AND b.pos - a.pos BETWEEN 1 AND {Q_SLOP + 1}
            JOIN tok c ON c.doc_id = a.doc_id AND c.term = '{Q_SLOPPY[2]}'
                       AND c.pos - b.pos BETWEEN 1 AND {Q_SLOP + 1}
            WHERE a.term = '{Q_SLOPPY[0]}'
        """,
        "q3b_bool_tree": f"""
            WITH {_TOKS}
            SELECT doc_id FROM toks
            WHERE list_contains(t, 'spark')
              AND (list_contains(t, 'join') OR list_contains(t, 'merge'))
              AND NOT list_contains(t, 'scan')
        """,
        "q16_hybrid_rrf": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))},
            bm_top AS (
              SELECT doc_id, score FROM scored
              ORDER BY score DESC, doc_id ASC LIMIT {RRF_N}
            ),
            bm_rank AS (
              SELECT doc_id, row_number() OVER (
                ORDER BY score DESC, doc_id ASC) AS rnk
              FROM bm_top
            ),
            qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
            cos_top AS (
              SELECT vec_id AS doc_id, {_cosine_sql("embedding", "qv.v")} AS score
              FROM embeddings, qv WHERE vec_id <> 0
              ORDER BY score DESC, doc_id ASC LIMIT {RRF_N}
            ),
            cos_rank AS (
              SELECT doc_id, row_number() OVER (
                ORDER BY score DESC, doc_id ASC) AS rnk
              FROM cos_top
            ),
            fused AS (
              SELECT doc_id, sum(1.0 / (60.0 + rnk) ORDER BY rnk) AS rrf FROM (
                SELECT * FROM bm_rank UNION ALL SELECT * FROM cos_rank
              ) GROUP BY doc_id
            )
            SELECT doc_id, round(rrf, 6) AS rrf FROM fused
            ORDER BY rrf DESC, doc_id ASC LIMIT {TOPK}
        """,
        "q2fl_field_search": f"""
            WITH {_TOKS}
            SELECT DISTINCT p.doc_id FROM postings p
            JOIN documents d ON p.doc_id = d.doc_id
            WHERE p.term = '{Q_KEYWORD}'
              AND d.lang = 'en' AND d.source = 'src3'
        """,
        "q3_and_search": f"""
            WITH {_TOKS}
            SELECT doc_id FROM postings
            WHERE term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
            GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(Q_AND))}
        """,
        "q22_min_should_match": f"""
            WITH {_TOKS}
            SELECT doc_id FROM postings
            WHERE term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
            GROUP BY doc_id HAVING count(DISTINCT term) >= {MSM_MIN}
        """,
        "q6c_complete": f"""
            WITH {_TOKS},
            stats AS (SELECT term, count(*)::int64 AS df FROM postings GROUP BY term)
            SELECT term, df FROM stats
            WHERE starts_with(term, '{COMPLETE_PREFIX.replace("'", "''")}')
            ORDER BY df DESC, term ASC LIMIT {COMPLETE_K}
        """,
        "q30_rescore_vector": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))},
            win AS (
              SELECT doc_id, score FROM scored
              ORDER BY score DESC, doc_id ASC LIMIT {RESCORE_WINDOW}
            ),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            cos AS (
              SELECT e.vec_id AS doc_id,
                     {_cosine_sql("e.embedding", "q.qv")} AS c
              FROM embeddings e, q
            ),
            resc AS (
              SELECT w.doc_id,
                     w.score + {VEC_RESCORE_W} * coalesce(c.c, 0) AS s2
              FROM win w LEFT JOIN cos c USING (doc_id)
            )
            SELECT doc_id, round(s2, 6) AS score FROM resc
            ORDER BY s2 DESC, doc_id ASC LIMIT {TOPK}
        """,
        "q28_significant_terms": f"""
            WITH {_TOKS},
            hits AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = '{Q_KEYWORD}'
            ),
            nfg AS (SELECT count(*)::double AS n FROM hits),
            nd AS (SELECT count(*)::double AS n FROM documents),
            fg AS (
              SELECT p.term, count(DISTINCT p.doc_id)::int64 AS fg_df
              FROM postings p JOIN hits h USING (doc_id)
              GROUP BY p.term
              HAVING count(DISTINCT p.doc_id) >= {SIG_MIN_FG}
            ),
            bg AS (SELECT term, count(*)::int64 AS df FROM postings GROUP BY term),
            sig AS (
              SELECT f.term, f.fg_df, b.df,
                     (f.fg_df / nfg.n - b.df / nd.n)
                       * ((f.fg_df / nfg.n) / (b.df / nd.n)) AS s
              FROM fg f JOIN bg b USING (term), nfg, nd
            )
            SELECT term, fg_df, df, round(s, 6) AS score FROM sig
            ORDER BY s DESC, term ASC LIMIT {SIG_K}
        """,
        "q29_decay_score": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))},
            dec AS (
              SELECT s.doc_id,
                     s.score * CASE WHEN d.n_chars IS NULL THEN 1.0 ELSE exp(
                       -pow(abs(d.n_chars::double - {DECAY_ORIGIN}), 2)
                       / (2.0 * {_DECAY_SIGMA2!r})
                     ) END AS s2
              FROM scored s LEFT JOIN documents d USING (doc_id)
            )
            SELECT doc_id, round(s2, 6) AS score FROM dec
            ORDER BY s2 DESC, doc_id ASC LIMIT {TOPK}
        """,
        "q14s_stats_agg": f"""
            WITH {_TOKS},
            hits AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = '{Q_KEYWORD}'
            ),
            hd AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
            s AS ({" UNION ALL ".join(
                f"SELECT '{c}' AS col, {c}::double AS v FROM hd "
                f"WHERE {c} IS NOT NULL"
                for c in STATS_COLS
            )})
            SELECT col, count(*)::int64 AS n,
                   count(DISTINCT v)::int64 AS ndv,
                   round(min(v), 6) AS min, round(max(v), 6) AS max,
                   round(sum(v), 6) AS sum, round(avg(v), 6) AS avg
            FROM s GROUP BY col
        """,
        "q14p_percentiles": f"""
            WITH {_TOKS},
            hits AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = '{Q_KEYWORD}'
            ),
            hd AS (SELECT d.* FROM documents d JOIN hits USING (doc_id)),
            agg AS (
              SELECT quantile_cont({RANGE_FACET_COL}::double,
                                   {PCT_FRACTIONS}) AS vals
              FROM hd WHERE {RANGE_FACET_COL} IS NOT NULL
            )
            SELECT unnest({PCT_FRACTIONS})::double AS p,
                   round(unnest(vals), 6) AS value
            FROM agg WHERE vals IS NOT NULL
        """,
        "q14d_date_histogram": f"""
            SELECT strftime(date_trunc('{DH_INTERVAL}', ts),
                            '%Y-%m-%d %H:%M:%S') AS bucket,
                   count(*)::int64 AS n,
                   round(sum(value::double), 6) AS sum_value
            FROM events
            WHERE event_type = '{DH_EVENT_TYPE}' AND ts IS NOT NULL
            GROUP BY 1
        """,
        "q27_rescore_phrase": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))},
            win AS (
              SELECT doc_id, score FROM scored
              ORDER BY score DESC, doc_id ASC LIMIT {RESCORE_WINDOW}
            ),
            ph AS (
              SELECT DISTINCT a.doc_id
              FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = '{Q_PHRASE[0]}' AND b.term = '{Q_PHRASE[1]}'
            ),
            resc AS (
              SELECT w.doc_id,
                     w.score + {RESCORE_BOOST}
                       * (CASE WHEN p.doc_id IS NULL THEN 0 ELSE 1 END) AS s2
              FROM win w LEFT JOIN ph p USING (doc_id)
            )
            SELECT doc_id, round(s2, 6) AS score FROM resc
            ORDER BY s2 DESC, doc_id ASC LIMIT {TOPK}
        """,
        "q23_highlight": f"""
            WITH {_TOKS},
            msm AS (
              SELECT doc_id FROM postings
              WHERE term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
              GROUP BY doc_id HAVING count(DISTINCT term) >= {MSM_MIN}
            ),
            hits AS (
              SELECT t.doc_id, t.pos FROM tok t JOIN msm USING (doc_id)
              WHERE t.term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
            ),
            cov AS (
              SELECT h.doc_id, h.pos,
                     (SELECT count(DISTINCT t2.term) FROM tok t2
                       WHERE t2.doc_id = h.doc_id
                         AND t2.term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
                         AND t2.pos >= h.pos AND t2.pos < h.pos + {HL_WINDOW}) AS c
              FROM hits h
            ),
            best AS (
              SELECT doc_id, pos, c FROM cov
              QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY c DESC, pos ASC) = 1
            )
            SELECT b.doc_id,
                   (b.pos + 1)::int AS window_start,
                   b.c::int AS coverage,
                   string_agg(
                     CASE WHEN t.term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
                          THEN '<em>' || t.term || '</em>' ELSE t.term END,
                     ' ' ORDER BY t.pos) AS snippet
            FROM best b JOIN tok t ON t.doc_id = b.doc_id
                   AND t.pos >= b.pos AND t.pos < b.pos + {HL_WINDOW}
            GROUP BY b.doc_id, b.pos, b.c
        """,
        "q4_or_search": f"""
            WITH {_TOKS}
            SELECT DISTINCT doc_id FROM postings
            WHERE term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
        """,
        "q5_phrase_search": f"""
            WITH {_TOKS}
            SELECT DISTINCT a.doc_id
            FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.term = '{Q_PHRASE[0]}' AND b.term = '{Q_PHRASE[1]}'
        """,
        "q24_span_first": f"""
            WITH {_TOKS}
            SELECT DISTINCT doc_id FROM tok
            WHERE term = '{Q_KEYWORD}' AND pos < {SPAN_FIRST_LIMIT}
        """,
        "q2p_prefix_search": f"""
            WITH {_TOKS}
            SELECT DISTINCT doc_id FROM postings WHERE term LIKE '{Q_PREFIX}%'
        """,
        "q2f_fuzzy_search": f"""
            WITH {_TOKS},
            stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
            cand AS (
              SELECT term FROM stats
              WHERE levenshtein(term, '{Q_FUZZY}') <= {Q_FUZZY_DIST}
              ORDER BY levenshtein(term, '{Q_FUZZY}') ASC, df DESC, term ASC
              LIMIT {Q_FUZZY_EXP}
            )
            SELECT DISTINCT doc_id FROM postings
            WHERE term IN (SELECT term FROM cand)
        """,
        "q21_wildcard_parsed": f"""
            WITH {_TOKS}
            SELECT DISTINCT doc_id FROM postings
            WHERE term LIKE 'sc_n'
              AND doc_id IN (
                SELECT doc_id FROM postings WHERE term LIKE 'qu%y')
              AND doc_id IN (
                SELECT doc_id FROM postings
                WHERE regexp_matches(term, '^(?:m[ae]rge)$'))
        """,
        "q20_fielded_phrase": f"""
            WITH {_TOKS}
            SELECT DISTINCT p.doc_id
            FROM postings p JOIN documents d ON p.doc_id = d.doc_id
            WHERE p.term = 'spark'
              AND d.lang = 'en' AND d.source = 'src3'
        """,
        "q19b_boosted_parsed": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes("('query', 2.0), ('hash', 1.5), ('join', 1.5)")},
            qdocs AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = 'query'
            ),
            phits AS (
              SELECT DISTINCT a.doc_id
              FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = 'hash' AND b.term = 'join'
            ),
            pref AS (
              SELECT DISTINCT doc_id FROM postings WHERE term LIKE 'sl%'
            ),
            matched AS (
              SELECT doc_id FROM qdocs
              WHERE doc_id IN (SELECT doc_id FROM phits)
              UNION
              SELECT doc_id FROM pref
            )
            SELECT m.doc_id, round(coalesce(s.score, 0.0), 6) AS score
            FROM matched m LEFT JOIN scored s USING (doc_id)
            ORDER BY coalesce(s.score, 0.0) DESC, m.doc_id ASC
            LIMIT {TOPK}
        """,
        "q19_ranked_parsed": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(["query", "hash", "join"]))},
            qdocs AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = 'query'
            ),
            phits AS (
              SELECT DISTINCT a.doc_id
              FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = 'hash' AND b.term = 'join'
            ),
            pref AS (
              SELECT DISTINCT doc_id FROM postings WHERE term LIKE 'sl%'
            ),
            matched AS (
              SELECT doc_id FROM qdocs
              WHERE doc_id IN (SELECT doc_id FROM phits)
              UNION
              SELECT doc_id FROM pref
            )
            SELECT m.doc_id, round(coalesce(s.score, 0.0), 6) AS score
            FROM matched m LEFT JOIN scored s USING (doc_id)
            ORDER BY coalesce(s.score, 0.0) DESC, m.doc_id ASC
            LIMIT {TOPK}
        """,
        "q18_parsed_query": f"""
            WITH {_TOKS},
            stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
            fz AS (
              SELECT term FROM stats
              WHERE levenshtein(term, 'sow') <= 1
              ORDER BY levenshtein(term, 'sow') ASC, df DESC, term ASC
              LIMIT 16
            ),
            fhits AS (
              SELECT DISTINCT doc_id FROM postings
              WHERE term IN (SELECT term FROM fz)
            ),
            phits AS (
              SELECT DISTINCT a.doc_id
              FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              WHERE a.term = 'table' AND b.term = 'scan'
            ),
            zebra AS (SELECT DISTINCT doc_id FROM postings WHERE term = 'zebra')
            SELECT d.doc_id FROM documents d
            WHERE (d.doc_id IN (SELECT doc_id FROM fhits)
                   OR d.doc_id IN (SELECT doc_id FROM phits))
              AND d.n_chars BETWEEN 150 AND 450
              AND d.doc_id NOT IN (SELECT doc_id FROM zebra)
        """,
        "q8p_search_after": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))}
            SELECT doc_id, round(score, 6) AS score FROM scored
            ORDER BY score DESC, doc_id ASC
            LIMIT {PAGE_K} OFFSET {PAGE_K}
        """,
        "q11b_boosted_bm25": f"""
            WITH {_TOKS},
            {_bm25_scored_ctes(_qterm_values(Q_RANKED))},
            boosted AS (
              SELECT s.doc_id,
                     s.score
                     + CASE d.source WHEN 'src3' THEN 0.5
                                     WHEN 'src7' THEN 0.25 ELSE 0.0 END
                     + CASE d.lang WHEN 'de' THEN 0.1 ELSE 0.0 END AS score
              FROM scored s JOIN documents d USING (doc_id)
            )
            SELECT doc_id, round(score, 6) AS score FROM boosted
            ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
        """,
        "q15_related_terms": f"""
            WITH {_TOKS},
            n AS (SELECT count(*)::double AS n FROM documents),
            tstats AS (
              SELECT term, count(*) AS df FROM postings GROUP BY term
            ),
            seed AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = '{REL_TERM}'
            ),
            dfseed AS (SELECT count(*)::double AS dfs FROM seed),
            co AS (
              SELECT p.term, count(*) AS codf
              FROM postings p JOIN seed USING (doc_id)
              WHERE p.term <> '{REL_TERM}'
              GROUP BY p.term
              HAVING count(*) >= {REL_MIN_CODF}
            )
            SELECT co.term, co.codf,
                   round(ln(co.codf * n.n / (t.df * d.dfs)), 6) AS pmi
            FROM co JOIN tstats t ON co.term = t.term
            CROSS JOIN n CROSS JOIN dfseed d
            ORDER BY ln(co.codf * n.n / (t.df * d.dfs)) DESC, co.term ASC
            LIMIT {REL_K}
        """,
        "t9_grouped_topk": f"""
            WITH ranked AS (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
                     ) AS rn
              FROM documents
            )
            SELECT lang, doc_id, n_chars FROM ranked WHERE rn <= {GTOPK_K}
        """,
        "q8m_more_like_this": f"""
            WITH {_TOKS},
            n AS (SELECT count(*)::double AS n FROM documents),
            tstats AS (
              SELECT term, count(*)::double AS df FROM postings GROUP BY term
            ),
            seedq AS (
              SELECT p.term, p.tf AS qtf
              FROM postings p JOIN tstats t ON p.term = t.term CROSS JOIN n
              WHERE p.doc_id = {MLT_SEED}
              ORDER BY p.tf * log10(n.n / t.df) DESC, p.term ASC
              LIMIT {MLT_TOP_TERMS}
            ),
            scored AS (
              SELECT p.doc_id,
                sum((p.tf * log10(n.n / t.df)) * (q.qtf * log10(n.n / t.df))
                    ORDER BY p.term) AS dot,
                sum((p.tf * log10(n.n / t.df)) * (p.tf * log10(n.n / t.df))
                    ORDER BY p.term) AS len
              FROM postings p
              JOIN seedq q ON p.term = q.term
              JOIN tstats t ON p.term = t.term
              CROSS JOIN n
              WHERE p.doc_id <> {MLT_SEED}
              GROUP BY p.doc_id
            )
            SELECT doc_id,
                   round(CASE WHEN len > 0 THEN dot / sqrt(len) ELSE 0.0 END, 6)
                     AS score
            FROM scored
            ORDER BY CASE WHEN len > 0 THEN dot / sqrt(len) ELSE 0.0 END DESC,
                     doc_id ASC
            LIMIT {MLT_K}
        """,
        "q14_facet_counts": f"""
            WITH {_TOKS},
            hits AS (
              SELECT DISTINCT doc_id FROM postings WHERE term = '{Q_KEYWORD}'
            ),
            hit_docs AS (
              SELECT d.* FROM documents d JOIN hits USING (doc_id)
            )
            SELECT 'lang' AS facet, lang AS value, count(*) AS n
            FROM hit_docs GROUP BY lang
            UNION ALL
            SELECT 'source' AS facet, source AS value, count(*) AS n
            FROM hit_docs GROUP BY source
        """,
        "q3f_fuzzy_and_search": f"""
            WITH {_TOKS},
            stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
            cand0 AS (
              SELECT term, 0 AS gid FROM stats
              WHERE levenshtein(term, '{Q_FUZZY_AND[0]}') <= {Q_FUZZY_DIST}
              ORDER BY levenshtein(term, '{Q_FUZZY_AND[0]}') ASC, df DESC, term ASC
              LIMIT {Q_FUZZY_EXP}
            ),
            cand1 AS (
              SELECT term, 1 AS gid FROM stats
              WHERE levenshtein(term, '{Q_FUZZY_AND[1]}') <= {Q_FUZZY_DIST}
              ORDER BY levenshtein(term, '{Q_FUZZY_AND[1]}') ASC, df DESC, term ASC
              LIMIT {Q_FUZZY_EXP}
            ),
            gmap AS (SELECT * FROM cand0 UNION ALL SELECT * FROM cand1)
            SELECT doc_id FROM postings p JOIN gmap g ON p.term = g.term
            GROUP BY doc_id HAVING count(DISTINCT g.gid) = 2
        """,
        "q6s_suggest_terms": f"""
            WITH {_TOKS},
            stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term)
            SELECT term, df, levenshtein(term, '{Q_SUGGEST}') AS dist
            FROM stats
            WHERE levenshtein(term, '{Q_SUGGEST}') <= {Q_SUGGEST_DIST}
            ORDER BY dist ASC, df DESC, term ASC
            LIMIT {Q_SUGGEST_K}
        """,
        "q3n_and_not_search": f"""
            WITH {_TOKS},
            pos AS (
              SELECT doc_id FROM postings
              WHERE term IN ({", ".join(repr(t) for t in sorted(set(Q_AND[:2])))})
              GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(Q_AND[:2]))}
            )
            SELECT doc_id FROM pos
            WHERE doc_id NOT IN (
              SELECT doc_id FROM postings WHERE term = '{Q_AND[2]}'
            )
        """,
        "q5w_proximity_search": f"""
            WITH {_TOKS}
            SELECT DISTINCT a.doc_id
            FROM tok a JOIN tok b ON a.doc_id = b.doc_id
              AND b.pos - a.pos BETWEEN 1 AND {Q_NEAR_WINDOW}
            WHERE a.term = '{Q_NEAR[0]}' AND b.term = '{Q_NEAR[1]}'
        """,
        "t7_snippets": rf"""
            WITH toks AS (
              SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            hit AS (
              SELECT doc_id, t, list_position(t, '{SNIPPET_TERM}') AS p FROM toks
              WHERE list_position(t, '{SNIPPET_TERM}') > 0
            )
            SELECT doc_id, p AS first_pos,
              array_to_string(
                list_slice(t, greatest(p - {SNIPPET_BEFORE}, 1), p + {SNIPPET_AFTER}),
                ' '
              ) AS snippet
            FROM hit
        """,
        "e4_pq_topk": f"""
            SELECT vec_id, round(adc, 6) AS adc
            FROM read_parquet('{PQ_REF_ROOT}/*/*.parquet')
            WHERE n_corpus = (
              SELECT count(*) FROM embeddings
              WHERE vec_id <> 0 AND vec_id < {SIDE_DOC_CAP}
            )
        """,
        "e5_ivfpq_topk": f"""
            SELECT vec_id, round(adc, 6) AS adc
            FROM read_parquet('{IVFPQ_REF_ROOT}/*/*.parquet')
            WHERE n_corpus = (
              SELECT count(*) FROM embeddings
              WHERE vec_id <> 0 AND vec_id < {SIDE_DOC_CAP}
            )
        """,
        "e6_ivfpq_residual_topk": f"""
            SELECT vec_id, round(adc, 6) AS adc
            FROM read_parquet('{IVFPQ_RES_REF_ROOT}/*/*.parquet')
            WHERE n_corpus = (
              SELECT count(*) FROM embeddings
              WHERE vec_id <> 0 AND vec_id < {SIDE_DOC_CAP}
            )
        """,
        "q1_full_scan": f"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            )
            SELECT doc_id FROM toks
            WHERE {" AND ".join(f"list_contains(t, '{t}')" for t in sorted(set(Q_AND)))}
        """,
        "s4_doc_fetch": f"""
            WITH {_TOKS},
            hits AS (
              SELECT doc_id FROM postings
              WHERE term IN ({", ".join(repr(t) for t in sorted(set(Q_AND)))})
              GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(Q_AND))}
            )
            SELECT d.doc_id, md5(d.text) AS content_md5
            FROM documents d JOIN hits USING (doc_id)
        """,
        "st1_windowed_events": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type,
                   count(*)::int64 AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "t11_sequence_pack": r"""
            WITH tk AS (
              SELECT doc_id,
                len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]'))::int64 AS n_tokens
              FROM documents
            ),
            pre AS (
              SELECT doc_id, n_tokens,
                coalesce(sum(n_tokens) OVER (
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
              FROM tk
            )
            SELECT doc_id, n_tokens,
              (p // 2048)::int64 AS bin,
              (p % 2048)::int64 AS bin_offset
            FROM pre
        """,
        "t12_domain_mix": """
            WITH c AS (
              SELECT source, count(*)::double AS n,
                     CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3 WHEN 'src2' THEN 0.2 END AS w
              FROM documents
              WHERE source IN ('src0', 'src1', 'src2')
              GROUP BY source
            ),
            tot AS (SELECT sum(n) AS nt FROM c),
            sc AS (
              SELECT least(min(n / (w * nt)), 1.0) AS scale
              FROM c, tot WHERE w > 0
            ),
            rates AS (
              SELECT source,
                     least(1.0, (w * nt * scale) / n) AS rate
              FROM c, tot, sc
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r USING (source)
            WHERE ('0x' || substr(md5('v1:' || d.doc_id::varchar), 1, 15))::int64
                    % 1000000 < floor(r.rate * 1000000)
        """,
        "st3_trending_terms": """
            WITH wins AS (
              SELECT time_bucket(INTERVAL 30 MINUTE, ts)
                       - (k * INTERVAL 30 MINUTE) AS ws,
                     event_type
              FROM events, (VALUES (0), (1)) AS offs(k)
            ),
            counts AS (
              SELECT ws, event_type, count(*)::int64 AS n
              FROM wins GROUP BY ws, event_type
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY ws ORDER BY n DESC, event_type ASC) AS rn
              FROM counts
            )
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, n
            FROM ranked WHERE rn <= 3
        """,
        "q11_combined_pagerank": _q11_sql(),
        "q8_tfidf_scores": _TFIDF_SQL,
        "q8_bm25_topk": _BM25_SQL,
        "q25_dismax": _DISMAX_SQL,
        "q26_percolate": f"""
            WITH {_TOKS},
            q(qid, term) AS (VALUES {", ".join(
                f"({qid}, '{t}')"
                for qid, kws in sorted(PERCO_QUERIES.items())
                for t in sorted({k.lower() for k in kws})
            )}),
            qn AS (SELECT qid, count(DISTINCT term) AS n FROM q GROUP BY qid),
            hits AS (
              SELECT p.doc_id, q.qid, count(DISTINCT p.term) AS m
              FROM postings p JOIN q ON p.term = q.term
              GROUP BY p.doc_id, q.qid
            )
            SELECT h.doc_id, h.qid
            FROM hits h JOIN qn ON h.qid = qn.qid AND h.m = qn.n
        """,
        "q8s_sharded_bm25": _BM25_SQL,
        "q8_bm25_batch": _BM25_BATCH_SQL,
        "q8_bm25_batch_daat": _BM25_BATCH_SQL,
        "q8_bm25_batch_cached": _BM25_BATCH_SQL,
        "q8_bm25_batch_refreshed": _BM25_BATCH_SQL,
        "q8x_explain_score": f"""
WITH {_TOKS},
qterms(qt, qtf) AS (VALUES {_qterm_values(Q_RANKED)}),
ndocs AS (SELECT count(*)::double AS n FROM documents),
dlsum AS (SELECT sum(tf)::double AS tot FROM postings),
stats AS (SELECT ndocs.n AS n, dlsum.tot / ndocs.n AS avgdl FROM ndocs, dlsum),
tstats AS (SELECT term, count(*)::double AS df FROM postings GROUP BY term)
SELECT p.doc_id, p.term, q.qtf::int AS qtf, p.tf::bigint AS tf,
  p.dl::bigint AS dl, t.df::bigint AS df,
  round(ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0), 6) AS idf,
  round(q.qtf * ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
        * p.tf * ({BM25_K1} + 1.0)
        / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.dl / s.avgdl)),
        6) AS contribution
FROM postings p
JOIN qterms q ON p.term = q.qt
JOIN tstats t ON p.term = t.term
CROSS JOIN stats s
""",
        "b7_delete_search": _B7_DELETE_SQL,
        "b7q_delete_by_query": _B7Q_DELETE_SQL,
        "q5sh_phrase_shingles": _SHINGLE_PHRASE_SQL,
        "q2s_synonym_search": _synonym_sql(),
        "q14r_range_facets": _range_facet_sql(),
        "q8c_collapse_by_source": _COLLAPSE_SQL,
        "q8_bm25_porter": _bm25_porter_sql(),
        "a7_wordbreak": f"""
            SELECT r.doc_id, r.n_wb_tokens::int AS n_wb_tokens, r.tokens_md5
            FROM (
              SELECT DISTINCT doc_id, content_md5, n_wb_tokens, tokens_md5
              FROM read_parquet('{WORDBREAK_ROOT}/*/*.parquet')
            ) r
            JOIN documents d ON d.doc_id = r.doc_id AND md5(d.text) = r.content_md5
            WHERE r.doc_id < {SIDE_DOC_CAP}
        """,
        "q2t_substring_search": f"""
            SELECT doc_id FROM documents
            WHERE contains(text, '{SUBSTRING_NEEDLE}')
        """,
        "q2rx_regex_search": f"""
            SELECT doc_id FROM documents
            WHERE regexp_matches(text, '{REGEX_PATTERN}')
        """,
        "q17_grep_lines": f"""
            SELECT d.doc_id, gs.i::int AS line_no,
                   strpos(d.parts[gs.i], '{SUBSTRING_NEEDLE}')::int AS col_no,
                   d.parts[gs.i] AS line
            FROM (SELECT doc_id, string_split(text, '{GREP_DELIM}') AS parts
                  FROM documents
                  WHERE contains(text, '{SUBSTRING_NEEDLE}')) d,
                 LATERAL (SELECT unnest(generate_series(1, len(d.parts))) AS i) gs
            WHERE contains(d.parts[gs.i], '{SUBSTRING_NEEDLE}')
        """,
        "q2tb_substring_batch": " UNION ALL ".join(
            f"""SELECT {qid} AS qid, doc_id FROM documents
                WHERE contains(text, '{nd}')"""
            for qid, nd in BATCH_NEEDLES.items()
        ),
        "q2rb_regex_batch": " UNION ALL ".join(
            f"""SELECT {qid} AS qid, doc_id FROM documents
                WHERE regexp_matches(text, '{pat}')"""
            for qid, pat in BATCH_PATTERNS.items()
        ),
        "q2tc_match_counts": f"""
            SELECT doc_id,
                   ((length(text) - length(replace(text, '{SUBSTRING_NEEDLE}', '')))
                    / {len(SUBSTRING_NEEDLE)})::int AS n_matches
            FROM documents
            WHERE contains(text, '{SUBSTRING_NEEDLE}')
        """,
        "sym1_symbols": f"""
            SELECT doc_id, kind, sym AS symbol
            FROM (
              SELECT doc_id, 'fast' AS kind,
                     unnest(regexp_extract_all(text, '{SYMBOL_PATTERNS["fast"]}', 1)) AS sym
              FROM documents
              UNION ALL
              SELECT doc_id, 'slow' AS kind,
                     unnest(regexp_extract_all(text, '{SYMBOL_PATTERNS["slow"]}', 1)) AS sym
              FROM documents
            )
        """,
        "a10_code_subtokens": f"""
            SELECT r.doc_id, r.n_sub_tokens::int AS n_sub_tokens, r.tokens_md5
            FROM (
              SELECT DISTINCT doc_id, content_md5, n_sub_tokens, tokens_md5
              FROM read_parquet('{CODESUB_ROOT}/*/*.parquet')
            ) r
            JOIN documents d ON d.doc_id = r.doc_id AND md5(d.text) = r.content_md5
            WHERE r.doc_id < {SIDE_DOC_CAP}
        """,
        "b8_dense_docids": """
            WITH corpus AS (
              SELECT 'testdata/' || source AS repo,
                     'doc_' || CAST(doc_id AS VARCHAR) AS path,
                     substr(sha256(source || ':' || CAST(doc_id AS VARCHAR)), 1, 40)
                       AS commit_sha,
                     doc_id
              FROM documents
            )
            SELECT row_number() OVER (ORDER BY repo, path, commit_sha) - 1
                     AS dense_id,
                   doc_id, repo
            FROM corpus
        """,
        "a8_japanese": f"""
            SELECT r.doc_id, r.n_jp_tokens::int AS n_jp_tokens, r.tokens_md5
            FROM (
              SELECT DISTINCT doc_id, n_jp_tokens, tokens_md5
              FROM read_parquet('{JAPANESE_ROOT}/*/*.parquet')
            ) r
            JOIN documents d ON d.doc_id = r.doc_id
            WHERE r.doc_id < {SIDE_DOC_CAP}
        """,
        "q9_pagerank": _q9_sql(),
        "q12_doc_iteration": """
            SELECT doc_id, md5(text) AS content_md5,
                   row_number() OVER (ORDER BY doc_id)::int AS rank
            FROM documents
        """,
        "d1_exact_dedup": """
            SELECT md5(text) AS content_md5, min(doc_id) AS keeper,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "d2_minhash_pairs": f"WITH {_SHINGLES}, {_minhash_ctes()} SELECT a, b FROM pairs",
        "d6_dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLES}, {_minhash_ctes()},
            sym AS (
              SELECT a AS s, b AS d FROM pairs
              UNION SELECT b AS s, a AS d FROM pairs
            ),
            reach(id, r) AS (
              SELECT s, d FROM sym
              UNION
              SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s
            ),
            comp AS (
              SELECT id, least(min(r), id) AS cluster_id FROM reach GROUP BY id
            )
            SELECT dd.doc_id,
                   coalesce(c.cluster_id, dd.doc_id) AS cluster_id,
                   (coalesce(c.cluster_id, dd.doc_id) = dd.doc_id)::int AS keep
            FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.id
        """,
        "d3_simhash": _simhash_sql(),
        "d4_ngram_jaccard": f"""
            WITH {_SHINGLES}, {_minhash_ctes()}
            SELECT p.a, p.b,
              round(CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0
                THEN len(list_intersect(sa.sh, sb.sh))::double
                     / len(list_distinct(list_concat(sa.sh, sb.sh)))
                ELSE 0.0 END, 6) AS jaccard
            FROM pairs p
            JOIN shingle_lists sa ON sa.doc_id = p.a
            JOIN shingle_lists sb ON sb.doc_id = p.b
        """,
        "d5_embedding_neardup": f"""
            WITH planes AS (SELECT {_planes_sql_literal()} AS p),
            e AS (
              SELECT vec_id, embedding, {_bucket_sql("embedding")} AS bucket
              FROM embeddings, planes
            )
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round({_cosine_sql("x.embedding", "y.embedding")}, 6) AS cosine
            FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
            WHERE {_cosine_sql("x.embedding", "y.embedding")} >= {NEARDUP_TAU}
        """,
        "e1_cosine_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round({_cosine_sql("embedding", "q.qv")}, 6) AS cosine
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY {_cosine_sql("embedding", "q.qv")} DESC, vec_id ASC
            LIMIT {ANN_K}
        """,
        "e2_lsh_topk": f"""
            WITH planes AS (SELECT {_planes_sql_literal()} AS p),
            q AS (
              SELECT embedding AS qv, {_bucket_sql("embedding")} AS qbucket
              FROM embeddings, planes WHERE vec_id = 0
            )
            SELECT vec_id, round({_cosine_sql("embedding", "q.qv")}, 6) AS cosine
            FROM embeddings, planes, q
            WHERE vec_id <> 0 AND {_bucket_sql("embedding")} = q.qbucket
            ORDER BY {_cosine_sql("embedding", "q.qv")} DESC, vec_id ASC
            LIMIT {ANN_K}
        """,
        "t4_bpe_tokens": r"""
            SELECT doc_id,
              len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "t5_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5('v1:' || doc_id::varchar), 1, 15))::int64 % 1000000
              < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 300000 ELSE 100000 END
        """,
        "t6_token_budget": r"""
            WITH tk AS (
              SELECT doc_id, lang,
                len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::int64 AS n_tokens,
                ('0x' || substr(md5('v1:' || doc_id::varchar), 1, 15))::int64 % 1000000 AS ticket
              FROM documents
            ),
            cum AS (
              SELECT doc_id, lang, n_tokens,
                sum(n_tokens) OVER (PARTITION BY lang ORDER BY ticket, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS c
              FROM tk
            )
            SELECT doc_id, lang, n_tokens FROM cum
            WHERE c <= CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2000
                                 WHEN 'zh' THEN 1000 ELSE 0 END
        """,
        "e3_ivf_topk": f"""
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec FROM embeddings
              WHERE vec_id <> 0 ORDER BY vec_id LIMIT {IVF_CENTROIDS}
            ),
            assign AS (
              SELECT e.vec_id, e.embedding, c.cid,
                row_number() OVER (
                  PARTITION BY e.vec_id
                  ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                           c.cid ASC
                ) AS rn
              FROM embeddings e, cent c WHERE e.vec_id <> 0
            ),
            b AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            probe AS (
              SELECT cid FROM (
                SELECT c.cid,
                  row_number() OVER (
                    ORDER BY list_dot_product(q.qv::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                             c.cid ASC
                  ) AS rn
                FROM cent c, q
              ) WHERE rn <= {IVF_NPROBE}
            )
            SELECT b.vec_id, round({_cosine_sql("b.embedding", "q.qv")}, 6) AS cosine
            FROM b JOIN probe USING (cid), q
            ORDER BY {_cosine_sql("b.embedding", "q.qv")} DESC, b.vec_id ASC
            LIMIT {ANN_K}
        """,
        "t1_lang_id": _lang_id_sql(),
        "t1b_lang_id_nb": f"""
            SELECT r.doc_id, r.lang_nb
            FROM (
              SELECT DISTINCT doc_id, content_md5, lang_nb
              FROM read_parquet('{LANGID_ROOT}/*/*.parquet')
            ) r
            JOIN documents d ON d.doc_id = r.doc_id AND md5(d.text) = r.content_md5
            WHERE r.doc_id < {SIDE_DOC_CAP}
        """,
        "t2_quality_score": _quality_sql(),
        "t3_fingerprint": f"""
            WITH {_SHINGLES}
            SELECT doc_id,
              list_min(list_transform(sh, s -> {_h64("s")})) AS fp_min,
              list_max(list_transform(sh, s -> {_h64("s")})) AS fp_max,
              len(sh) AS n_shingles
            FROM shingle_lists
        """,
        "t8_repetition_stats": r"""
            WITH toks AS (
              SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            tri AS (
              SELECT doc_id, len(t) AS n_tokens,
                list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS tg
              FROM toks
            ),
            bg AS (
              SELECT doc_id,
                unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                  i -> concat_ws(' ', t[i], t[i+1]))) AS g
              FROM toks
            ),
            bgtop AS (
              SELECT doc_id, max(c) AS top
              FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
              GROUP BY doc_id
            )
            SELECT t.doc_id, t.n_tokens,
              round(coalesce(b.top * 2.0 / t.n_tokens, 0.0), 6) AS top_bigram_frac,
              round(CASE WHEN len(tg) > 0
                    THEN 1.0 - len(list_distinct(tg))::double / len(tg)
                    ELSE 0.0 END, 6) AS dup_trigram_frac,
              (top_bigram_frac > 0.18 OR dup_trigram_frac > 0.30) AS repetitious
            FROM tri t LEFT JOIN bgtop b USING (doc_id)
        """,
        "d7_decontaminate": rf"""
            WITH toks AS (
              SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  generate_series(1, greatest(len(t) - 7, 0)),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                 t[i+4], t[i+5], t[i+6], t[i+7]))) AS sh
              FROM toks
            ),
            bench AS (
              SELECT DISTINCT {_h64("g")} AS gh
              FROM (SELECT unnest(sh) AS g FROM grams WHERE doc_id % 97 = 0)
            ),
            hits AS (
              SELECT doc_id, count(*)::int64 AS n
              FROM (SELECT doc_id, {_h64("g")} AS gh
                    FROM (SELECT doc_id, unnest(sh) AS g FROM grams
                          WHERE doc_id % 97 <> 0))
              JOIN bench USING (gh)
              GROUP BY doc_id
            )
            SELECT d.doc_id,
              coalesce(h.n, 0)::int64 AS n_hit_ngrams,
              coalesce(h.n, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "t10_pii_scrub": r"""
            WITH aug AS (
              SELECT doc_id,
                concat_ws(' ', text,
                  'user' || doc_id::varchar || '@example.com',
                  CASE WHEN doc_id % 3 = 0
                       THEN 'call ' || printf('555-%03d-%04d', doc_id % 1000, doc_id % 10000)
                       ELSE 'no phone' END) AS text
              FROM documents
            ),
            -- sequential semantics: phone counts on the email-redacted text,
            -- original case preserved ((?i) matching), mirroring pii_scrub
            st AS (
              SELECT doc_id, text,
                regexp_replace(text,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+',
                  '[EMAIL]', 'g') AS after_email
              FROM aug
            )
            SELECT doc_id,
              len(regexp_extract_all(text,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+'))::int AS n_email,
              len(regexp_extract_all(after_email,
                  '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}'))::int AS n_phone,
              md5(regexp_replace(after_email,
                  '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '[PHONE]', 'g')) AS scrubbed_md5
            FROM st
        """,
        "st2_user_sessions": """
            WITH o AS (
              SELECT user_id, event_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
              count(*)::int64 AS n_events,
              round(sum(value), 6) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "m1_media_meta": """
            SELECT doc_id, 'application/octet-stream' AS mime,
                   length(text)::int AS payload_size,
                   sha256(text) AS payload_sha256
            FROM documents
        """,
        "m2_media_features": _m2_sql(),
    }
