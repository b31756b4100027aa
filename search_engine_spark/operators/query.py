"""Boolean / keyword / phrase query operators (reference Q1-Q7, Q12).

Reference semantics (``InvertedIndexManager.java``):
- Q2 ``searchQuery`` (IIM:697-739): keyword -> posting list -> docs; empty
  keyword -> empty result.
- Q3 ``searchAndQuery`` (IIM:747-819): hash-set intersection across terms.
  Spark shape: count-matching aggregation (``countDistinct(term) == m``) —
  one shuffle, beats iterated self-joins at scale (SURVEY.md §2.5).
- Q4 ``searchOrQuery`` (IIM:827-903): doc-set union -> ``distinct``.
- Q5 ``searchPhraseQuery`` (IIM:951-1101): positional intersection with
  token-order offsets. The reference dedups repeated phrase tokens keeping
  the LAST occurrence's offset (TreeMap, IIM:966-977) — mirrored here.
- Q1 ``FullScanSearcher`` (FullScanSearcher.java:27-40): analyze-everything
  scan; kept as the correctness oracle for the index path.

All operators work on either a decoded-postings DataFrame (index path) or
directly on the corpus (full-scan oracle path).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.analyzers import get_analyzer, tokens_column
from .build import FIELD_SEP
from ..functions.predicates import isin_expr


def analyze_query(keywords: list[str], analyzer: str = "porter") -> list[str]:
    """Reference query analysis: analyze each keyword, drop empties
    (IIM:699-701, 1152-1160). Multi-token keywords keep all tokens."""
    fn = get_analyzer(analyzer)
    out: list[str] = []
    for k in keywords:
        out.extend(fn(k))
    return out


def field_terms(field: str, values: list[str], analyzer: str = "naive") -> list[str]:
    """Analyze field query values and namespace them into the fielded-index
    term space (``lang␟en``, ``path␟util`` with the U+001F separator — see
    ``build_index(fields=…)``).
    The prefix is applied AFTER analysis, mirroring the build side, so the
    analyzer never sees the separator. The returned terms flow through
    every existing query operator (keyword/AND/OR/DAAT) unchanged — a field
    constraint is just another posting list."""
    return [f"{field}{FIELD_SEP}{t}" for t in analyze_query(values, analyzer)]


def postings_for(postings: DataFrame, terms: list[str]) -> DataFrame:
    """S10 seek analog: predicate pushed to the term-sorted parquet scan."""
    if not terms:
        return postings.limit(0)
    return postings.where(isin_expr("term", terms))


def search_keyword(postings: DataFrame, term: str) -> DataFrame:
    """Q2: docIds containing `term` (already-analyzed)."""
    return postings_for(postings, [term]).select("docId").distinct()


def search_and(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Q3: docs containing ALL terms — set intersection as count-matching
    aggregation. Distinct terms only (reference uses a set, IIM:756-760)."""
    ts = sorted(set(terms))
    if not ts:
        return postings.select("docId").limit(0)
    return (
        postings_for(postings, ts)
        .groupBy("docId")
        .agg(F.countDistinct("term").alias("m"))
        .where(F.col("m") == len(ts))
        .select("docId")
    )


def search_or(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Q4: union of doc sets."""
    ts = sorted(set(terms))
    if not ts:
        return postings.select("docId").limit(0)
    return postings_for(postings, ts).select("docId").distinct()


def search_min_should_match(
    postings: DataFrame, terms: list[str], m: int
) -> DataFrame:
    """Q22: docs matching at least ``m`` of the DISTINCT query terms — the
    Lucene ``BooleanQuery.setMinimumNumberShouldMatch`` surface, the standard
    middle ground between the reference's strict AND (IIM:747-819) and OR
    (IIM:827-903). ``m == 1`` degenerates to Q4, ``m == len(terms)`` to Q3;
    ``m`` above the clause count matches nothing (Lucene semantics).

    Scale shape: identical to Q3 — one In-pushed postings scan + one
    partial/final count-matching aggregation. Exactly one shuffle for any
    number of terms; never an iterated self-join."""
    if m <= 0:
        raise ValueError("minimum_should_match must be >= 1")
    ts = sorted(set(terms))
    if not ts or m > len(ts):
        return postings.select("docId").limit(0)
    return (
        postings_for(postings, ts)
        .groupBy("docId")
        .agg(F.countDistinct("term").alias("_m"))
        .where(F.col("_m") >= m)
        .select("docId")
    )


def search_span_first(
    postings_pos: DataFrame, term: str, limit: int
) -> DataFrame:
    """Q24: docs where ``term`` occurs within the first ``limit`` token
    positions (0-based) — the Lucene ``SpanFirstQuery`` surface, the
    title/lead-paragraph matching primitive. Uses the SAME positional
    postings the phrase path decodes (Q5, IIM:951-1101), so at scale this
    is one In-pushed seek + a JVM ``exists`` over the (delta-decoded)
    position array — zero joins; the trailing distinct mirrors Q2 (a no-op
    on the unique (term, docId) invariant, kept for defensive parity)."""
    if limit <= 0:
        return postings_pos.select("docId").limit(0)
    lim = F.lit(limit)
    return (
        postings_pos.where(F.col("term") == term)
        .where(F.exists("positions", lambda p: p < lim))
        .select("docId")
        .distinct()
    )


def percolate_queries(
    spark, queries: dict, analyzer: str = "naive"
) -> DataFrame:
    """Standing-query table for :func:`percolate`: ``{qid: [keywords]}`` →
    analyzed DISTINCT (qid, term) rows. Tiny by construction (the
    registered-alerts table), always broadcast by the consumer."""
    rows = [
        (qid, t)
        for qid, kws in sorted(queries.items())
        for t in sorted(set(analyze_query(list(kws), analyzer)))
    ]
    return spark.createDataFrame(rows, "qid long, term string")


def percolate(
    docs: DataFrame,
    qterms: DataFrame,
    analyzer: str = "naive",
    text: str = "content",
    id_col: str = "docId",
) -> DataFrame:
    """Reverse search — the Lucene/Elasticsearch Percolator shape: given
    standing boolean-AND queries as (qid, term) rows, emit (docId, qid)
    for every doc that contains ALL of a query's terms. The alerting
    primitive: docs stream in, queries stand still.

    Spark shape: tokenize each doc ONCE, explode its DISTINCT terms,
    broadcast-join the (tiny) standing-query table, then ONE
    count-matching aggregation on (docId, qid) — the Q3 AND aggregation
    (IIM:747-819) generalized across all registered queries in a single
    pass over the corpus/batch. One shuffle total for ANY number of
    standing queries; no per-query jobs, no index required (so it
    composes directly with a streaming foreachBatch over incoming docs).
    """
    # (qid, term) made unique up front (tiny table), so the per-(doc, qid)
    # match count can be a plain count(*) — exploded doc terms are DISTINCT
    # per doc by construction — avoiding countDistinct's two-phase agg.
    qterms = qterms.dropDuplicates(["qid", "term"])
    qn = qterms.groupBy("qid").agg(F.count("term").alias("_n"))
    terms = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(tokens_column(F.col(text), analyzer))
        ).alias("term"),
    )
    return (
        terms.join(F.broadcast(qterms), "term")
        .groupBy(id_col, "qid")
        .agg(F.count("term").alias("_m"))
        .join(F.broadcast(qn), "qid")
        .where(F.col("_m") == F.col("_n"))
        .select(id_col, "qid")
    )


def phrase_offsets(terms: list[str]) -> dict[str, int]:
    """Reference phrase dedup quirk (IIM:966-977): repeated tokens keep the
    LAST position offset."""
    return {t: i for i, t in enumerate(terms)}


def _phrase_docs(postings_pos: DataFrame, pairs: list[tuple[str, int]]) -> DataFrame:
    """Docs holding every (term, offset) pair of a phrase at one start: a
    position p with each pair's term at p + offset. One pass over the
    decoded postings, however long the phrase: each position shifts by
    every offset of its term, and a (docId, shifted position) matches when
    it counts every distinct pair. Terms outside the phrase map to no
    offset and drop out. All JVM-side, no Python."""
    offs: dict[str, list[int]] = {}
    for t, o in pairs:
        offs.setdefault(t, []).append(o)
    by_term = F.create_map(
        *[x for t, os in offs.items() for x in (F.lit(t), F.array(*map(F.lit, os)))]
    )
    return (
        postings_pos.select(
            "docId", "term", "positions", F.explode(by_term[F.col("term")]).alias("_off")
        )
        .select("docId", "term", "_off", F.explode("positions").alias("_p"))
        .groupBy("docId", (F.col("_p") - F.col("_off")).alias("_s"))
        .agg(F.countDistinct("term", "_off").alias("_n"))
        .where(F.col("_n") == len(pairs))
        .select("docId")
        .distinct()
    )


def search_phrase(postings_pos: DataFrame, terms: list[str]) -> DataFrame:
    """Q5: docs where the analyzed terms appear consecutively.

    `postings_pos` must carry `positions: array<int>`. Each distinct term
    keeps one offset, the reference's (:func:`phrase_offsets`); the match
    is one shifted-position count over the decoded postings
    (:func:`_phrase_docs`), so the postings decode once for the phrase.
    """
    offs = phrase_offsets(terms)
    if not offs:
        return postings_pos.select("docId").limit(0)
    return _phrase_docs(postings_pos, list(offs.items()))


def search_phrase_shingled(
    segments: DataFrame, tokens: list[str], field: str = "sh"
) -> DataFrame:
    """Q5 phrase search accelerated by a bigram (shingle) field — the
    Lucene ShingleFilter / "common grams" index design.

    Build the index with a shingle pseudo-field over content
    (``corpus.withColumn("sh", col("content"))`` +
    ``build_index(fields={"sh": "shingle:<analyzer>"})``); a phrase of L
    analyzed tokens then matches docs where the L-1 consecutive bigram
    terms appear at consecutive positions. Results are exactly
    :func:`search_phrase` on the unigram positional index — same docIds —
    but the seek touches the (much rarer) bigram posting lists:

    - L = 2: pure membership — the docId-only decode path, ZERO position
      bytes read (``decode_docids`` projects only ``docids`` and its block
      offsets);
    - L >= 3: the standard shifted-position match, but over L-1
      bigram lists whose df is ≪ the unigram df (per-bucket candidate
      volume shrinks by the bigram selectivity, typically orders of
      magnitude for common unigrams).

    Unlike the reference-parity :func:`search_phrase` (which mirrors the
    TreeMap dedup quirk, IIM:966-977), a repeated bigram must match at ALL
    its offsets — bigrams make repeats unambiguous.

    ``tokens`` are the ALREADY-ANALYZED phrase tokens (the same base
    analyzer the shingle field was built with)."""
    from ..functions.analyzers import SHINGLE_SEP
    from ..sources.segments import decode_docids, decode_postings
    from .build import FIELD_SEP

    if len(tokens) < 2:
        # a 1-token "phrase" is a keyword query on the unigram content terms
        # that share the segment store
        if not tokens:
            return segments.select(F.lit(0).cast("long").alias("docId")).limit(0)
        return decode_postings(segments, tokens).select("docId").distinct()
    grams = [
        f"{field}{FIELD_SEP}{tokens[i]}{SHINGLE_SEP}{tokens[i + 1]}"
        for i in range(len(tokens) - 1)
    ]
    if len(grams) == 1:  # 2-token phrase: membership only, no positions
        hits = segments.where(F.col("term") == grams[0])
        return decode_docids(hits).distinct()
    # (term, offset) pairs — duplicates collapse, repeated bigrams at
    # DIFFERENT offsets each constrain the match
    pairs = sorted({(g, i) for i, g in enumerate(grams)})
    pos = decode_postings(
        segments, sorted({g for g, _ in pairs}), with_positions=True
    )
    return _phrase_docs(pos, pairs)


def search_synonyms(
    postings: DataFrame, terms: list[str], synonyms: dict[str, list[str]]
) -> DataFrame:
    """Query-time synonym expansion (the Lucene SynonymGraph shape, query
    side): each query term becomes an OR-group of itself plus its synonyms,
    groups combine with AND — docs matching at least one member of EVERY
    group.

    Same scale shape as :func:`search_fuzzy_and` (expansion groups are the
    general mechanism): the (term, gid) map is tiny and broadcast, the
    posting scan prunes to the expanded term union in ONE ``In`` pushdown,
    and group semantics are a count-matching aggregation over DISTINCT gid
    — one shuffle, no per-group self-joins, index untouched at build time
    (index-time synonym injection would be a ``fields``-style analyzer
    instead)."""
    gmap = []
    for gid, t in enumerate(terms):
        group = {t, *synonyms.get(t, [])}
        gmap.extend((m, gid) for m in sorted(group))
    if not gmap:
        return postings.select("docId").limit(0)
    n_groups = len(terms)
    spark = postings.sparkSession
    gdf = spark.createDataFrame(gmap, "term string, gid int")
    hits = postings_for(postings, sorted({m for m, _ in gmap}))
    return (
        hits.join(F.broadcast(gdf), "term")
        .groupBy("docId")
        .agg(F.countDistinct("gid").alias("_g"))
        .where(F.col("_g") == n_groups)
        .select("docId")
    )


def range_facets(
    result: DataFrame,
    docs: DataFrame,
    col: str,
    edges: list[float],
    id_col: str = "docId",
) -> DataFrame:
    """Numeric histogram facet over a result set: count of matching docs per
    ``[edges[i], edges[i+1])`` bucket of ``col`` — the range-facet sidebar
    (dates, sizes, scores) next to :func:`facet_counts`' categorical one.

    Same scale shape: broadcast semi-join hydration (result ≪ corpus),
    bucket assignment is a pure JVM projection over the literal edge array
    (binary-search shape via ``width_bucket``-style filter count), one
    partial+final count agg. Values below edges[0] or at/above edges[-1]
    land in the open-ended buckets.

    Output: ``(bucket int, lo double, hi double, n long)`` where bucket 0 is
    the open ``v < edges[0]`` bucket (lo NULL), bucket i in 1..len-1 is
    ``[edges[i-1], edges[i])``, and bucket len is ``v >= edges[-1]``
    (hi NULL) — numeric bounds, not formatted labels, so oracle comparison
    is float-exact."""
    if len(edges) < 2 or sorted(edges) != list(edges):
        raise ValueError("edges must be >= 2 ascending values")
    hit = docs.join(F.broadcast(result), id_col, "left_semi")
    # missing values are excluded, not binned (Lucene/ES range-facet rule) —
    # a NULL would otherwise pass no edge test and land in bucket 0
    hit = hit.where(F.col(col).isNotNull())
    e = F.array(*[F.lit(float(x)) for x in edges])
    v = F.col(col).cast("double")
    # bucket index = number of edges <= v  (0 => v < edges[0])
    idx = F.size(F.filter(e, lambda x: x <= v))
    n_edges = len(edges)
    lo = F.when(idx > 0, F.element_at(e, F.greatest(idx, F.lit(1))))
    hi = F.when(idx < n_edges, F.element_at(e, F.least(idx + 1, F.lit(n_edges))))
    return (
        hit.select(idx.alias("bucket"), lo.alias("lo"), hi.alias("hi"))
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").cast("long").alias("n"))
    )


def search_and_not(
    postings: DataFrame, terms: list[str], neg_terms: list[str]
) -> DataFrame:
    """Boolean AND-NOT: docs containing ALL ``terms`` and NONE of
    ``neg_terms``. The reference stops at AND/OR (IIM:747-903); NOT is the
    natural third member and the classic filter-query shape.

    Scale shape: the positive side is :func:`search_and` (one count-matching
    aggregation); the negative side is a LEFT ANTI join against the
    (term-pushdown-filtered) negative posting docIds. Both sides prune to
    their query terms at the parquet scan; the anti join hashes on docId —
    result-set-sized inputs, never the corpus."""
    pos = search_and(postings, terms)
    ns = sorted(set(neg_terms) - set(terms))
    if not ns:
        return pos
    neg = postings_for(postings, ns).select("docId")
    return pos.join(neg, "docId", "left_anti")


def search_prefix(segments: DataFrame, prefix: str, analyzer: str = "naive") -> DataFrame:
    """Prefix term query (term-dictionary range scan): docs containing ANY
    term starting with ``prefix``.

    The reference's TreeMap term dictionary supports this shape via
    ``subMap`` range views (java.util.TreeMap over the IIM:435-485 keyword
    dictionary); here the segment store is term-SORTED parquet, so
    ``startswith`` compiles to a ``StringStartsWith`` pushed filter — the
    scan skips row groups whose term min/max range cannot contain the
    prefix, the parquet analog of a dictionary range seek. No decode happens
    for non-matching rows; matching packed rows decode docIds only.
    """
    from ..sources.segments import decode_docids

    if not prefix:
        return segments.select(F.lit(0).cast("long").alias("docId")).limit(0)
    fn = get_analyzer(analyzer)
    toks = fn(prefix)
    if not toks:
        return segments.select(F.lit(0).cast("long").alias("docId")).limit(0)
    hits = segments.where(F.col("term").startswith(toks[0]))
    # docId-only decode: tf/dl/position blobs never leave the parquet scan
    return decode_docids(hits).distinct()


def regex_terms(
    term_stats: DataFrame, pattern: str, max_expansions: int = 64
) -> DataFrame:
    """Term-dictionary regex expansion (the Lucene ``RegexpQuery`` shape):
    dictionary terms matching ``pattern`` (unanchored find semantics — anchor
    with ``^``/``$`` as usual), ranked (df desc, term asc), capped.

    Patterns should stick to RE2/Java-common constructs (classes, anchors,
    bounded repetition — no backrefs/lookaround) so behavior is portable.
    Scale shape: like fuzzy/prefix, this scans only the TERM DICTIONARY —
    orders of magnitude smaller than postings, embarrassingly parallel,
    JVM `rlike` inside codegen, ranked cap = TakeOrderedAndProject."""
    if not pattern:
        return term_stats.select("term", "df").limit(0)
    return (
        term_stats.where(F.col("term").rlike(pattern))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
    )


def wildcard_like(pattern: str) -> str:
    """Lucene wildcard -> SQL LIKE: ``*`` -> ``%``, ``?`` -> ``_``, with
    literal ``\\ % _`` in the input escaped (default LIKE escape char)."""
    out = []
    for c in pattern:
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in ("\\", "%", "_"):
            out.append("\\" + c)
        else:
            out.append(c)
    return "".join(out)


def wildcard_terms(
    term_stats: DataFrame, pattern: str, max_expansions: int = 64
) -> DataFrame:
    """Term-dictionary wildcard expansion (the Lucene ``WildcardQuery``
    shape): dictionary terms matching ``pattern`` (``*`` = any run, ``?`` =
    one char, whole-term match), ranked (df desc, term asc), capped.

    Same scale shape as :func:`regex_terms`: dictionary-only scan, JVM
    ``LIKE`` inside codegen, ranked cap = TakeOrderedAndProject. A leading
    literal prefix additionally feeds parquet min/max pruning through the
    LIKE's derived StartsWith bound."""
    if not pattern:
        return term_stats.select("term", "df").limit(0)
    return (
        term_stats.where(F.col("term").like(wildcard_like(pattern)))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
    )


def search_wildcard(
    postings: DataFrame, term_stats: DataFrame, pattern: str,
    max_expansions: int = 64,
) -> DataFrame:
    """Wildcard term query: docs containing ANY dictionary term matching
    ``pattern`` — two-stage like fuzzy/regex (bounded dictionary expansion,
    then an OR seek whose literal term list reaches the term-sorted posting
    scan as an ``In`` pushed filter)."""
    terms = [r.term for r in wildcard_terms(term_stats, pattern, max_expansions).collect()]
    return search_or(postings, terms)


def search_regex(
    postings: DataFrame, term_stats: DataFrame, pattern: str,
    max_expansions: int = 64,
) -> DataFrame:
    """Regex term query: docs containing ANY dictionary term matching
    ``pattern`` — two-stage like fuzzy (bounded dictionary expansion, then
    an OR seek whose literal term list reaches the term-sorted posting scan
    as an ``In`` pushed filter)."""
    terms = [r.term for r in regex_terms(term_stats, pattern, max_expansions).collect()]
    return search_or(postings, terms)


def search_proximity(
    postings_pos: DataFrame, term_a: str, term_b: str, window: int = 5
) -> DataFrame:
    """Ordered proximity query: docs where ``term_b`` occurs 1..``window``
    token positions AFTER ``term_a`` (window=1 degenerates to the 2-term
    phrase query, Q5).

    Per-term position sets (salted/multi-batch rows for one doc are
    unioned), then a per-docId
    equi-join and a JVM-side set test — each ``a`` position expands to the
    admissible ``a+1..a+window`` range (``transform`` + ``sequence`` +
    ``flatten``) and matches if it intersects ``b``'s positions. All
    whole-stage-codegen array expressions; no Python, no window function,
    one join keyed on docId over query-term-filtered postings only."""
    if window < 1:
        raise ValueError("window must be >= 1")

    def _positions(t: str, out: str) -> DataFrame:
        return (
            postings_pos.where(F.col("term") == t)
            .groupBy("docId")
            .agg(F.flatten(F.collect_list("positions")).alias(out))
        )

    a = _positions(term_a, "_pa")
    b = _positions(term_b, "_pb")
    reach = F.array_distinct(
        F.flatten(
            F.transform("_pa", lambda x: F.sequence(x + 1, x + F.lit(window)))
        )
    )
    return (
        a.join(b, "docId")
        .where(F.size(F.array_intersect(reach, F.col("_pb"))) > 0)
        .select("docId")
    )


def fuzzy_candidates(
    term_stats: DataFrame, term: str, max_dist: int = 1, max_expansions: int = 64
) -> DataFrame:
    """Term-dictionary fuzzy expansion (the Lucene ``FuzzyQuery`` shape, over
    the reference's IIM:435-485 keyword-dictionary surface): all dictionary
    terms within ``max_dist`` edits of ``term``, ranked by
    (distance asc, df desc, term asc) and capped at ``max_expansions``.

    Scale shape: this scans the TERM DICTIONARY, not the corpus — the
    term-stats table is orders of magnitude smaller than postings and the
    scan is embarrassingly parallel. A length-band prefilter
    (``|len(t) - len(q)| <= max_dist``, a necessary condition for edit
    distance) skips the O(|a|·|b|) Levenshtein for most rows, the distance
    itself is the JVM built-in (whole-stage codegen), and the ranked cap
    compiles to TakeOrderedAndProject — bounded driver output regardless of
    dictionary size."""
    if not term:
        return term_stats.select(
            "term", "df", F.lit(0).alias("dist")
        ).limit(0)
    band = F.abs(F.length("term") - F.lit(len(term))) <= max_dist
    return (
        term_stats.where(band)
        .select("term", "df", F.levenshtein(F.col("term"), F.lit(term)).alias("dist"))
        .where(F.col("dist") <= max_dist)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(max_expansions)
    )


def search_fuzzy(
    postings: DataFrame, term_stats: DataFrame, term: str,
    max_dist: int = 1, max_expansions: int = 64,
) -> DataFrame:
    """Fuzzy keyword query: docs containing ANY dictionary term within
    ``max_dist`` edits of ``term`` (classic typo-tolerant search; the
    reference stops at exact keywords, IIM:697-739).

    Two-stage, like Lucene: (1) expand against the term dictionary
    (:func:`fuzzy_candidates` — bounded ``max_expansions`` collect, a
    dictionary-sized job, never corpus-sized), then (2) seek the expanded
    terms exactly like Q4 — the literal term list reaches the term-sorted
    posting scan as an ``In`` pushed filter (S10 seek analog), so the
    corpus-side cost equals an OR query over ``max_expansions`` terms."""
    cands = [r.term for r in fuzzy_candidates(
        term_stats, term, max_dist, max_expansions
    ).collect()]
    return search_or(postings, cands)


def search_fuzzy_and(
    postings: DataFrame, term_stats: DataFrame, terms: list[str],
    max_dist: int = 1, max_expansions: int = 16,
) -> DataFrame:
    """Multi-term fuzzy AND: a doc matches iff for EVERY query term it
    contains at least one of that term's dictionary expansions — the
    Lucene multi-``FuzzyQuery`` BooleanQuery shape (each term expands
    independently; groups AND together).

    Expansions of different query terms may overlap (one dictionary term
    can satisfy several groups), so the term→group mapping is a small
    exploded (term, gid) relation — broadcast-joined onto the (already
    term-pushed) posting scan — rather than a single-valued CASE. Matching
    is the same count-matching aggregation as Q3, on distinct gid instead
    of distinct term: one shuffle, no self-joins, bounded
    ``len(terms) × max_expansions`` driver state."""
    spark = postings.sparkSession
    groups: list[list[str]] = []
    for t in terms:
        cands = [
            r.term
            for r in fuzzy_candidates(term_stats, t, max_dist, max_expansions).collect()
        ]
        if not cands:
            return postings.select("docId").limit(0)
        groups.append(cands)
    pairs = [(term, gid) for gid, cands in enumerate(groups) for term in cands]
    gmap = F.broadcast(
        spark.createDataFrame(pairs, "term string, gid int")
    )
    all_terms = sorted({t for t, _ in pairs})
    return (
        postings_for(postings, all_terms)
        .join(gmap, "term")
        .groupBy("docId")
        .agg(F.countDistinct("gid").alias("m"))
        .where(F.col("m") == len(groups))
        .select("docId")
    )


def suggest_terms(
    term_stats: DataFrame, term: str, k: int = 3, max_dist: int = 2
) -> DataFrame:
    """Did-you-mean: the top-``k`` dictionary terms near ``term`` by
    (edit distance, document frequency desc, term) — the spell-correction
    companion of :func:`search_fuzzy`, same dictionary-only TakeOrdered
    plan. The exact query term itself (dist 0) ranks first when present,
    which callers use as the "no correction needed" signal."""
    return fuzzy_candidates(term_stats, term, max_dist, k)


def complete_prefix(
    term_stats: DataFrame, prefix: str, k: int = 8
) -> DataFrame:
    """Completion suggester: the top-``k`` dictionary terms extending
    ``prefix``, ranked by document frequency desc (ties term asc) — the
    autocomplete box (ES ``completion`` suggester ranked by popularity),
    next to :func:`suggest_terms`' typo-correction.

    Scale shape: pure dictionary work — a ``StringStartsWith`` predicate
    pushed to the term-sorted stats parquet (contiguous row-group range, the
    same seek as :func:`search_prefix`) and a TakeOrderedAndProject cap.
    Posting lists are never touched; an empty prefix is refused rather than
    ranking the whole vocabulary."""
    if not prefix:
        raise ValueError("completion needs a non-empty prefix")
    return (
        term_stats.where(F.col("term").startswith(prefix))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def related_terms(
    postings: DataFrame,
    term_stats: DataFrame,
    term: str,
    n_docs: int,
    k: int = 10,
    min_codf: int = 2,
) -> DataFrame:
    """Related searches: dictionary terms co-occurring with ``term``, ranked
    by pointwise mutual information ``ln(codf·N / (df·df_seed))`` — the
    standard query-expansion / "related searches" signal (the reference has
    no co-occurrence surface; this is posting-list algebra over its Q2
    result shape).

    Returns (term, codf, pmi) with codf = co-occurring doc count, top-``k``
    by (pmi desc, term asc), dropping terms seen together fewer than
    ``min_codf`` times (PMI is noise at codf 1).

    Scale shape: df_seed is a single-row term-stats lookup (the Q6 point
    read — inlined as a literal, so no scalar cross join appears in the
    plan); the seed doc set comes from a term-pushed scan; the
    co-occurrence count is ONE equi-join on docId (seed side is df_seed
    rows — let AQE pick broadcast vs shuffle; never a cartesian) followed
    by one partial+final count agg over (term); the df join for PMI touches
    only the ≤ |co-vocabulary| surviving terms and the ranked cap is
    TakeOrderedAndProject. No windows, no Python."""
    seed_row = term_stats.where(F.col("term") == term).select("df").collect()
    if not seed_row:
        return postings.select(
            "term", F.lit(0).cast("long").alias("codf"),
            F.lit(0.0).alias("pmi"),
        ).limit(0)
    df_seed = float(seed_row[0][0])
    seed = search_keyword(postings, term)
    co = (
        postings.join(seed, "docId")
        .where(F.col("term") != term)
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("codf"))
        .where(F.col("codf") >= min_codf)
    )
    return (
        co.join(term_stats.select("term", "df"), "term")
        .select(
            "term",
            "codf",
            F.log(
                F.col("codf") * F.lit(float(n_docs))
                / (F.col("df").cast("double") * F.lit(df_seed))
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("term"))
        .limit(k)
    )


def significant_terms(
    result: DataFrame,
    postings: DataFrame,
    term_stats: DataFrame,
    n_fg: int,
    n_docs: int,
    k: int = 10,
    min_fg: int = 2,
    id_col: str = "docId",
) -> DataFrame:
    """Significant-terms aggregation (the ES ``significant_terms`` JLH
    heuristic): terms over-represented in the result set relative to the
    corpus background — unlike :func:`related_terms` (PMI around ONE seed
    term) this scores every term of an ARBITRARY result set, the
    "what makes these hits special" panel.

    JLH = (fg_pct − bg_pct) · (fg_pct / bg_pct) with fg_pct = fg_df/n_fg
    and bg_pct = df/N — the absolute-lift × relative-lift product that
    suppresses both stopwords (high fg_pct but no lift) and one-off rarities
    (huge lift but no weight). ``min_fg`` drops noise terms seen in fewer
    than that many hits. ``n_fg`` is the caller's result-set size (they
    usually know it; one bounded scalar count otherwise).

    Scale shape: the result broadcasts into a semi-join that prunes the
    posting scan to hit docs, ONE partial+final distinct-doc count per term,
    then a broadcast-joinable term-stats lookup for bg df and a TakeOrdered
    cap — no windows, no self-joins, nothing corpus-sized past the first
    semi-join."""
    if n_fg <= 0 or n_docs <= 0:
        raise ValueError("n_fg and n_docs must be positive")
    fg = (
        postings.join(
            F.broadcast(result.select(F.col(id_col).alias("docId"))),
            "docId", "left_semi",
        )
        .groupBy("term")
        .agg(F.countDistinct("docId").cast("long").alias("fg_df"))
        .where(F.col("fg_df") >= min_fg)
    )
    fg_pct = F.col("fg_df") / F.lit(float(n_fg))
    bg_pct = F.col("df").cast("double") / F.lit(float(n_docs))
    return (
        fg.join(term_stats.select("term", "df"), "term")
        .select(
            "term",
            "fg_df",
            F.col("df").cast("long").alias("df"),
            ((fg_pct - bg_pct) * (fg_pct / bg_pct)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(k)
    )


def facet_counts(
    result: DataFrame, docs: DataFrame, fields: list[str], id_col: str = "docId"
) -> DataFrame:
    """Facet aggregation: for each metadata field in ``fields``, the count of
    matching documents per field value — the standard search-results sidebar
    (the reference has no metadata columns; this is the natural companion of
    its Q2-Q4 result sets over a corpus that does).

    Scale shape: the result set broadcasts (result ≪ corpus, the S4
    hydration assumption), the semi-join prunes the corpus scan to matched
    rows with only ``fields`` + id in ReadSchema, and ALL fields unpivot
    via ``stack`` into (facet, value) BEFORE a single partial+final count
    aggregation — one shuffle total regardless of len(fields), never one
    job per facet."""
    if not fields:
        return docs.select(
            F.lit("").alias("facet"), F.lit("").alias("value"),
            F.lit(0).cast("long").alias("n"),
        ).limit(0)
    hit = docs.join(F.broadcast(result), id_col, "left_semi")
    stacked = hit.select(
        F.expr(
            "stack({}, {})".format(
                len(fields),
                ", ".join(
                    f"'{f}', cast(`{f}` as string)" for f in fields
                ),
            )
        ).alias("facet", "value")
    )
    return stacked.groupBy("facet", "value").agg(
        F.count("*").cast("long").alias("n")
    )


def stats_agg(
    result: DataFrame, docs: DataFrame, cols: list[str], id_col: str = "docId"
) -> DataFrame:
    """Metric stats aggregation scoped to a search result: for each numeric
    field in ``cols``, the (n, ndv, min, max, sum, avg) of matching docs —
    the ES ``stats`` + ``cardinality`` aggregation pair next to
    :func:`facet_counts`' bucket one (the reference has no numeric metadata;
    this is the standard results-page summary over a corpus that does).

    Nulls are excluded per-field (the ES rule: missing values don't count),
    which is why ``n`` can differ across fields.

    Scale shape: same as facets — broadcast semi-join prune (result ≪
    corpus, only ``cols`` + id in ReadSchema), ALL fields unpivot via a
    struct-array explode before ONE partial+final aggregation keyed on the
    field name
    (bounded groups = len(cols)); the distinct count rewrites to the
    standard two-phase expand, still one job. No windows, no Python."""
    if not cols:
        return docs.sparkSession.createDataFrame(
            [], "col string, n long, ndv long, min double, max double, "
                "sum double, avg double",
        )
    hit = docs.join(F.broadcast(result), id_col, "left_semi")
    # struct-array unpivot (not a stack() SQL string): column names are
    # data here — user-supplied names with quotes/backticks must not be
    # parsed as SQL
    pairs = F.array(*[
        F.struct(
            F.lit(c).alias("col"), F.col(c).cast("double").alias("v")
        )
        for c in cols
    ])
    stacked = (
        hit.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.col").alias("col"), F.col("_p.v").alias("v"))
        .where(F.col("v").isNotNull())
    )
    return stacked.groupBy("col").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("v").cast("long").alias("ndv"),
        F.min("v").alias("min"),
        F.max("v").alias("max"),
        F.sum("v").alias("sum"),
        F.avg("v").alias("avg"),
    )


def percentiles_agg(
    result: DataFrame,
    docs: DataFrame,
    col: str,
    percentiles: list[float],
    id_col: str = "docId",
) -> DataFrame:
    """Exact percentiles of ``col`` over the matching docs — the ES
    ``percentiles`` aggregation, computed exactly (SQL-standard
    PERCENTILE_CONT linear interpolation, the R-7 rule) rather than with
    t-digest: result sets are hydration-sized (the S4 assumption), so the
    exact sort is affordable and oracle-comparable.

    Output: ``(p double, value double)`` one row per requested fraction.

    Scale shape: broadcast semi-join prune, then ONE ``percentile`` agg
    computes every requested fraction in a single sort-based pass over the
    hit values (never one job per fraction); ``posexplode`` of the
    len(percentiles)-element array maps back to rows driver-free. The
    sort is bounded by |hits|, not the corpus — for corpus-scale inputs
    swap in ``percentile_approx`` (same plan shape, sketch-based)."""
    ps = [float(p) for p in percentiles]
    if not ps or any(not (0.0 <= p <= 1.0) for p in ps):
        raise ValueError("percentiles must be non-empty fractions in [0, 1]")
    pcol = F.array(*[F.lit(p) for p in ps])
    v = F.col(col).cast("double")
    hit = docs.join(F.broadcast(result), id_col, "left_semi").where(v.isNotNull())
    return (
        hit.agg(F.percentile(v, pcol).alias("vals"))
        .select(F.posexplode("vals").alias("i", "value"))
        .select(F.element_at(pcol, F.col("i") + 1).alias("p"), "value")
    )


def date_histogram(
    events: DataFrame,
    ts_col: str,
    interval: str = "day",
    value_col: str | None = None,
) -> DataFrame:
    """Calendar-interval date histogram — the ES ``date_histogram``
    aggregation: per-bucket event count plus an optional metric sum, with
    buckets anchored by ``date_trunc`` (so 'day'/'hour'/'month' are true
    calendar buckets, not fixed-width epochs). Callers scope the input with
    an ordinary filter first (query context), keeping the predicate inside
    the scan pushdown.

    Output: ``(bucket string 'yyyy-MM-dd HH:mm:ss', n long[, sum_value
    double])``. Bucket boundaries follow ``spark.sql.session.timeZone``
    (how Spark's ``date_trunc`` interprets instants) — pin it (the
    engine's ``get_spark`` sets UTC) when results must match an engine
    that reads the same timestamps as naive UTC, e.g. the DuckDB oracle.

    Scale shape: one partial+final aggregation keyed on the truncated
    timestamp (pure JVM projection); bucket cardinality is time-range /
    interval, independent of row count, so the final stage is tiny. Null
    timestamps are excluded (the ES missing rule)."""
    b = F.date_trunc(interval, F.col(ts_col))
    g = events.where(F.col(ts_col).isNotNull()).groupBy(
        F.date_format(b, "yyyy-MM-dd HH:mm:ss").alias("bucket")
    )
    aggs = [F.count("*").cast("long").alias("n")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("double")).alias("sum_value"))
    return g.agg(*aggs)


def full_scan_search(corpus: DataFrame, keywords: list[str], analyzer: str = "porter") -> DataFrame:
    """Q1 oracle: docs whose analyzed token set contains ALL query tokens."""
    terms = analyze_query(keywords, analyzer)
    toks = tokens_column(F.col("content"), analyzer)
    df = corpus.withColumn("_toks", toks)
    cond = F.lit(True)
    for t in sorted(set(terms)):
        cond = cond & F.array_contains("_toks", t)
    return df.where(cond).select("docId")


def doc_frequency(term_stats: DataFrame, term: str) -> DataFrame:
    """Q6 ``getDocumentFrequency`` (IIM:1331-1361) via the term-stats table."""
    return term_stats.where(F.col("term") == term).select("term", "df")


def fetch_documents(result: DataFrame, corpus: DataFrame) -> DataFrame:
    """S4 semi-join shape (IIM:720-726): hydrate matched docIds with content.
    Result sets are tiny vs the corpus — broadcast them."""
    return corpus.join(F.broadcast(result), "docId", "left_semi")


def document_iterator(corpus: DataFrame) -> DataFrame:
    """Q12 ``documentIterator`` (IIM:905-938): all docs in docId order."""
    return corpus.orderBy("docId")


def delete_documents(keyword: str) -> None:
    """B7 parity surface: declared but unimplemented in the reference
    (``UnsupportedOperationException``, IIM:1375-1377) — this mirror keeps
    the parity map honest. The engine's REAL deletion path lives in
    ``operators/delete.py`` (tombstone sets + query-side anti-filter +
    ``purge_deletes`` segment rewrite), going beyond the reference."""
    raise NotImplementedError("deletion is unimplemented, mirroring IIM:1375-1377")


# --- nested boolean queries (the Lucene BooleanQuery shape) ----------------
#
# Tree nodes: ("term", token) | ("and", [children]) | ("or", [children]) |
# ("not", child). NOT is only meaningful under a positively-satisfiable
# tree (Lucene's MUST_NOT rule): a query that matches documents containing
# NONE of its terms would need a corpus scan, not an index seek.


def bool_leaf_terms(tree) -> list[str]:
    """All distinct leaf terms of a boolean tree, sorted."""
    kind = tree[0]
    if kind == "term":
        return [tree[1]]
    if kind == "not":
        return bool_leaf_terms(tree[1])
    return sorted({t for child in tree[1] for t in bool_leaf_terms(child)})


def _bool_eval_py(tree, present: set) -> bool:
    kind = tree[0]
    if kind == "term":
        return tree[1] in present
    if kind == "not":
        return not _bool_eval_py(tree[1], present)
    if kind == "and":
        return all(_bool_eval_py(c, present) for c in tree[1])
    return any(_bool_eval_py(c, present) for c in tree[1])


def _bool_eval_col(tree, terms_col: Column) -> Column:
    kind = tree[0]
    if kind == "term":
        return F.array_contains(terms_col, tree[1])
    if kind == "not":
        return ~_bool_eval_col(tree[1], terms_col)
    cols = [_bool_eval_col(c, terms_col) for c in tree[1]]
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if kind == "and" else (out | c)
    return out


def search_bool(postings: DataFrame, tree) -> DataFrame:
    """Arbitrarily nested boolean query over the index — AND/OR/NOT trees
    like ``("and", [("term","spark"), ("or",[...]), ("not", ...)])``
    (the reference stops at flat AND/OR, IIM:747-903; this is the Lucene
    BooleanQuery composition over the same posting lists).

    Rejects purely negative trees (true on a document containing none of
    the leaf terms) up front — those are corpus scans, not index queries.

    Scale shape: ONE plan regardless of nesting depth — the leaf-term
    posting scan (usual ``In`` pushdown) aggregates to a per-doc matched
    term set (one partial+final ``collect_set`` shuffle, bounded by
    |leaf terms| per doc), and the whole tree compiles to a single
    ``array_contains`` boolean expression inside whole-stage codegen. No
    per-operator joins, no recursion at execution time."""
    if _bool_eval_py(tree, set()):
        raise ValueError(
            "purely negative boolean tree (matches docs with none of its "
            "terms) — add at least one positive clause"
        )
    leaves = bool_leaf_terms(tree)
    ts = (
        postings_for(postings, leaves)
        .groupBy("docId")
        .agg(F.collect_set("term").alias("_ts"))
    )
    return ts.where(_bool_eval_col(tree, F.col("_ts"))).select("docId")


def parse_bool(query: str, analyzer: str = "naive"):
    """Parse ``"spark AND (join OR merge) AND NOT scan"`` into a boolean
    tree for :func:`search_bool`. Precedence NOT > AND > OR; parentheses
    group; bare adjacency is invalid (be explicit). Each term analyzes with
    ``analyzer``; a term that analyzes to several tokens becomes their AND
    (the full-scan multi-token convention); a term the analyzer drops
    entirely (e.g. a stop word) is rejected."""
    toks = re.findall(r"\(|\)|[^\s()]+", query)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take(expected=None):
        nonlocal pos
        if pos >= len(toks):
            raise ValueError(f"unexpected end of query: {query!r}")
        t = toks[pos]
        if expected is not None and t != expected:
            raise ValueError(f"expected {expected!r}, got {t!r} in {query!r}")
        pos += 1
        return t

    def atom():
        t = peek()
        if t == "(":
            take("(")
            node = or_expr()
            take(")")
            return node
        if t in (None, ")", "AND", "OR", "NOT"):
            raise ValueError(f"expected a term, got {t!r} in {query!r}")
        word = take()
        analyzed = analyze_query([word], analyzer)
        if not analyzed:
            raise ValueError(f"term {word!r} analyzes to nothing ({analyzer})")
        if len(analyzed) == 1:
            return ("term", analyzed[0])
        return ("and", [("term", a) for a in analyzed])

    def unary():
        if peek() == "NOT":
            take("NOT")
            return ("not", unary())
        return atom()

    def and_expr():
        node = unary()
        children = [node]
        while peek() == "AND":
            take("AND")
            children.append(unary())
        return children[0] if len(children) == 1 else ("and", children)

    def or_expr():
        node = and_expr()
        children = [node]
        while peek() == "OR":
            take("OR")
            children.append(and_expr())
        return children[0] if len(children) == 1 else ("or", children)

    tree = or_expr()
    if pos != len(toks):
        raise ValueError(f"trailing input {toks[pos:]!r} in {query!r}")
    return tree


def search_sloppy_phrase(
    postings_pos: DataFrame, terms: list[str], slop: int = 0
) -> DataFrame:
    """Ordered sloppy phrase: docs where the terms occur IN ORDER with at
    most ``slop`` extra tokens between consecutive terms (``slop=0`` is the
    exact n-term phrase; 2 terms with ``slop=w-1`` is
    :func:`search_proximity`) — the Lucene ordered-``PhraseQuery``-with-slop
    / SpanNear(ordered) shape, generalized to n terms.

    Fold over terms: carry the set of admissible END positions; at each
    step keep the next term's positions reachable within ``1..slop+1`` of
    some carried position. All JVM array expressions (``filter``/``exists``
    over per-doc position sets — O(|A|·|B|) per doc, bounded by doc
    length), per-docId equi-joins on query-term-filtered postings only, no
    Python, no window function.

    Repeated terms keep ALL their positions here (each fold step re-reads
    the term's full position set), unlike Q5's reference last-offset quirk
    — the two operators intentionally differ on that corner."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if not terms:
        return postings_pos.select("docId").limit(0)

    def _positions(t: str, out: str) -> DataFrame:
        return (
            postings_pos.where(F.col("term") == t)
            .groupBy("docId")
            .agg(F.flatten(F.collect_list("positions")).alias(out))
        )

    base = _positions(terms[0], "_acc")
    for i, term in enumerate(terms[1:], start=1):
        nxt = _positions(term, "_pb")
        step = F.filter(
            F.col("_pb"),
            lambda pb: F.exists(
                F.col("_acc"),
                lambda pa: (pb - pa >= F.lit(1)) & (pb - pa <= F.lit(slop + 1)),
            ),
        )
        base = (
            base.join(nxt, "docId")
            .select("docId", step.alias("_acc"))
            .where(F.size("_acc") > 0)
        )
    return base.select("docId")
