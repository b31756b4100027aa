"""Unified Lucene-style query-string parser + one-plan execution.

The engine's 90+ operators each have a programmatic surface; this module
closes the last UX gap between them and ONE query box (the Lucene
``QueryParser`` / Elasticsearch ``query_string`` shape, over the
reference's query surfaces IIM:697-903):

    spark AND "table scan"~1 AND name:foo~1 AND n_chars:[100 TO 400]
      AND pre* AND NOT merge

Grammar (explicit operators, like :func:`..query.parse_bool` — bare
adjacency is rejected rather than silently OR'd):

- ``AND`` / ``OR`` / ``NOT`` with parentheses; precedence NOT > AND > OR
- ``term`` — analyzed; multi-token analysis becomes the AND of its tokens
- ``"a b c"`` — exact phrase (positions); ``"a b"~N`` — ordered sloppy
  phrase with slop N
- ``term~`` / ``term~N`` — fuzzy (edit distance ≤ N, default 1),
  dictionary-expanded like Lucene FuzzyQuery
- ``term^W`` / ``"a b"^W`` — scoring boost (matching unchanged;
  :func:`rank_query_string` multiplies the BM25 contribution by W)
- ``pre*`` — prefix (term-dictionary range seek)
- ``te?m*`` — wildcard (Lucene ``WildcardQuery``: dictionary ``LIKE``
  expansion, ``*``/``?``, whole-term, constant-score; fieldable)
- ``/m[ae]rge/`` — regexp term (Lucene ``RegexpQuery``: anchored
  dictionary ``rlike`` expansion, constant-score)
- ``field:term`` / ``field:"a b"[~N]`` / ``field:(a OR "b c")`` — fielded
  term / fielded phrase / field GROUP over a ``build_index(fields={...})``
  index (field positions are their own token stream, so adjacency is
  phrase-IN-field; a group fields every leaf inside it)
- ``col:[lo TO hi]`` — numeric range over a corpus metadata column
  (requires ``corpus``); Lucene brackets: ``[ ]`` inclusive, ``{ }``
  exclusive (mixable), ``*`` = open end (``col:[100 TO *]``)

Execution (:func:`search_parsed`) compiles the WHOLE tree to one plan in
the :func:`..query.search_bool` shape, generalized to heterogeneous
leaves: every leaf contributes tagged ``(docId, leaf_id)`` rows —

- term / fielded / fuzzy-expansion leaves share ONE ``In``-pushed posting
  decode with a broadcast (term → leaf) fanout;
- phrase leaves share ONE positional decode (their own terms only);
- prefix leaves are ``StringStartsWith``-pushed segment seeks;
- range leaves are corpus column filters (parquet min/max pruning);

— then one ``collect_set(leaf_id)`` agg per docId and the tree folds into
a single codegen boolean over ``array_contains``. Leaf count is
query-bounded, so the whole query costs a couple of pushed scans + one
shuffle regardless of nesting. Purely negative trees are rejected (they
match "documents containing none of the terms" — a corpus scan, not an
index query)."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .query import analyze_query, field_terms

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<quoted>"[^"]*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?)   # "phrase"[~N][^W]
      | (?P<regex>/(?:[^/\\]|\\.)+/)   # /pattern/ regexp term query
      | (?P<range>[\[\{][^\]\}]*[\]\}])   # [lo TO hi] / {lo TO hi} / [* TO hi]
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<colon>:)
      | (?P<word>[^\s():\[\]"]+)       # bare term incl. ~N / * suffixes
    )""",
    re.VERBOSE,
)


def _scan(query: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(query):
        m = _TOKEN.match(query, pos)
        if not m or m.end() == pos:
            if query[pos:].strip():
                raise ValueError(f"cannot tokenize {query[pos:]!r}")
            break
        pos = m.end()
        for kind in ("quoted", "regex", "range", "lparen", "rparen", "colon", "word"):
            v = m.group(kind)
            if v is not None:
                toks.append((kind, v))
                break
    return toks


def _leaf_from_word(word: str, analyzer: str, field: str | None):
    """One bare word (possibly with ~N / * / ^W suffix) -> leaf node(s)."""
    m = re.fullmatch(r"(.+?)\^(\d+(?:\.\d+)?)", word)
    if m:
        # boost is a SCORING annotation only (Lucene ^W): matching is
        # unchanged, rank_query_string multiplies the term's BM25
        # contribution. Boosting a constant-score leaf (fuzzy/prefix) is
        # legal and inert, same as Lucene's constant-score rewrite.
        return ("boost", float(m.group(2)),
                _leaf_from_word(m.group(1), analyzer, field))
    m = re.fullmatch(r"(.+?)~(\d*)", word)
    if m:
        base, d = m.group(1), m.group(2)
        toks = analyze_query([base], analyzer)
        if len(toks) != 1:
            raise ValueError(f"fuzzy term {word!r} must analyze to one token")
        if field is not None:
            raise ValueError("fuzzy is not supported on fielded terms")
        return ("fuzzy", toks[0], int(d) if d else 1)
    if (
        word.endswith("*") and len(word) > 1
        and "*" not in word[:-1] and "?" not in word
    ):
        if field is not None:
            # fielded trailing-star routes to the wildcard leaf: the
            # namespaced LIKE 'field<SEP>pre%' is the same dictionary
            # range, just without the bare-prefix pushed-seek fast path
            from .query import FIELD_SEP

            return ("wildcard", f"{field}{FIELD_SEP}{word.lower()}")
        # normalize at PARSE time with the same analyzer execution uses —
        # the leaf carries the final dictionary prefix, so cost estimation
        # (budget gate / explain) and the pushed seek can never disagree
        toks = analyze_query([word[:-1]], analyzer)
        if len(toks) != 1:
            raise ValueError(f"prefix {word!r} must analyze to one token")
        return ("prefix", toks[0])
    if "*" in word or "?" in word:
        # Lucene WildcardQuery: dictionary expansion, whole-term match,
        # constant-score. Like Lucene, wildcards are NOT analyzed (only
        # case-folded) — stemming 'quer*' would break the user's pattern.
        pat = word.lower()
        if field is not None:
            from .query import FIELD_SEP  # namespaced dictionary subspace

            pat = f"{field}{FIELD_SEP}{pat}"
        return ("wildcard", pat)
    if field is not None:
        toks = field_terms(field, [word], analyzer)
        if not toks:
            raise ValueError(f"{field}:{word} analyzes to nothing")
        if len(toks) == 1:
            return ("term", toks[0])
        return ("and", [("term", t) for t in toks])
    toks = analyze_query([word], analyzer)
    if not toks:
        raise ValueError(f"term {word!r} analyzes to nothing ({analyzer})")
    if len(toks) == 1:
        return ("term", toks[0])
    return ("and", [("term", t) for t in toks])


def parse_query(query: str, analyzer: str = "naive"):
    """Parse a Lucene-style query string into a tree for
    :func:`search_parsed` (term leaves are compatible with
    :func:`..query.search_bool` trees)."""
    toks = _scan(query)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take():
        nonlocal pos
        if pos >= len(toks):
            raise ValueError(f"unexpected end of query: {query!r}")
        t = toks[pos]
        pos += 1
        return t

    def phrase_node(v: str, field: str | None):
        """Shared "body"[~N][^W] handling for bare and fielded phrases."""
        m = re.fullmatch(r'"([^"]*)"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?', v)
        body, slop = m.group(1), int(m.group(2) or 0)
        if field is None:
            terms = analyze_query(body.split(), analyzer)
        else:
            # fielded phrase: positions are recorded per FIELD token stream
            # (build_segments_combined passes with_positions to every
            # field's miniblocks), so adjacency over the namespaced terms
            # is exactly phrase-in-field
            terms = field_terms(field, body.split(), analyzer)
        if not terms:
            where = f'{field}:"{body}"' if field else f'"{body}"'
            raise ValueError(f"phrase {where} analyzes to nothing")
        node = (("term", terms[0]) if len(terms) == 1 and slop == 0
                else ("phrase", tuple(terms), slop))
        if m.group(3) is not None:
            return ("boost", float(m.group(3)), node)
        return node

    def atom(field=None):
        kind, v = peek()
        if kind == "lparen":
            take()
            node = or_expr(field)
            k2, _ = take()
            if k2 != "rparen":
                raise ValueError(f"missing ')' in {query!r}")
            return node
        if kind == "quoted":
            take()
            return phrase_node(v, field)
        if kind == "regex":
            # /pattern/ — Lucene RegexpQuery over the term dictionary
            # (anchored to whole-term match, like Lucene); constant-score
            # dictionary expansion, NOT analyzed.
            take()
            if field is not None:
                raise ValueError("regexp is not supported on fielded terms")
            return ("regexterm", f"^(?:{v[1:-1]})$")
        if kind != "word":
            raise ValueError(f"expected a term, got {v!r} in {query!r}")
        take()
        word = v
        k2, v2 = peek()
        if k2 == "colon" and field is not None:
            raise ValueError(
                f"nested field {word!r} inside a {field}:(...) group")
        if k2 == "colon":  # field:value | col:[lo TO hi] | field:(...)
            take()
            k3, v3 = peek()
            if k3 == "lparen":
                # Lucene field grouping: title:(a OR "b c") — every leaf
                # in the group is fielded
                take()
                node = or_expr(word)
                k4, _ = take()
                if k4 != "rparen":
                    raise ValueError(f"missing ')' in {word}:(...) group")
                return node
            k3, v3 = take()
            if k3 == "range":
                # Lucene range brackets: [ ] inclusive, { } exclusive
                # (mixable), * = open end
                m = re.fullmatch(r"([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])", v3)
                if not m:
                    raise ValueError(f"malformed range {v3!r} (use [lo TO hi])")
                lo = None if m.group(2) == "*" else float(m.group(2))
                hi = None if m.group(3) == "*" else float(m.group(3))
                if lo is None and hi is None:
                    raise ValueError(
                        f"range {word}:{v3} has no bounds (use a wildcard "
                        "or exists-style query instead)")
                return ("range", word, lo, hi,
                        m.group(1) == "[", m.group(4) == "]")
            if k3 == "quoted":
                return phrase_node(v3, word)
            if k3 != "word":
                raise ValueError(f"expected a value after {word}:")
            return _leaf_from_word(v3, analyzer, word)
        if word in ("AND", "OR", "NOT"):
            raise ValueError(f"operator {word!r} needs an operand in {query!r}")
        return _leaf_from_word(word, analyzer, field)

    def unary(field=None):
        kind, v = peek()
        if kind == "word" and v == "NOT":
            take()
            return ("not", unary(field))
        return atom(field)

    def and_expr(field=None):
        children = [unary(field)]
        while peek() == ("word", "AND"):
            take()
            children.append(unary(field))
        k, v = peek()
        if k is not None and not (k == "rparen" or (k == "word" and v == "OR")):
            raise ValueError(
                f"bare adjacency near {v!r} — join terms with AND/OR "
                f"explicitly in {query!r}"
            )
        return children[0] if len(children) == 1 else ("and", children)

    def or_expr(field=None):
        children = [and_expr(field)]
        while peek() == ("word", "OR"):
            take()
            children.append(and_expr(field))
        return children[0] if len(children) == 1 else ("or", children)

    tree = or_expr()
    if pos != len(toks):
        raise ValueError(f"trailing input {toks[pos:]!r} in {query!r}")
    return tree


# --- execution -------------------------------------------------------------


def _collect_leaves(tree, out: list):
    kind = tree[0]
    if kind in ("and", "or"):
        for c in tree[1]:
            _collect_leaves(c, out)
    elif kind == "not":
        _collect_leaves(tree[1], out)
    elif kind == "boost":  # scoring-only annotation, transparent to matching
        _collect_leaves(tree[2], out)
    else:
        if tree not in out:
            out.append(tree)


def _eval_py(tree, present: set) -> bool:
    kind = tree[0]
    if kind == "and":
        return all(_eval_py(c, present) for c in tree[1])
    if kind == "or":
        return any(_eval_py(c, present) for c in tree[1])
    if kind == "not":
        return not _eval_py(tree[1], present)
    if kind == "boost":
        return _eval_py(tree[2], present)
    return tree in present


def _eval_col(tree, ids: dict, col: Column) -> Column:
    kind = tree[0]
    if kind == "and":
        out = None
        for c in tree[1]:
            e = _eval_col(c, ids, col)
            out = e if out is None else (out & e)
        return out
    if kind == "or":
        out = None
        for c in tree[1]:
            e = _eval_col(c, ids, col)
            out = e if out is None else (out | e)
        return out
    if kind == "not":
        return ~_eval_col(tree[1], ids, col)
    if kind == "boost":
        return _eval_col(tree[2], ids, col)
    return F.array_contains(col, F.lit(ids[tree]))


class QueryBudgetExceeded(ValueError):
    """The parsed query's index-candidate upper bound (Σ df over its
    term/expansion/prefix leaves + min-df per phrase — dictionary stats
    only, zero postings touched) exceeds the caller's ``max_candidates``
    budget. At 10^12 files a stray ``e*`` or ``/./`` drags posting lists
    the size of the corpus into a serving job; the planner must refuse
    EXPLICITLY, naming the bound, so the caller can tighten the query or
    route it to a batch tier. The same cost-model shape as
    :class:`..codesearch.FullScanRefused`."""


def _expand_multiterm(term_stats, leaf, max_expansions):
    """Dictionary expansion [(term, df), ...] for a fuzzy / wildcard /
    regexterm leaf — the ONE place each family's expansion runs, shared by
    the execution plan, the budget gate, and :func:`explain_parsed`."""
    from .query import fuzzy_candidates, regex_terms, wildcard_terms

    if leaf[0] == "fuzzy":
        rows = fuzzy_candidates(term_stats, leaf[1], leaf[2], max_expansions)
    elif leaf[0] == "wildcard":
        rows = wildcard_terms(term_stats, leaf[1], max_expansions)
    else:  # regexterm
        rows = regex_terms(term_stats, leaf[1], max_expansions)
    return [(r.term, int(r.df)) for r in rows.select("term", "df").collect()]


def _candidate_bound(term_stats, leaves, expanded):
    """Per-leaf upper bounds on tagged rows the one-plan execution can
    produce, from dictionary stats only: df per term leaf, min-df per
    phrase (every constituent must contain a match), Σ expansion df per
    fuzzy/wildcard/regexterm, Σ df over prefix-matched dictionary terms
    (ONE agg row per prefix — never a per-term collect; a broad prefix on
    a 10^12-file dictionary must not OOM the driver inside the planner).
    Range leaves bound to None (corpus filter, not index candidates).

    THE cost model — the budget gate and :func:`explain_parsed` both read
    it, so the bound the gate enforces is the bound explain reports.
    Returns (total_bound, has_range, {leaf: bound|None},
    {prefix_leaf: n_dictionary_terms})."""
    from ..sources.segments import term_dfs

    dfs = term_dfs(term_stats, [l[1] for l in leaves if l[0] == "term"]
                   + [t for l in leaves if l[0] == "phrase" for t in l[1]])
    per_leaf: dict = {}
    prefix_counts: dict = {}
    bound, has_range = 0, False
    for leaf in leaves:
        if leaf[0] == "term":
            per_leaf[leaf] = dfs.get(leaf[1], 0)
        elif leaf[0] == "phrase":
            per = [dfs.get(t, 0) for t in leaf[1]]
            per_leaf[leaf] = min(per) if per else 0
        elif leaf[0] in ("fuzzy", "wildcard", "regexterm"):
            per_leaf[leaf] = sum(df for _, df in expanded.get(leaf, ()))
        elif leaf[0] == "prefix":
            row = (
                term_stats.where(F.col("term").startswith(leaf[1]))
                .agg(F.coalesce(F.sum("df"), F.lit(0)).alias("s"),
                     F.count("*").alias("n"))
                .collect()[0]
            )
            per_leaf[leaf] = int(row.s)
            prefix_counts[leaf] = int(row.n)
        elif leaf[0] == "range":
            per_leaf[leaf] = None
            has_range = True
        if per_leaf.get(leaf) is not None:
            bound += per_leaf[leaf]
    return bound, has_range, per_leaf, prefix_counts


def search_parsed(
    spark: SparkSession,
    segments: DataFrame,
    term_stats: DataFrame,
    tree,
    corpus: DataFrame | None = None,
    analyzer: str = "naive",
    max_expansions: int = 64,
    max_candidates: int | None = None,
    allow_corpus_filter: bool = True,
) -> DataFrame:
    """Execute a :func:`parse_query` tree -> docId DataFrame (see module
    docstring for the one-plan shape).

    ``max_candidates``: optional planner budget — before any postings
    decode, the df-based candidate bound (:func:`_candidate_bound`,
    dictionary lookups only) must fit, else :class:`QueryBudgetExceeded`.
    ``allow_corpus_filter=False`` additionally refuses range leaves (each
    is a corpus metadata scan, the parsed-query analog of
    ``codesearch.allow_full_scan``)."""
    from ..sources.segments import decode_postings
    from .query import search_phrase, search_sloppy_phrase

    leaves: list = []
    _collect_leaves(tree, leaves)
    if not leaves:
        return spark.createDataFrame([], "docId long")
    if _eval_py(tree, set()):
        raise ValueError(
            "purely negative query (matches docs containing none of its "
            "terms) — add at least one positive clause"
        )
    expanded = {
        leaf: _expand_multiterm(term_stats, leaf, max_expansions)
        for leaf in leaves if leaf[0] in ("fuzzy", "wildcard", "regexterm")
    }
    if not allow_corpus_filter:
        # zero-job check: range presence is syntactic
        rng = [l for l in leaves if l[0] == "range"]
        if rng:
            raise QueryBudgetExceeded(
                f"range leaves {[l[1] for l in rng]} require a corpus "
                "metadata scan; pass allow_corpus_filter=True to run it, "
                "or index the column as a field"
            )
    if max_candidates is not None:
        bound, _, _, _ = _candidate_bound(term_stats, leaves, expanded)
        if bound > max_candidates:
            raise QueryBudgetExceeded(
                f"candidate bound {bound} exceeds max_candidates "
                f"{max_candidates} (dictionary-df upper bound on decoded "
                "postings); tighten the query, raise the budget, or route "
                "to a batch tier"
            )
    ids = {leaf: i for i, leaf in enumerate(leaves)}
    tagged: list[DataFrame] = []

    # term-membership leaves share ONE decode + a broadcast fanout
    term_leaf: list[tuple[str, int]] = []  # (term, leaf_id)
    for leaf in leaves:
        if leaf[0] == "term":
            term_leaf.append((leaf[1], ids[leaf]))
        elif leaf[0] in ("fuzzy", "wildcard", "regexterm"):
            term_leaf += [(t, ids[leaf]) for t, _ in expanded[leaf]]
    if term_leaf:
        all_terms = sorted({t for t, _ in term_leaf})
        fanout = spark.createDataFrame(term_leaf, "term string, leaf int")
        dec = decode_postings(segments, all_terms).select("term", "docId")
        tagged.append(
            dec.join(F.broadcast(fanout), "term")
            .select("docId", "leaf").distinct()
        )

    phrase_leaves = [l for l in leaves if l[0] == "phrase"]
    if phrase_leaves:
        pterms = sorted({t for l in phrase_leaves for t in l[1]})
        pos = decode_postings(segments, pterms, with_positions=True)
        for leaf in phrase_leaves:
            hits = (search_phrase(pos, list(leaf[1])) if leaf[2] == 0
                    else search_sloppy_phrase(pos, list(leaf[1]), leaf[2]))
            tagged.append(hits.select("docId", F.lit(ids[leaf]).alias("leaf")))

    for leaf in leaves:
        if leaf[0] == "prefix":
            # the leaf carries the ALREADY-analyzed prefix (parse_query) —
            # seek directly (search_prefix's pushed-seek tail) instead of
            # re-analyzing, which would double-stem under porter
            from ..sources.segments import decode_docids

            hits = decode_docids(
                segments.where(F.col("term").startswith(leaf[1]))
            ).distinct()
            tagged.append(hits.select("docId", F.lit(ids[leaf]).alias("leaf")))
        elif leaf[0] == "range":
            if corpus is None:
                raise ValueError(
                    f"range leaf on column {leaf[1]!r} needs corpus=")
            if leaf[1] not in corpus.columns:
                raise ValueError(f"unknown range column {leaf[1]!r}")
            col = F.col(leaf[1])
            cond = None
            if leaf[2] is not None:
                c = col >= F.lit(leaf[2]) if leaf[4] else col > F.lit(leaf[2])
                cond = c
            if leaf[3] is not None:
                c = col <= F.lit(leaf[3]) if leaf[5] else col < F.lit(leaf[3])
                cond = c if cond is None else (cond & c)
            hits = corpus.where(cond)
            tagged.append(hits.select("docId", F.lit(ids[leaf]).alias("leaf")))

    if not tagged:
        # every leaf expanded to nothing (e.g. a lone wildcard/fuzzy with
        # zero dictionary matches) — no doc can satisfy the tree
        # (_eval_py(tree, {}) was already checked False above)
        return spark.createDataFrame([], "docId long")
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    matched = out.groupBy("docId").agg(F.collect_set("leaf").alias("_ls"))
    return matched.where(_eval_col(tree, ids, F.col("_ls"))).select("docId")


def search_query_string(
    spark: SparkSession,
    segments: DataFrame,
    term_stats: DataFrame,
    query: str,
    corpus: DataFrame | None = None,
    analyzer: str = "naive",
    max_expansions: int = 64,
    max_candidates: int | None = None,
    allow_corpus_filter: bool = True,
) -> DataFrame:
    """One-call convenience: parse + execute a query string."""
    return search_parsed(
        spark, segments, term_stats, parse_query(query, analyzer),
        corpus=corpus, analyzer=analyzer, max_expansions=max_expansions,
        max_candidates=max_candidates, allow_corpus_filter=allow_corpus_filter,
    )


# --- ranked execution (parse -> filter -> BM25) -----------------------------


def scoring_terms(tree) -> list[str]:
    """The SCORING terms of a parsed tree: every bare-term leaf and every
    phrase-constituent term in POSITIVE context (not under an odd number of
    ``NOT``s), in tree order with repeats kept (a term used twice carries
    query-tf 2, the reference's IIM:1152-1167 qtf semantics).

    Fuzzy, prefix, and range leaves are deliberately NOT scoring terms —
    they act as constant-score filters (the Lucene ``CONSTANT_SCORE``
    multi-term rewrite): their expansion sets are dictionary-sized and
    unbounded by the user's intent, so letting them inject idf-weighted
    terms would make ranking depend on dictionary noise. Negated leaves
    never cause a match, so they cannot contribute score."""
    return [t for t, _ in _weighted_terms(tree)]


def _weighted_terms(tree) -> list[tuple[str, float]]:
    """(term, weight) per positive scoring occurrence: weight = the product
    of ``^W`` boosts on the path (1.0 unboosted), phrase boosts distribute
    to every constituent."""
    out: list[tuple[str, float]] = []

    def walk(node, neg: bool, w: float) -> None:
        kind = node[0]
        if kind in ("and", "or"):
            for c in node[1]:
                walk(c, neg, w)
        elif kind == "not":
            walk(node[1], not neg, w)
        elif kind == "boost":
            walk(node[2], neg, w * node[1])
        elif not neg:
            if kind == "term":
                out.append((node[1], w))
            elif kind == "phrase":
                out.extend((t, w) for t in node[1])

    walk(tree, False, 1.0)
    return out


def scoring_weights(tree) -> dict[str, float]:
    """Aggregate per-term scoring weight: Σ over positive occurrences of
    the occurrence's boost product — the generalization of query-tf
    (unboosted trees give exactly the integer qtf counts)."""
    w: dict[str, float] = {}
    for t, wt in _weighted_terms(tree):
        w[t] = w.get(t, 0.0) + wt
    return w


def rank_query_string(
    spark: SparkSession,
    segments: DataFrame,
    term_stats: DataFrame,
    query: str,
    n_docs: int,
    avgdl: float,
    scorer=None,
    k: int | None = 10,
    corpus: DataFrame | None = None,
    analyzer: str = "naive",
    max_expansions: int = 64,
    tombstones: DataFrame | None = None,
    max_candidates: int | None = None,
    allow_corpus_filter: bool = True,
) -> DataFrame:
    """The Lucene endgame for the query box: parse ``query``, filter through
    the one-plan boolean execution (:func:`search_parsed`), and rank the
    matches by BM25 over the tree's :func:`scoring_terms` — ``(docId,
    score)`` ordered by (score desc, docId asc), top ``k``.

    Semantics (exactly oracle-expressible): a document's score is the BM25
    sum over the positive bare-term + phrase-constituent terms it contains;
    documents that match the tree purely through constant-score leaves
    (fuzzy / prefix / range) rank with score 0.0 — they match, they just
    carry no term evidence, same as Lucene's ``ConstantScoreQuery``
    contributing a flat factor.

    Plan shape: the filter side is the :func:`search_parsed` plan (shared
    In-pushed decodes + one collect_set agg); the scoring side is the usual
    DAAT kernel over ONLY the scoring terms' postings (``k=None`` — the
    filter decides membership, so a per-bucket top-k cut cannot apply);
    one left join stitches them, both sides candidate-sized, never the
    corpus. Scoring terms are already analyzed by the parser, so the DAAT
    path is entered with ``pre_analyzed=True`` (no double stemming).

    ``tombstones``: lazily-deleted docIds (``..delete.load_tombstones``) —
    masked on the MATCHED side before the top-k, so deleted docs neither
    rank nor eat k slots."""
    from .delete import live
    from .rank import Scorer, score_query_daat

    tree = parse_query(query, analyzer)
    matched = live(
        search_parsed(
            spark, segments, term_stats, tree,
            corpus=corpus, analyzer=analyzer, max_expansions=max_expansions,
            max_candidates=max_candidates,
            allow_corpus_filter=allow_corpus_filter,
        ),
        tombstones,
    )
    weights = scoring_weights(tree)
    if not weights:
        out = matched.select(
            "docId", F.lit(0.0).alias("score")
        ).orderBy(F.asc("docId"))
        return out.limit(k) if k is not None else out
    scored = score_query_daat(
        spark, segments, term_stats, weights, n_docs, avgdl,
        scorer if scorer is not None else Scorer("bm25"),
        k=None, analyzer=analyzer, ties="asc", pre_analyzed=True,
    )
    out = (
        matched.join(scored, "docId", "left")
        .select("docId", F.coalesce("score", F.lit(0.0)).alias("score"))
        .orderBy(F.desc("score"), F.asc("docId"))
    )
    return out.limit(k) if k is not None else out


def explain_parsed(
    term_stats: DataFrame,
    query: str,
    analyzer: str = "naive",
    max_expansions: int = 64,
) -> dict:
    """Driver-side plan report for a query string (the parsed-query analog
    of :func:`..codesearch.explain_substring`): per-leaf strategy + df-based
    cost bounds, the shared-decode grouping, and the scoring-term set —
    costing only term-DICTIONARY lookups (one tiny ``In``-pushed /
    ``startswith``-pushed job per leaf family), never a postings decode.

    ``candidate_bound`` is the upper bound on tagged rows the one-plan
    execution can produce: Σ df over term/fuzzy-expansion/prefix-matched
    dictionary terms + min-df per phrase (a phrase match needs all its
    terms; the rarest bounds it). Range leaves are corpus metadata filters
    — unbounded by the index, reported as ``null`` and excluded."""
    tree = parse_query(query, analyzer)
    leaves: list = []
    _collect_leaves(tree, leaves)
    expanded = {
        leaf: _expand_multiterm(term_stats, leaf, max_expansions)
        for leaf in leaves if leaf[0] in ("fuzzy", "wildcard", "regexterm")
    }
    # the SAME cost model the budget gate enforces — explain can never
    # report a different bound than search_parsed(max_candidates=...) uses
    bound, has_range, per_leaf, prefix_counts = _candidate_bound(
        term_stats, leaves, expanded)

    report: list[dict] = []
    for leaf in leaves:
        kind = leaf[0]
        if kind == "term":
            report.append({"leaf": "term", "term": leaf[1],
                           "df": per_leaf[leaf],
                           "plan": "shared In-pushed membership decode"})
        elif kind == "phrase":
            report.append({"leaf": "phrase", "terms": list(leaf[1]),
                           "slop": leaf[2],
                           "candidate_bound": per_leaf[leaf],
                           "plan": "shared positional decode + adjacency join"})
        elif kind == "fuzzy":
            report.append({"leaf": "fuzzy", "term": leaf[1], "dist": leaf[2],
                           "expansions": [t for t, _ in expanded[leaf]],
                           "candidate_bound": per_leaf[leaf],
                           "plan": "dictionary expansion -> shared In-pushed decode"})
        elif kind == "prefix":
            report.append({"leaf": "prefix", "prefix": leaf[1],
                           "n_dictionary_terms": prefix_counts[leaf],
                           "candidate_bound": per_leaf[leaf],
                           "plan": "StringStartsWith-pushed dictionary range seek"})
        elif kind in ("wildcard", "regexterm"):
            report.append({"leaf": kind, "pattern": leaf[1],
                           "expansions": [t for t, _ in expanded[leaf]],
                           "candidate_bound": per_leaf[leaf],
                           "plan": "dictionary expansion -> shared In-pushed decode"})
        elif kind == "range":
            report.append({"leaf": "range", "column": leaf[1],
                           "lo": leaf[2], "hi": leaf[3],
                           "lo_inclusive": leaf[4], "hi_inclusive": leaf[5],
                           "candidate_bound": None,
                           "plan": "corpus column filter (parquet min/max pruning)"})
    return {
        "query": query,
        "analyzer": analyzer,
        "n_leaves": len(leaves),
        "leaves": report,
        "scoring_terms": scoring_terms(tree),
        "scoring_weights": scoring_weights(tree),
        "candidate_bound": None if has_range else bound,
        "shuffles": 1,  # the single collect_set agg; scoring adds its own
        "plan": "tagged-leaf union -> one collect_set agg -> codegen boolean",
    }
