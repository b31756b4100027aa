"""Trigram-indexed substring and regex search over raw code content.

The Google Code Search / Zoekt structure (Cox, "Regular Expression Matching
with a Trigram Index" — public design), re-expressed on this repo's segment
store: char trigrams are just terms, so the existing build machinery (packed
mini-blocks, one hash shuffle, sampled heavy-term salting, manifest commits)
and query machinery (``In``-pushed term seek, count-matching AND) serve
byte-exact substring search with no new storage format. The reference engine
(zerowei/Search-Engine) has no substring/grep path at all — its queries stop
at analyzed-token granularity — but a SOURCE-CODE corpus (the north-rule
input) is queried substring-first (``memcpy(``, ``#include <``, error
strings), so this is the capability a user of the reference switching to a
code corpus needs next.

Query planning follows the public trigram-index recipe:

1. the needle's trigrams are ALL required, so ANY subset's posting-list
   intersection is a candidate superset — we probe only the ``max_probe``
   RAREST trigrams (df from the index's term_stats), which caps the
   count-matching shuffle at the few smallest lists instead of
   sum(df(all trigrams)) — on a 100 TB corpus the difference between
   touching ~0.1% and ~50% of the index;
2. candidates hydrate via a broadcast join (S4 shape) and a JVM
   ``contains``/``rlike`` verify removes false positives — results are
   byte-exact regardless of which subset was probed.

Regex search extracts the literal runs a match MUST contain
(:func:`required_trigrams`, conservative: bails to a documented full-scan
fallback on alternation/lookaround rather than ever over-pruning), probes
their trigrams, and verifies with ``rlike``.

One plan serves all four entry points (:func:`_probe_verify`): a single
needle or pattern is the Q=1 case of its batch, so the probe choice, the
count-matching agg, the verify and the short-query scan exist once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzers import trigram_tokenize
from ..sources.segments import decode_term_docids, term_dfs

__all__ = [
    "needle_trigrams",
    "probe_trigrams",
    "search_substring",
    "search_substring_batch",
    "explain_substring",
    "literal_runs",
    "required_trigrams",
    "search_regex_content",
    "search_regex_batch",
    "grep_lines",
    "count_matches",
    "extract_symbols",
    "DEFAULT_SYMBOL_PATTERNS",
]


def needle_trigrams(needle: str) -> list[str]:
    """Distinct trigrams of the query needle (every one is REQUIRED in any
    matching document, because the needle appears verbatim)."""
    return trigram_tokenize(needle)


def _probe_plan(
    trigrams: list[str], term_stats, max_probe: int
) -> tuple[list[str], dict[str, int]]:
    """(probes, dfs): the ``max_probe`` rarest distinct trigrams, ranked by
    (df, trigram), and the df of each indexed trigram. Probes are empty
    when a trigram is absent from the stats: df=0, so no indexed doc can
    match. The one probe choice of the search plans and
    :func:`explain_substring`."""
    dfs = term_dfs(term_stats, trigrams)
    ranked = sorted(set(trigrams), key=lambda t: (dfs.get(t, 0), t))
    return (ranked[:max_probe] if len(dfs) == len(ranked) else []), dfs


def probe_trigrams(trigrams: list[str], term_stats, max_probe: int = 8) -> list[str]:
    """Choose the ``max_probe`` rarest trigrams to intersect.

    ``term_stats`` is any form ``segments.term_dfs`` takes (the index's
    term-stats scan or the pandas frame of ``load_term_stats_pdf``: both
    looked up on the driver, zero jobs).
    Trigrams absent from the stats have df=0 — the needle cannot match any
    indexed doc, and the caller short-circuits to an empty result.
    """
    return _probe_plan(trigrams, term_stats, max_probe)[0]


class FullScanRefused(ValueError):
    """Raised when a query's only plan is a full corpus scan and the caller
    set ``allow_full_scan=False``. At 10^12 files a single 2-char needle or
    unprunable regex silently dragging a whole-corpus scan into a serving
    job is a cost-model bug, not a feature — the planner must refuse
    EXPLICITLY and name the query, so the caller can route it to a batch
    tier (or opt in). The message carries the qid/needle and the reason the
    index could not prune."""


def _refuse(what: str, reason: str) -> FullScanRefused:
    return FullScanRefused(
        f"full corpus scan required for {what} ({reason}); pass "
        "allow_full_scan=True to run it anyway, or route this query to a "
        "batch/offline tier"
    )


def _probe_verify(
    segments: DataFrame,
    corpus: DataFrame,
    required: dict[int, list[str] | None],
    match,
    name,
    reason: str,
    term_stats,
    max_probe: int,
    allow_full_scan: bool,
) -> DataFrame:
    """THE trigram plan behind the substring and regex entry points, single
    and batch alike -> (qid, docId) rows, two shuffles for any Q:

    - ONE ``In``-pushed membership decode (term + docids columns; tf/dl
      blobs never leave disk) over the union of every query's probe
      trigrams (:func:`probe_trigrams`);
    - a broadcast (term, qid) relation fans decoded postings out to the
      queries probing that trigram; per-(qid, docId) count-matching against
      a literal qid→n_probes map gives all candidate sets in one agg;
    - ONE broadcast join hydrates the union of candidates, and a per-qid
      CASE chain of literal ``match(q)`` predicates verifies each row —
      byte-exact whatever subset was probed.

    ``required[q]`` holds the trigrams every match of query q must contain.
    A query without any (``None`` or empty) has no trigram to seek: it is
    refused as ``name(q)`` for ``reason`` when ``allow_full_scan=False``,
    else answered by ONE corpus scan shared by all such queries (per-qid
    ``CASE WHEN match THEN qid`` cells, exploded and null-filtered). A
    query with an unindexed required trigram matches nothing."""
    probe_by_qid: dict[int, list[str]] = {}
    scan_qids: list[int] = []
    for qid, tris in required.items():
        if not tris:
            if not allow_full_scan:
                raise _refuse(name(qid), reason)
            scan_qids.append(qid)
        elif term_stats is None:
            probe_by_qid[qid] = tris[:max_probe]
        else:
            probes = probe_trigrams(tris, term_stats, max_probe)
            if probes:
                probe_by_qid[qid] = probes

    spark = corpus.sparkSession
    out = None
    if probe_by_qid:
        term_qid = [(t, q) for q, ps in probe_by_qid.items() for t in ps]
        fanout = spark.createDataFrame(term_qid, "term string, qid int")
        need_m = F.create_map(
            *[x for q, ps in probe_by_qid.items() for x in (F.lit(q), F.lit(len(ps)))]
        )
        cands = (
            decode_term_docids(segments, sorted({t for t, _ in term_qid}))
            .join(F.broadcast(fanout), "term")
            .groupBy("qid", "docId")
            .agg(F.count_distinct("term").alias("m"))
            .where(F.col("m") == need_m[F.col("qid")])
            .select("qid", "docId")
        )
        verify = None
        for q in sorted(probe_by_qid):
            branch = match(q)
            verify = (F.when(F.col("qid") == q, branch) if verify is None
                      else verify.when(F.col("qid") == q, branch))
        out = (
            corpus.join(F.broadcast(cands), "docId")
            .where(verify)
            .select("qid", "docId")
        )
    if scan_qids:
        cells = F.array(*[F.when(match(q), F.lit(q)) for q in sorted(scan_qids)])
        scanned = (
            corpus.select("docId", F.explode(cells).alias("qid"))
            .where(F.col("qid").isNotNull())
            .select("qid", "docId")
        )
        out = scanned if out is None else out.unionByName(scanned)
    if out is None:
        return spark.createDataFrame([], "qid int, docId long")
    return out


def _substring_plan(
    segments: DataFrame,
    corpus: DataFrame,
    needles: dict[int, str],
    name,
    term_stats,
    max_probe: int,
    fold_case: bool,
    field: str | None,
    allow_full_scan: bool,
) -> DataFrame:
    """Needle prep for :func:`_probe_verify`: fold, trigrams (namespaced
    when ``field`` is set), and the ``contains`` verify."""
    from .build import FIELD_SEP

    col = F.col(field) if field else F.col("content")
    haystack = F.lower(col) if fold_case else col
    prefix = f"{field}{FIELD_SEP}" if field else ""
    folded = {q: (s.lower() if fold_case else s) for q, s in needles.items()}
    return _probe_verify(
        segments, corpus,
        {q: [prefix + t for t in needle_trigrams(nd)] for q, nd in folded.items()},
        lambda q: haystack.contains(F.lit(folded[q])),
        name, "shorter than 3 chars, no trigram to seek",
        term_stats, max_probe, allow_full_scan,
    )


def search_substring(
    segments: DataFrame,
    corpus: DataFrame,
    needle: str,
    term_stats=None,
    max_probe: int = 8,
    fold_case: bool = False,
    field: str | None = None,
    allow_full_scan: bool = True,
) -> DataFrame:
    """Byte-exact substring search: docIds whose content contains ``needle``.

    ``segments`` must come from a ``analyzer="trigram"`` build (or
    ``"trigram_fold"`` with ``fold_case=True``; the needle is folded and the
    verify compares folded text). Needles shorter than 3 chars have no
    trigram to seek — they fall back to the full corpus scan, exactly like
    Zoekt's short-query path (documented, not hidden: the scan IS the right
    plan when the index can't prune).

    ``field`` targets a column indexed via ``build_index(fields={field:
    'trigram'})`` instead of content — probes carry the field's U+001F
    namespace prefix and the verify reads that column, so ONE index serves
    both content substring and path-substring (the code-search ``file:``
    filter) queries.

    The Q=1 case of :func:`search_substring_batch`'s plan. The verify step
    makes results exact whatever ``max_probe`` pruned, so the only tuning
    tradeoff is candidates-verified vs posting-bytes-read.
    """
    return _substring_plan(
        segments, corpus, {0: needle}, lambda q: f"needle {needle!r}",
        term_stats, max_probe, fold_case, field, allow_full_scan,
    ).select("docId")


def search_substring_batch(
    segments: DataFrame,
    corpus: DataFrame,
    needles: dict[int, str],
    term_stats=None,
    max_probe: int = 8,
    fold_case: bool = False,
    allow_full_scan: bool = True,
) -> DataFrame:
    """Batch substring serving: Q needles answered in ONE job — (qid,
    docId) rows, through the same probe/count-match/verify plan as
    :func:`search_substring` (:func:`_probe_verify`), shared across the
    workload exactly like the batched DAAT path shares its scan: one
    membership decode over the union of probe trigrams, one count-matching
    agg, one hydrate. Needles shorter than 3 chars share one corpus scan;
    a needle with an unindexed trigram matches nothing; term_stats pruning
    applies per needle."""
    return _substring_plan(
        segments, corpus, needles, lambda q: f"qid={q} needle {needles[q]!r}",
        term_stats, max_probe, fold_case, None, allow_full_scan,
    )


def explain_substring(
    needle: str, term_stats, max_probe: int = 8, fold_case: bool = False,
    allow_full_scan: bool = True,
) -> dict:
    """Driver-side plan report for a substring query (the ``explain`` of
    the trigram path — zero Spark jobs for the term-stats scan and the
    driver-local pandas frame alike): which trigrams the needle requires, which
    ``max_probe`` rarest ones would be probed (with their df), the
    candidate upper bound (min probe df — the intersection can't exceed
    its smallest list), and the strategy the search would take."""
    nd = needle.lower() if fold_case else needle
    tris = needle_trigrams(nd)
    if not tris:
        return {"needle": needle,
                "strategy": "full_scan" if allow_full_scan else "refused",
                "reason": "needle shorter than 3 chars"
                          + ("" if allow_full_scan else
                             "; allow_full_scan=False gates the fallback"),
                "trigrams": [], "probes": [], "max_candidates": None}
    probes, dfs = _probe_plan(tris, term_stats, max_probe)
    if not probes:
        missing = sorted(set(tris) - set(dfs))
        return {"needle": needle, "strategy": "empty",
                "reason": f"trigrams not in index: {missing[:4]}",
                "trigrams": tris, "probes": [], "max_candidates": 0}
    return {
        "needle": needle,
        "strategy": "probe_verify",
        "trigrams": tris,
        "probes": [(t, dfs[t]) for t in probes],
        "max_candidates": min(dfs[t] for t in probes),
    }


# --- regex planning -------------------------------------------------------

# Characters that terminate a literal run when unescaped.
_META = set(".^$*+?{}[]()|\\")
# Escapes that stand for a single literal char (Java regex + RE2 common set).
_LITERAL_ESCAPES = {c: c for c in ".^$*+?{}[]()|\\-/ "}
_LITERAL_ESCAPES.update({"n": "\n", "t": "\t", "r": "\r"})
# Escapes safe to treat as "one position / zero width, breaks the run".
_CLASS_OR_ANCHOR_ESCAPES = set("dDwWsS" "bBAZzG")


def _is_hex(s: str, want: int) -> bool:
    return len(s) == want and all(c in "0123456789abcdefABCDEF" for c in s)


def literal_runs(pattern: str) -> list[str] | None:
    """Literal character runs that MUST appear in any match of ``pattern``,
    or ``None`` when the analysis cannot be conservative (alternation,
    lookaround, backreference, inline flags) — the caller then full-scans.

    Correctness rule: a run is only emitted if every char in it is required
    exactly as written. Quantifiers that make the preceding atom optional
    (``*``, ``?``, ``{0,``) drop that char; ``+``/``{n>=1`` keep the char
    but split the run (the repetition may insert material after it). Groups
    track a stack so ``(abc)?`` discards the group's runs. Anything this
    parser is unsure about makes it bail, never over-claim.
    """
    runs: list[str] = []
    cur: list[str] = []
    # stack entry: index into `runs` at group open + chars of `cur` at open
    stack: list[tuple[int, int]] = []
    i, n = 0, len(pattern)

    def flush():
        if cur:
            runs.append("".join(cur))
            cur.clear()

    while i < n:
        c = pattern[i]
        nxt = pattern[i + 1] if i + 1 < n else ""
        if c == "|":
            return None  # any top- or group-level alternation: bail
        if c == "\\":
            if nxt in _LITERAL_ESCAPES:
                cur.append(_LITERAL_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():
                return None  # backreference
            if nxt == "x" and _is_hex(pattern[i + 2 : i + 4], 2):
                cur.append(chr(int(pattern[i + 2 : i + 4], 16)))
                i += 4
                continue
            if nxt == "u" and _is_hex(pattern[i + 2 : i + 6], 4):
                cur.append(chr(int(pattern[i + 2 : i + 6], 16)))
                i += 6
                continue
            if nxt in "aefv":
                cur.append({"a": "\a", "e": "\x1b", "f": "\f", "v": "\v"}[nxt])
                i += 2
                continue
            if nxt in _CLASS_OR_ANCHOR_ESCAPES:
                # class escape (\d \w \s) consumes one position and breaks the
                # run; zero-width anchors (\b \B \A \Z \z \G) just break it.
                flush()
                i += 2
                continue
            # \x/\u with malformed operand, \c, \p, \P, \N, \k, \Q...: the
            # escape's operand would otherwise leak into the run as required
            # literals (over-pruning true matches) — bail to full scan.
            return None
        if c == "[":
            # char class: skip to unescaped ']' (leading ']' is literal)
            flush()
            j = i + 1
            if j < n and pattern[j] == "^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1
            while j < n and pattern[j] != "]":
                j += 2 if pattern[j] == "\\" else 1
            if j >= n:
                return None  # unterminated class: bail
            i = j + 1
            continue
        if c == "(":
            if nxt == "?":
                if pattern[i + 1 : i + 3] == "?:":
                    flush()
                    stack.append((len(runs), 0))
                    i += 3
                    continue
                return None  # lookaround / inline flag / named group: bail
            flush()
            stack.append((len(runs), 0))
            i += 1
            continue
        if c == ")":
            flush()
            if not stack:
                return None
            mark, _ = stack.pop()
            # quantifier after the group?
            if nxt in "*?" or (nxt == "{" and pattern[i + 2 : i + 3] == "0"):
                del runs[mark:]  # group optional: nothing inside is required
                i += 2 if nxt in "*?" else 1
                continue
            i += 1
            continue
        if c in "*?":
            if cur:
                cur.pop()  # preceding char now optional
            flush()
            i += 1
            continue
        if c == "{":
            j = pattern.find("}", i)
            if j < 0:
                return None
            body = pattern[i + 1 : j]
            head = body.split(",")[0]
            if not head.isdigit():
                return None
            if int(head) == 0:
                if cur:
                    cur.pop()
            else:
                flush()  # char required once, but repetition splits the run
            flush()
            i = j + 1
            continue
        if c == "+":
            flush()  # char required, run cannot extend across the repeat
            i += 1
            continue
        if c in "^$.":
            flush()
            i += 1
            continue
        cur.append(c)
        i += 1
    if stack:
        return None
    flush()
    return runs


def required_trigrams(pattern: str) -> list[str] | None:
    """Trigrams every match of ``pattern`` must contain, or ``None`` when
    the pattern resists conservative analysis (caller full-scans). An empty
    list means the analysis succeeded but no literal run reaches 3 chars —
    also a full-scan."""
    runs = literal_runs(pattern)
    if runs is None:
        return None
    out: set[str] = set()
    for r in runs:
        out.update(trigram_tokenize(r))
    return sorted(out)


def _regex_plan(
    segments: DataFrame,
    corpus: DataFrame,
    patterns: dict[int, str],
    name,
    term_stats,
    max_probe: int,
    allow_full_scan: bool,
) -> DataFrame:
    """Pattern prep for :func:`_probe_verify`: mandatory-literal trigrams
    (:func:`required_trigrams`) and the ``rlike`` verify. Each CASE branch
    keeps its pattern a foldable literal — codegen-compilable on any
    Spark."""
    return _probe_verify(
        segments, corpus,
        {q: required_trigrams(p) for q, p in patterns.items()},
        lambda q: F.col("content").rlike(patterns[q]),
        name, "no required literal trigrams to prune with",
        term_stats, max_probe, allow_full_scan,
    )


def search_regex_content(
    segments: DataFrame,
    corpus: DataFrame,
    pattern: str,
    term_stats=None,
    max_probe: int = 8,
    allow_full_scan: bool = True,
) -> DataFrame:
    """Regex search over raw content: docIds where ``rlike(content,
    pattern)``. Mandatory-literal trigrams prune via the index when the
    pattern yields any (the substring probe/verify plan, Q=1 case of
    :func:`search_regex_batch`); otherwise the documented fallback is the
    full ``rlike`` scan — still a single predicate inside whole-stage
    codegen, just unpruned (refused when ``allow_full_scan=False`` — see
    :class:`FullScanRefused`)."""
    return _regex_plan(
        segments, corpus, {0: pattern}, lambda q: f"pattern {pattern!r}",
        term_stats, max_probe, allow_full_scan,
    ).select("docId")


def search_regex_batch(
    segments: DataFrame,
    corpus: DataFrame,
    patterns: dict[int, str],
    term_stats=None,
    max_probe: int = 8,
    allow_full_scan: bool = True,
) -> DataFrame:
    """Batch regex serving: Q patterns in ONE indexed job plus (at most)
    ONE shared full scan — (qid, docId) rows.

    Prunable patterns (those yielding required literal trigrams) share the
    substring plan (:func:`_probe_verify`): one ``In``-pushed membership
    decode over the union of probe trigrams, broadcast (term, qid) fanout,
    one count-matching agg, one hydrate, a per-qid CASE chain of ``rlike``
    verifies. Unprunable patterns (alternation/lookaround/short literals)
    evaluate in ONE shared corpus scan — Q full scans collapse to one."""
    return _regex_plan(
        segments, corpus, patterns, lambda q: f"qid={q} pattern {patterns[q]!r}",
        term_stats, max_probe, allow_full_scan,
    )


def grep_lines(
    corpus: DataFrame,
    hits: DataFrame,
    needle: str,
    delimiter: str = "\n",
    fold_case: bool = False,
) -> DataFrame:
    """The grep serving shape: per matched doc, the 1-based line numbers and
    line text containing ``needle`` — (docId, line_no, line). ``hits`` is a
    docId frame (typically :func:`search_substring` output) broadcast into
    the corpus scan; the split/filter is a pure projection (posexplode of a
    codegen ``split``), so the only data movement is the matched lines
    themselves. ``delimiter`` is a regex (Spark ``split`` semantics);
    single-line corpora degenerate to line_no=1 rows, multi-line code gets
    real grep output. ``col_no`` is the 1-based character column of the
    line's FIRST match (grep -n shows each line once).

    ``fold_case=True`` (grep -i, pair with a ``trigram_fold`` index whose
    ``search_substring(..., fold_case=True)`` hits are case-insensitive):
    the filter and ``col_no`` compare against the lowered line, the printed
    ``line`` stays original-case — otherwise lines that matched only
    case-insensitively silently vanish from grep output."""
    lines = F.split(F.col("content"), delimiter)
    nd = needle.lower() if fold_case else needle
    cmp_line = F.lower(F.col("line")) if fold_case else F.col("line")
    return (
        corpus.join(F.broadcast(hits), "docId", "left_semi")
        .select("docId", F.posexplode(lines).alias("pos", "line"))
        .where(cmp_line.contains(F.lit(nd)))
        .select(
            "docId",
            (F.col("pos") + 1).alias("line_no"),
            F.locate(nd, cmp_line).alias("col_no"),
            "line",
        )
    )


def count_matches(
    corpus: DataFrame, hits: DataFrame, needle: str, fold_case: bool = False
) -> DataFrame:
    """grep -c / occurrence-ranked substring results: (docId, n_matches)
    sorted by match count. Occurrences are counted with pure length
    arithmetic (non-overlapping, like grep) — no regex engine, no UDF, one
    projection over the broadcast-pruned hit docs. ``fold_case`` counts
    case-insensitively (pair with fold-case hits, as in grep_lines)."""
    nd = needle.lower() if fold_case else needle
    hay = F.lower(F.col("content")) if fold_case else F.col("content")
    n = (F.length(hay) - F.length(F.replace(hay, F.lit(nd)))) / F.lit(len(nd))
    return (
        corpus.join(F.broadcast(hits), "docId", "left_semi")
        .select("docId", n.cast("int").alias("n_matches"))
        .orderBy(F.desc("n_matches"), "docId")
    )


# --- symbol extraction (ctags-lite) ---------------------------------------

# Definition-site patterns per construct kind. Java regex and RE2 agree on
# this subset (character classes, +, \s); group 1 is the symbol name.
DEFAULT_SYMBOL_PATTERNS: dict[str, str] = {
    "function": r"def ([A-Za-z_][A-Za-z0-9_]*)",
    "class": r"class ([A-Za-z_][A-Za-z0-9_]*)",
    "func": r"func ([A-Za-z_][A-Za-z0-9_]*)",
    "fn": r"fn ([A-Za-z_][A-Za-z0-9_]*)",
}


def extract_symbols(
    corpus: DataFrame, patterns: dict[str, str] | None = None
) -> DataFrame:
    """ctags-lite: (docId, kind, symbol) rows for every definition-site
    match of each pattern — regexp_extract_all per kind, one stack-unpivot,
    one explode; all codegen projections, zero shuffles, zero UDFs. The
    output feeds symbol-boosted ranking: add a ``symbols`` column
    (``array_join`` of names) to the corpus, index it as a field
    (``build_index(fields={'symbols': 'code'})``), and rank with
    ``score_query_fielded`` — a definition match then outranks a mere
    mention via the field weight."""
    pats = patterns if patterns is not None else DEFAULT_SYMBOL_PATTERNS
    kinds = sorted(pats)
    # patterns ship as Column literals (F.lit), never spliced into SQL text,
    # so regex backslashes survive any parser mode
    cells: list = []
    for k in kinds:
        cells.append(F.lit(k))
        cells.append(F.regexp_extract_all("content", F.lit(pats[k]), F.lit(1)))
    return (
        corpus.select(
            "docId",
            F.stack(F.lit(len(kinds)), *cells).alias("kind", "syms"),
        )
        .select("docId", "kind", F.explode("syms").alias("symbol"))
    )
