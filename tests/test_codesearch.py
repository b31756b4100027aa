"""Trigram substring/regex search + grep lines + symbol extraction.

Correctness model: the trigram index is a PRUNING structure only — every
query path ends in a byte-exact verify (``contains``/``rlike``), so each
test compares the indexed path against the full-scan predicate it must
equal, plus goldens for the conservative regex literal-run analysis (where
an over-claimed literal would silently DROP matching docs)."""

import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import codesearch as C
from search_engine_spark.sources import segments as S
from search_engine_spark.sources.corpus import synthetic_corpus
from tests.conftest import corpus_from_texts


def _ids(df):
    return sorted(r.docId for r in df.collect())


# --- pure-python units -----------------------------------------------------


def test_trigram_tokenize_goldens():
    from search_engine_spark.functions.analyzers import (
        trigram_fold_tokenize,
        trigram_tokenize,
    )

    assert trigram_tokenize("abcd") == ["abc", "bcd"]
    assert trigram_tokenize("aaaa") == ["aaa"]  # distinct
    assert trigram_tokenize("ab") == []
    assert trigram_tokenize(None) == []
    # case/punct/space survive: substring match must be byte-exact
    assert trigram_tokenize("a B!") == ["a B", " B!"] or set(
        trigram_tokenize("a B!")
    ) == {"a B", " B!"}
    assert trigram_fold_tokenize("AbC!") == sorted({"abc", "bc!"})


def test_literal_runs_goldens():
    runs = C.literal_runs
    assert runs(r"merge [a-z]+ scan") == ["merge ", " scan"]
    assert runs(r"ab*c") == ["a", "c"]
    assert runs(r"ab?c") == ["a", "c"]
    assert runs(r"ab+c") == ["ab", "c"]
    assert runs(r"(abc)?def") == ["def"]
    assert runs(r"(abc)*def") == ["def"]
    assert runs(r"(abc)+def") == ["abc", "def"]
    assert runs(r"(abc){0,3}def") == ["def"]
    assert runs(r"a{2}bcd") == ["a", "bcd"]
    assert runs(r"a{0,2}bcd") == ["bcd"]
    assert runs(r"foo\.bar") == ["foo.bar"]
    assert runs(r"\d+spark") == ["spark"]
    assert runs(r"(?:xy)zw") == ["xy", "zw"]
    assert [r for r in runs(r"^table scan$") if r] == ["table scan"]
    assert runs(r"x.y") == ["x", "y"]
    # bails (must full-scan, never over-claim)
    assert runs(r"a|b") is None
    assert runs(r"(a|b)c") is None
    assert runs(r"(?=x)abc") is None
    assert runs(r"(?i)abc") is None
    assert runs(r"(a)\1") is None
    assert runs(r"[unterminated") is None


def test_literal_runs_operand_escapes():
    """Escapes with operands (\\xhh, \\uhhhh, \\cX, \\p{..}) must never leak
    their operand chars into required runs (ADVICE r4: over-pruning)."""
    import re as _re

    runs = C.literal_runs
    # \xhh / \uhhhh decode to the literal char, keeping the run intact
    assert runs(r"foo\x41bar") == ["fooAbar"]
    assert runs(r"fooAbar") == ["fooAbar"]
    assert runs(r"a\x2Bb") == ["a+b"]
    # single-char control escapes
    assert runs(r"a\fb") == ["a\fb"]
    assert runs(r"a\vb") == ["a\vb"]
    assert runs(r"a\ab") == ["a\ab"]
    # operand escapes we can't decode conservatively: bail, never over-claim
    assert runs(r"\cAfoo") is None
    assert runs(r"\p{L}foo") is None
    assert runs(r"\P{L}foo") is None
    assert runs(r"\N{COLON}x") is None
    assert runs(r"(?P<g>a)(?P=g)") is None  # named group -> bail at (?P
    assert runs(r"a\x4") is None  # truncated hex operand
    assert runs(r"a\x4Gb") is None  # malformed hex operand
    # the containment invariant itself, on real matches
    for pat, text in [
        (r"foo\x41bar", "fooAbar"),
        (r"fooAbar", "xxfooAbarzz"),
        (r"end\x2E", "the end."),
    ]:
        got = runs(pat)
        assert got is not None
        m = _re.search(pat, text)
        assert m is not None
        for r in got:
            assert r in text, (pat, r, text)


def test_required_trigrams():
    assert C.required_trigrams(r"ab|cd") is None
    assert C.required_trigrams(r"a.b") == []  # no run reaches 3 chars
    got = C.required_trigrams(r"memcpy\(")
    assert "mem" in got and "py(" in got


# --- indexed paths vs full-scan truth ---------------------------------------


@pytest.fixture(scope="module")
def tri_index(spark, tmp_path_factory):
    corpus = synthetic_corpus(spark, n_docs=300, vocab_size=600, seed=7)
    idx = str(tmp_path_factory.mktemp("tri") / "index")
    shutil.rmtree(idx, ignore_errors=True)
    S.build_index(
        spark,
        corpus,
        idx,
        analyzer="trigram",
        with_positions=False,
        n_batches=2,
        num_segments=4,
        heavy_threshold=100,
        n_salts=2,
    )
    return corpus, S.load_segments(spark, idx), S.load_term_stats(spark, idx)


# (needle, must_match): synthetic-corpus content is tokN words + code
# keywords + fixture sentences — needles that match nothing would make the
# equality below vacuous, so each expected-hit needle asserts non-empty
NEEDLES_M = [
    ("apple a day", True),   # fixture sentence, crosses word boundaries
    ("tok1 tok", True),      # crosses a word boundary
    ("public", True),
    ("zzqx-never", False),   # trigrams absent -> short-circuit empty
    ("to", True),            # < 3 chars: documented full-scan fallback
]
NEEDLES = [n for n, _ in NEEDLES_M]


def test_substring_equals_full_scan(spark, tri_index):
    corpus, segs, ts = tri_index
    for needle, must_match in NEEDLES_M:
        want = _ids(
            corpus.where(F.col("content").contains(F.lit(needle))).select("docId")
        )
        assert bool(want) == must_match, needle
        got = _ids(C.search_substring(segs, corpus, needle, ts))
        assert got == want, needle
        # probe subset must not change results, only cost
        got2 = _ids(C.search_substring(segs, corpus, needle, ts, max_probe=2))
        assert got2 == want, needle


def test_substring_batch_equals_per_needle(spark, tri_index):
    """Batch serving returns exactly the union of per-needle single runs —
    including short-needle scan fallbacks (1 and 2 chars), a no-match
    needle, a needle with one unseen trigram among indexed ones, and
    fold_case."""
    corpus, segs, ts = tri_index
    needles = {i: n for i, n in enumerate(NEEDLES + ["e", "public qqq"])}
    for fold_case in (False, True):
        got = sorted(
            (r.qid, r.docId)
            for r in C.search_substring_batch(
                segs, corpus, needles, ts, fold_case=fold_case).collect()
        )
        want = sorted(
            (qid, d)
            for qid, n in needles.items()
            for d in _ids(C.search_substring(
                segs, corpus, n, ts, fold_case=fold_case))
        )
        assert got == want and got, fold_case


def test_substring_quote_backslash_needles(spark):
    """Trigram terms land in isin_expr — quotes/backslashes in the needle
    exercise the parser-mode-safe escaping end to end."""
    texts = ['say "hi" now', r"path\to\file plus", "plain text only"]
    corpus = corpus_from_texts(spark, texts)
    idx = "/tmp/idx_tri_quotes"
    shutil.rmtree(idx, ignore_errors=True)
    S.build_index(spark, corpus, idx, analyzer="trigram",
                  with_positions=False, n_batches=1, num_segments=2)
    segs, ts = S.load_segments(spark, idx), S.load_term_stats(spark, idx)
    assert _ids(C.search_substring(segs, corpus, '"hi"', ts)) == [0]
    assert _ids(C.search_substring(segs, corpus, r"path\to", ts)) == [1]
    shutil.rmtree(idx, ignore_errors=True)


PATTERNS_M = [
    (r"doctor aw[a-z]+", True),     # literal prune + class verify
    (r"pu[b]?lic", True),           # optional atom; "lic" run prunes
    (r"apple a (day|week)", True),  # alternation: full-scan fallback
    (r"tok\d+", True),              # runs too short -> full-scan fallback
    (r"doctorxx+", False),          # prunable, no match
]


def test_regex_equals_full_scan(spark, tri_index):
    corpus, segs, ts = tri_index
    for pat, must_match in PATTERNS_M:
        want = _ids(corpus.where(F.col("content").rlike(pat)).select("docId"))
        assert bool(want) == must_match, pat
        got = _ids(C.search_regex_content(segs, corpus, pat, ts))
        assert got == want, pat


def test_regex_batch_equals_per_pattern(spark, tri_index):
    """Batch regex == per-pattern singles across all classes: prunable,
    full-scan fallback (alternation / short literals / inline flags), and
    no-match."""
    corpus, segs, ts = tri_index
    # + a one-char pattern (no trigram), one whose required trigrams
    # include an unseen one, and an inline case-fold flag (full scan)
    pats = {i: p for i, p in enumerate(
        [p for p, _ in PATTERNS_M] + [r"e", r"public qqq+", r"(?i)PUBLIC"])}
    got = sorted(
        (r.qid, r.docId)
        for r in C.search_regex_batch(segs, corpus, pats, ts).collect()
    )
    want = sorted(
        (qid, d)
        for qid, p in pats.items()
        for d in _ids(C.search_regex_content(segs, corpus, p, ts))
    )
    assert got == want and got


def test_fold_case_substring(spark):
    texts = ["Alpha BETA gamma", "ALPHA only", "unrelated"]
    corpus = corpus_from_texts(spark, texts)
    idx = "/tmp/idx_tri_fold"
    shutil.rmtree(idx, ignore_errors=True)
    S.build_index(spark, corpus, idx, analyzer="trigram_fold",
                  with_positions=False, n_batches=1, num_segments=2)
    segs, ts = S.load_segments(spark, idx), S.load_term_stats(spark, idx)
    assert _ids(C.search_substring(segs, corpus, "alpha BETA", ts, fold_case=True)) == [0]
    assert _ids(C.search_substring(segs, corpus, "Alpha O", ts, fold_case=True)) == [1]
    assert _ids(C.search_substring(segs, corpus, "ALPHA", ts, fold_case=True)) == [0, 1]
    shutil.rmtree(idx, ignore_errors=True)


def test_membership_index(spark, tri_index):
    """membership=True (empty tf/dl blobs): identical substring results,
    smaller payload, tf/dl decode as constant 1, compaction preserves the
    mode, fsck stays clean under the tf=1 reading."""
    from search_engine_spark.operators.fsck import fsck_index
    from search_engine_spark.sources.corpus import synthetic_corpus

    corpus = synthetic_corpus(spark, n_docs=300, vocab_size=600, seed=7)
    idx = "/tmp/idx_tri_membership"
    shutil.rmtree(idx, ignore_errors=True)
    S.build_index(spark, corpus, idx, analyzer="trigram",
                  with_positions=False, n_batches=2, num_segments=4,
                  heavy_threshold=100, n_salts=2, membership=True)
    segs, ts = S.load_segments(spark, idx), S.load_term_stats(spark, idx)
    _, fsegs, fts = tri_index  # the full (non-membership) index, same corpus
    for needle, _ in NEEDLES_M:
        want = _ids(C.search_substring(fsegs, corpus, needle, fts))
        assert _ids(C.search_substring(segs, corpus, needle, ts)) == want, needle

    def payload(sg):
        return sg.agg(F.sum(
            F.octet_length("docids") + F.octet_length("tfs")
            + F.octet_length("dls"))).first()[0]

    assert segs.agg(F.sum(F.octet_length("tfs"))).first()[0] == 0
    assert payload(segs) < payload(fsegs)
    # decode synthesizes tf=dl=1
    some_term = segs.select("term").first()[0]
    rows = S.decode_postings(segs, [some_term]).limit(10).collect()
    assert rows and all(r.tf == 1 and r.dl == 1 for r in rows)
    # compaction keeps membership and results
    S.compact(spark, idx, [0, 1])
    segs2 = S.load_segments(spark, idx)
    assert segs2.agg(F.sum(F.octet_length("tfs"))).first()[0] == 0
    needle = NEEDLES[0]
    assert _ids(C.search_substring(segs2, corpus, needle,
                                   S.load_term_stats(spark, idx))) == \
        _ids(C.search_substring(fsegs, corpus, needle, fts))
    rep = fsck_index(spark, idx)
    assert rep["errors"] == [] and rep["warnings"] == []
    shutil.rmtree(idx, ignore_errors=True)


def test_field_substring_path(spark):
    """ONE trigram index serves content substring AND path substring (the
    code-search `file:` filter): field probes ride the U+001F namespace."""
    texts = ["alpha body", "beta body", "gamma body"]
    corpus = corpus_from_texts(spark, texts).withColumn(
        "path", F.concat(F.lit("src/module_"), F.col("docId"), F.lit(".py"))
    )
    idx = "/tmp/idx_tri_field"
    shutil.rmtree(idx, ignore_errors=True)
    S.build_index(spark, corpus, idx, analyzer="trigram",
                  fields={"path": "trigram"}, with_positions=False,
                  n_batches=1, num_segments=2)
    segs, ts = S.load_segments(spark, idx), S.load_term_stats(spark, idx)
    # content substring still works on the combined index
    assert _ids(C.search_substring(segs, corpus, "pha bod", ts)) == [0]
    # path substring via the namespaced field probes
    assert _ids(C.search_substring(segs, corpus, "module_1.py", ts,
                                   field="path")) == [1]
    assert _ids(C.search_substring(segs, corpus, "src/module", ts,
                                   field="path")) == [0, 1, 2]
    # a content word is NOT findable through the path field
    assert _ids(C.search_substring(segs, corpus, "alpha", ts,
                                   field="path")) == []
    shutil.rmtree(idx, ignore_errors=True)


def test_explain_substring(spark, tri_index):
    """Plan report matches what the search actually does: probe set, df
    ranks, candidate upper bound, and the strategy per needle class."""
    corpus, segs, ts = tri_index
    import pandas as pd

    from search_engine_spark.sources.segments import load_term_stats_pdf

    rep = C.explain_substring("apple a day", ts, max_probe=3)
    assert rep["strategy"] == "probe_verify" and len(rep["probes"]) == 3
    dfs = [d for _, d in rep["probes"]]
    assert dfs == sorted(dfs)  # rarest first
    n_hits = len(_ids(C.search_substring(segs, corpus, "apple a day", ts)))
    assert n_hits <= rep["max_candidates"]
    assert C.explain_substring("zz", ts)["strategy"] == "full_scan"
    assert C.explain_substring("zzqx-never", ts)["strategy"] == "empty"
    # pandas-stats form gives the identical plan (serving mode, zero jobs)
    pdf_stats = ts.toPandas()
    assert C.explain_substring("apple a day", pdf_stats, max_probe=3) == rep


def test_federated_substring(spark, tmp_path):
    """Substring search over a doc-partitioned FEDERATION of membership
    trigram shards: probes push into every shard's scan through the union,
    probe df comes from the summed global stats — results equal the
    full-scan truth (the 10^12-file sharded-deployment shape)."""
    from search_engine_spark.operators.federation import (
        build_sharded_index,
        federated_segments,
        global_term_stats,
    )
    from search_engine_spark.sources.corpus import synthetic_corpus

    corpus = synthetic_corpus(spark, n_docs=240, vocab_size=500, seed=13)
    root = str(tmp_path / "fed_tri")
    build_sharded_index(
        spark, corpus, root, n_shards=2, analyzer="trigram",
        with_positions=False, membership=True, n_batches=1, num_segments=2,
    )
    segs = federated_segments(spark, root)
    ts = global_term_stats(spark, root)
    for needle in ["apple a day", "tok1 tok", "zzq-never"]:
        want = _ids(
            corpus.where(F.col("content").contains(F.lit(needle)))
            .select("docId")
        )
        assert _ids(C.search_substring(segs, corpus, needle, ts)) == want, needle


# --- grep lines + symbols ----------------------------------------------------


CODE_TEXTS = [
    "def parseJsonFile(path):\n    return read(path)\nclass FileReader:\n    pass",
    "x = parse(json_file)  # memcpy( is fast\nfunc doWork() {}",
    "unrelated tokens here\nfn main() { memcpy(dst, src) }",
    "short",
]


def test_grep_lines(spark):
    corpus = corpus_from_texts(spark, CODE_TEXTS)
    hits = corpus.where(F.col("content").contains("memcpy(")).select("docId")
    got = sorted(
        (r.docId, r.line_no, r.col_no, r.line)
        for r in C.grep_lines(corpus, hits, "memcpy(").collect()
    )
    assert got == [
        (1, 1, 25, "x = parse(json_file)  # memcpy( is fast"),
        (2, 2, 13, "fn main() { memcpy(dst, src) }"),
    ]


def test_count_matches(spark):
    corpus = corpus_from_texts(spark, ["ab ab ab", "ab", "zz"])
    hits = corpus.where(F.col("content").contains("ab")).select("docId")
    got = [(r.docId, r.n_matches) for r in C.count_matches(corpus, hits, "ab").collect()]
    assert got == [(0, 3), (1, 1)]


def test_extract_symbols(spark):
    corpus = corpus_from_texts(spark, CODE_TEXTS)
    got = sorted(
        (r.docId, r.kind, r.symbol) for r in C.extract_symbols(corpus).collect()
    )
    assert got == [
        (0, "class", "FileReader"),
        (0, "function", "parseJsonFile"),
        (1, "func", "doWork"),
        (2, "fn", "main"),
    ]


def test_symbol_boosted_ranking(spark, tmp_index):
    """Composition: symbols as an indexed field; a definition-site match
    outranks a mention via the field weight (score_query_fielded)."""
    from search_engine_spark.operators.rank import Scorer, score_query_fielded

    texts = [
        "helper mentions dowork and dowork again and dowork",  # mention-heavy
        "def doWork(): pass",                                  # the definition
        "nothing relevant",
    ]
    # symbols column: extract -> per-doc agg -> join back
    base = corpus_from_texts(spark, texts)
    syms = (
        C.extract_symbols(base)
        .groupBy("docId")
        .agg(F.array_join(F.collect_list("symbol"), " ").alias("symbols"))
    )
    corpus = base.join(syms, "docId", "left").fillna({"symbols": ""})
    m = S.build_index(
        spark, corpus, tmp_index, analyzer="code",
        fields={"symbols": "code"}, n_batches=1, num_segments=2,
    )
    segs, ts = S.load_segments(spark, tmp_index), S.load_term_stats(spark, tmp_index)
    st = m["stats"]
    rows = score_query_fielded(
        spark, segs, ts,
        {None: (["dowork"], 1.0), "symbols": (["dowork"], 2.0)},
        st["n_docs"], st["avgdl_by_field"],
        Scorer("bm25"), k=5, analyzer="code",
        field_analyzers={"symbols": "code"},
    ).collect()
    assert rows[0]["docId"] == 1  # definition beats mention-stuffing
    assert {r["docId"] for r in rows} == {0, 1}


def test_full_scan_cost_guard(spark, tri_index):
    """VERDICT r4 item 5: allow_full_scan=False refuses the fallback-scan
    plans (short needles, unprunable regex) with an explicit planner error
    naming the query; prunable queries are unaffected; explain reports the
    refusal."""
    corpus, segs, ts = tri_index
    with pytest.raises(C.FullScanRefused, match="'to'"):
        C.search_substring(segs, corpus, "to", ts, allow_full_scan=False)
    with pytest.raises(C.FullScanRefused, match="qid=7"):
        C.search_substring_batch(segs, corpus, {7: "ab"}, ts,
                                 allow_full_scan=False)
    with pytest.raises(C.FullScanRefused, match="a|b"):
        C.search_regex_content(segs, corpus, "a|b", ts,
                               allow_full_scan=False)
    with pytest.raises(C.FullScanRefused, match="qid=3"):
        C.search_regex_batch(segs, corpus, {3: "x|y"}, ts,
                             allow_full_scan=False)
    # prunable queries still run under the gate
    got = _ids(C.search_substring(segs, corpus, "public", ts,
                                  allow_full_scan=False))
    assert got == _ids(C.search_substring(segs, corpus, "public", ts))
    rep = C.explain_substring("to", None, allow_full_scan=False)
    assert rep["strategy"] == "refused" and "allow_full_scan" in rep["reason"]
    assert C.explain_substring("to", None)["strategy"] == "full_scan"
