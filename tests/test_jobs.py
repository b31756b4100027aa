"""spark-submit entry points (jobs/) driven in-process: build, resume, query."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Corpus parquet + built index via the job main()."""
    from jobs.build_index import main as build_main

    from search_engine_spark.sources.corpus import synthetic_corpus

    root = tmp_path_factory.mktemp("jobs")
    src = str(root / "corpus")
    idx = str(root / "index")
    synthetic_corpus(spark, n_docs=120, vocab_size=500, seed=42).write.parquet(src)
    rc = build_main([
        "--input", src, "--output", idx, "--analyzer", "porter",
        "--batches", "2", "--segments", "4", "--master", "local[4]",
    ])
    assert rc == 0
    return src, idx


def test_build_job_manifest(built, spark):
    from search_engine_spark.sources.segments import read_manifest

    _, idx = built
    m = read_manifest(idx)
    assert m["finalized"] and m["stats"]["n_docs"] == 120
    assert len(m["batches"]) == 2


def test_build_job_resume_noop(built, capsys):
    """Re-running the job over a finished index rebuilds nothing."""
    from jobs.build_index import main as build_main

    from search_engine_spark.sources.segments import read_manifest

    src, idx = built
    before = read_manifest(idx)["batches"]
    rc = build_main([
        "--input", src, "--output", idx, "--analyzer", "porter",
        "--batches", "2", "--segments", "4", "--master", "local[4]",
    ])
    assert rc == 0
    after = read_manifest(idx)["batches"]
    assert {k: b["committed_at"] for k, b in before.items()} == {
        k: b["committed_at"] for k, b in after.items()
    }


@pytest.mark.parametrize("mode", ["bm25", "tfidf", "and", "phrase"])
def test_query_job(built, capsys, mode):
    from jobs.query import main as query_main

    _, idx = built
    rc = query_main([
        "--index", idx, "--mode", mode, "--k", "5", "--master", "local[4]",
        "appl", "rotten",
    ])
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["mode"] == mode and len(out["results"]) <= 5
    if mode in ("bm25", "tfidf") and out["results"]:
        scores = [r["score"] for r in out["results"]]
        assert scores == sorted(scores, reverse=True)


def test_query_job_extended_modes(built, capsys):
    """prefix / near / not modes through the spark-submit surface, checked
    by their containment laws against the established modes."""
    from jobs.query import main as query_main

    _, idx = built

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return {r["docId"] for r in out["results"]}

    keyword = run(["--mode", "keyword", "--k", "1000", "appl"])
    assert keyword  # synthetic vocab contains the 'appl' stem
    # prefix hits ⊇ the exact-term hits for a prefix equal to the term
    prefix = run(["--mode", "prefix", "--k", "1000", "appl"])
    assert keyword <= prefix
    # near hits ⊆ AND hits, and widening the window only adds docs
    both = run(["--mode", "and", "--k", "1000", "rotten", "apple"])
    near3 = run(["--mode", "near", "--window", "3", "--k", "1000",
                 "rotten", "apple"])
    near9 = run(["--mode", "near", "--window", "9", "--k", "1000",
                 "rotten", "apple"])
    assert near3 <= near9 <= both
    # not-mode results never contain the excluded term
    rotten = run(["--mode", "keyword", "--k", "1000", "rotten"])
    not_hits = run(["--mode", "not", "--k", "1000",
                    "--exclude", "rotten", "--", "apple"])
    assert not_hits == keyword - rotten


def test_query_job_fuzzy_suggest_mlt(built, capsys):
    """fuzzy / suggest / mlt modes through the spark-submit surface:
    containment + shape laws against the established modes."""
    from jobs.query import main as query_main

    src, idx = built

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # fuzzy at dist 0 == exact keyword; widening the radius only adds docs
    keyword = {r["docId"] for r in run(
        ["--mode", "keyword", "--k", "1000", "appl"])["results"]}
    f0 = {r["docId"] for r in run(
        ["--mode", "fuzzy", "--max-dist", "0", "--k", "1000", "appl"])["results"]}
    f1 = {r["docId"] for r in run(
        ["--mode", "fuzzy", "--max-dist", "1", "--k", "1000", "appl"])["results"]}
    assert f0 == keyword and keyword <= f1

    # suggest: the exact dictionary term ranks itself first at dist 0
    sug = run(["--mode", "suggest", "--max-dist", "2", "--k", "3", "appl"])
    assert sug["results"] and sug["results"][0]["term"] == "appl"
    assert sug["results"][0]["dist"] == 0

    # mlt: seed doc never in its own results; scores are sorted desc
    import pyarrow.parquet as pq

    seed = int(pq.read_table(src, columns=["docId"]).column(0)[0].as_py())
    mlt = run(["--mode", "mlt", "--corpus", src, "--top-terms", "6",
               "--k", "5", str(seed)])
    assert mlt["results"] and all(r["docId"] != seed for r in mlt["results"])
    scores = [r["score"] for r in mlt["results"]]
    assert scores == sorted(scores, reverse=True)


def test_query_job_codesearch_modes(spark, tmp_path_factory, capsys):
    """substring / regexcontent / grep modes over a trigram-built index,
    checked against the full-scan predicates they must equal."""
    from jobs.build_index import main as build_main
    from jobs.query import main as query_main

    from search_engine_spark.sources.corpus import synthetic_corpus

    root = tmp_path_factory.mktemp("codesearch_job")
    src, idx = str(root / "corpus"), str(root / "index")
    corpus = synthetic_corpus(spark, n_docs=80, vocab_size=300, seed=11)
    corpus.write.parquet(src)
    rc = build_main([
        "--input", src, "--output", idx, "--analyzer", "trigram",
        "--no-positions", "--batches", "1", "--segments", "4",
        "--master", "local[4]",
    ])
    assert rc == 0

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    needle = "a t"  # crosses token boundaries
    want = {
        r.docId
        for r in corpus.where(F.col("content").contains(needle)).collect()
    }
    got = {r["docId"] for r in run(
        ["--mode", "substring", "--corpus", src, "--k", "1000", needle]
    )["results"]}
    assert got == want and got

    pat = "a [a-z]+ t"
    want_rx = {
        r.docId for r in corpus.where(F.col("content").rlike(pat)).collect()
    }
    got_rx = {r["docId"] for r in run(
        ["--mode", "regexcontent", "--corpus", src, "--k", "1000", pat]
    )["results"]}
    assert got_rx == want_rx and got_rx

    g = run(["--mode", "grep", "--corpus", src, "--k", "5", needle])
    assert g["results"] and all(needle in r["line"] for r in g["results"])
    assert all(r["line_no"] == 1 for r in g["results"])  # single-line docs
    assert all(
        r["line"][r["col_no"] - 1:].startswith(needle) for r in g["results"]
    )

    ex = run(["--mode", "substring", "--explain", needle])  # no --corpus
    assert ex["explain"]["strategy"] == "probe_verify"
    assert ex["explain"]["probes"] and ex["explain"]["max_candidates"] >= len(want)


def test_pagerank_job_rank_window(spark, tmp_path_factory, capsys):
    """jobs/pagerank.py over a fixture edge TSV: the hub of a star graph
    must rank in the top window (IcsSearchEnginePageRankTest.java:74-108
    asserts named URLs inside top-5/20/100 windows; here the graph is
    synthetic so the window is exact)."""
    import json

    from jobs.pagerank import main as pr_main

    root = tmp_path_factory.mktemp("prjob")
    edges_p = root / "id-graph.tsv"
    urls_p = root / "url.tsv"
    # star: everyone links to 0; plus a ring so every node has outdeg
    lines = [f"{i}\t0" for i in range(1, 21)] + [f"{i}\t{(i + 1) % 21}" for i in range(21)]
    edges_p.write_text("\n".join(lines) + "\n")
    urls_p.write_text("\n".join(f"{i}\thttps://u/{i}" for i in range(21)) + "\n")
    rc = pr_main([
        "--edges", str(edges_p), "--urls", str(urls_p),
        "--iterations", "30", "--topk", "5", "--master", "local[4]",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    top = out["topk"]
    assert top[0]["docId"] == 0                      # the hub wins
    # reference normalization is (PR-min)/max — NOT /(max-min) — so the top
    # value is (max-min)/max, strictly below 1 whenever min > 0 (ICS:143-145)
    assert 0.9 < top[0]["pagerank"] < 1.0
    assert top[0]["url"] == "https://u/0"
    assert all(top[i]["pagerank"] >= top[i + 1]["pagerank"] for i in range(4))


def test_edge_and_url_readers(spark, tmp_path_factory):
    """S2/S3 readers parse the reference TSV shapes with explicit schemas."""
    from search_engine_spark.sources.graph import graph_nodes, load_edge_list, load_url_map

    root = tmp_path_factory.mktemp("graphsrc")
    (root / "g.tsv").write_text("1\t2\n2\t3\n3\t1\n")
    (root / "u.tsv").write_text("1\thttps://a\n2\thttps://b\n")
    e = load_edge_list(spark, str(root / "g.tsv"))
    assert {(r.src, r.dst) for r in e.collect()} == {(1, 2), (2, 3), (3, 1)}
    assert {r.docId for r in graph_nodes(e).collect()} == {1, 2, 3}
    u = {r.doc_id: r.url for r in load_url_map(spark, str(root / "u.tsv")).collect()}
    assert u == {1: "https://a", 2: "https://b"}


def test_delete_job_and_query_exclusion(spark, tmp_path_factory, capsys):
    """jobs/delete.py end-to-end: tombstone a top hit -> default queries
    exclude it, --ignore-deleted still sees it, --purge makes the exclusion
    physical (stats shrink, tombstones cleared)."""
    from jobs.build_index import main as build_main
    from jobs.delete import main as delete_main
    from jobs.query import main as query_main

    from search_engine_spark.sources.corpus import synthetic_corpus
    from search_engine_spark.sources.segments import read_manifest

    def last_json():
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    root = tmp_path_factory.mktemp("deljob")
    src, idx = str(root / "c"), str(root / "i")
    synthetic_corpus(spark, n_docs=80, vocab_size=300, seed=7).write.parquet(src)
    assert build_main([
        "--input", src, "--output", idx, "--analyzer", "porter",
        "--batches", "1", "--segments", "4", "--master", "local[4]",
    ]) == 0
    q = ["--index", idx, "--mode", "bm25", "--k", "5", "--master", "local[4]"]
    assert query_main(q + ["apple"]) == 0
    res = last_json()["results"]
    assert res
    dead = res[0]["docId"]

    assert delete_main(["--index", idx, "--ids", str(dead), "--master", "local[4]"]) == 0
    dm = last_json()
    assert dm["tombstone_sets"] and dm["tombstone_sets"][0]["ndocs"] == 1

    assert query_main(q + ["apple"]) == 0
    assert dead not in [r["docId"] for r in last_json()["results"]]
    assert query_main(q + ["--ignore-deleted", "apple"]) == 0
    assert dead in [r["docId"] for r in last_json()["results"]]

    assert delete_main(["--index", idx, "--purge", "--master", "local[4]"]) == 0
    pm = last_json()
    assert pm["purged"] and not pm["tombstone_sets"]
    assert read_manifest(idx)["stats"]["n_docs"] == 79
    assert query_main(q + ["apple"]) == 0
    assert dead not in [r["docId"] for r in last_json()["results"]]


def test_compact_job_auto(built, spark, capsys):
    """--auto merges the two size-similar batches into one; query results
    over the compacted index match the job's pre-compaction output."""
    from jobs.compact import main as compact_main
    from jobs.query import main as query_main

    from search_engine_spark.sources.segments import read_manifest

    _, idx = built
    rc = query_main(["--index", idx, "--mode", "bm25", "--k", "5",
                     "--master", "local[4]", "def", "import"])
    assert rc == 0
    before = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rc = compact_main(["--index", idx, "--auto", "--master", "local[4]"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["batches"]) == 1
    assert len(read_manifest(idx)["batches"]) == 1
    rc = query_main(["--index", idx, "--mode", "bm25", "--k", "5",
                     "--master", "local[4]", "def", "import"])
    assert rc == 0
    after = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert before["results"] == after["results"]


def test_fielded_build_and_field_query_jobs(spark, tmp_path_factory, capsys):
    """--field end to end: build a fielded index via the build job, then
    constrain and/keyword queries by field through the query job."""
    from jobs.build_index import main as build_main
    from jobs.query import main as query_main

    from search_engine_spark.sources.corpus import synthetic_corpus

    root = tmp_path_factory.mktemp("fielded_jobs")
    src, idx = str(root / "corpus"), str(root / "index")
    corpus = synthetic_corpus(spark, n_docs=80, vocab_size=300, seed=7)
    corpus.write.parquet(src)
    rc = build_main([
        "--input", src, "--output", idx, "--analyzer", "naive",
        "--batches", "1", "--segments", "4", "--master", "local[4]",
        "--field", "lang", "--field", "repo",
    ])
    assert rc == 0
    capsys.readouterr()

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return {r["docId"] for r in out["results"]}

    langs = {r.lang for r in corpus.select("lang").distinct().collect()}
    lang = sorted(langs)[0]
    kw = next(
        r.term for r in spark.read.parquet(src)
        .select(F.explode(F.split(F.lower("content"), r"\s+")).alias("term"))
        .groupBy("term").count().orderBy(F.desc("count")).limit(1).collect()
    )
    all_hits = run(["--mode", "keyword", "--k", "1000", kw])
    fielded = run(["--mode", "keyword", "--k", "1000", "--field", f"lang={lang}", kw])
    in_lang = {
        r.docId for r in corpus.where(F.col("lang") == lang).select("docId").collect()
    }
    assert fielded == all_hits & in_lang
    assert fielded < all_hits  # the constraint actually prunes
    # and-mode accepts fields too; or-mode rejects them
    and_hits = run(["--mode", "and", "--k", "1000", "--field", f"lang={lang}", kw])
    assert and_hits == fielded
    with pytest.raises(SystemExit):
        query_main(["--index", idx, "--master", "local[4]", "--mode", "or",
                    "--field", f"lang={lang}", kw])


def test_stats_job(built, capsys):
    from jobs.stats import main as stats_main

    _, idx = built
    rc = stats_main(["--index", idx, "--master", "local[4]", "--top-terms", "5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["finalized"] and out["stats"]["n_docs"] == 120
    assert out["config"]["analyzer"] == "porter"
    # the module-scoped index may have been compacted by an earlier test —
    # batch count varies, committed doc total must not
    assert len(out["batches"]) >= 1
    assert sum(b["ndocs"] for b in out["batches"].values()) == 120
    assert out["dictionary"]["n_terms"] > 0
    assert len(out["dictionary"]["top_df"]) == 5
    dfs = [t["df"] for t in out["dictionary"]["top_df"]]
    assert dfs == sorted(dfs, reverse=True)
    assert out["tombstones"] == 0


def test_boost_field_query_job(spark, tmp_path_factory, capsys):
    """--boost-field: fielded BM25 through the job surface; field part only
    reorders/boosts docs in the boosted slice, and a zero-weight boost
    equals plain bm25."""
    from jobs.build_index import main as build_main
    from jobs.query import main as query_main

    from search_engine_spark.sources.corpus import synthetic_corpus

    root = tmp_path_factory.mktemp("boost_jobs")
    src, idx = str(root / "corpus"), str(root / "index")
    corpus = synthetic_corpus(spark, n_docs=80, vocab_size=300, seed=7)
    corpus.write.parquet(src)
    rc = build_main([
        "--input", src, "--output", idx, "--analyzer", "naive",
        "--batches", "1", "--segments", "4", "--master", "local[4]",
        "--field", "lang",
    ])
    assert rc == 0
    capsys.readouterr()

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return {r["docId"]: r["score"] for r in out["results"]}

    kw = next(
        r.term for r in spark.read.parquet(src)
        .select(F.explode(F.split(F.lower("content"), r"\s+")).alias("term"))
        .groupBy("term").count().orderBy(F.desc("count")).limit(1).collect()
    )
    lang = sorted(
        r.lang for r in corpus.select("lang").distinct().collect()
    )[0]
    plain = run(["--mode", "bm25", "--k", "100", kw])
    zero = run(["--mode", "bm25", "--k", "100",
                "--boost-field", f"lang={lang}:0.0", kw])
    assert plain == zero
    boosted = run(["--mode", "bm25", "--k", "100",
                   "--boost-field", f"lang={lang}:1.5", kw])
    in_lang = {
        r.docId for r in corpus.where(F.col("lang") == lang).select("docId").collect()
    }
    for d, s in plain.items():
        if d in boosted:
            if d in in_lang:
                assert boosted[d] > s
            else:
                assert boosted[d] == pytest.approx(s, abs=1e-6)


def test_serve_job_cached(built, tmp_path_factory, capsys):
    """jobs/serve.py: prepare the serving cache, serve a JSON workload, and
    match jobs/query.py's bm25 output for the same query; a stale cache
    auto-re-prepares."""
    import os

    from jobs.query import main as query_main
    from jobs.serve import main as serve_main

    from search_engine_spark.sources.segments import load_term_stats_pdf

    src, idx = built
    root = tmp_path_factory.mktemp("serve_job")
    cdir = str(root / "cache")
    qfile = str(root / "q.json")
    stats = load_term_stats_pdf(idx).sort_values(["df", "term"])
    terms = list(stats["term"].iloc[len(stats) // 2 : len(stats) // 2 + 3])
    with open(qfile, "w") as f:
        json.dump({"0": terms}, f)

    rc = serve_main(["--index", idx, "--cache", cdir, "--prepare",
                     "--n-buckets", "4", "--master", "local[4]"])
    assert rc == 0
    prep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert prep["prepared"] and prep["buckets"] >= 1

    rc = serve_main(["--index", idx, "--cache", cdir, "--queries", qfile,
                     "--k", "5", "--master", "local[4]"])
    assert rc == 0
    served = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert served and all(r["qid"] == 0 for r in served)

    rc = query_main(["--index", idx, "--mode", "bm25", "--k", "5",
                     "--master", "local[4]", *terms])
    assert rc == 0
    qout = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    qhits = [(r["docId"], round(r["score"], 6)) for r in qout["results"]]
    # single-query tie order is the reference's: score desc, docId DESC
    shits = sorted(((r["docId"], r["score"]) for r in served),
                   key=lambda t: (-t[1], -t[0]))
    assert [d for d, _ in shits] == [d for d, _ in qhits][: len(shits)]

    # stale: tombstone the served top hit, serve again — the job re-prepares
    # AND excludes the deleted doc (jobs/query.py's default semantics)
    from search_engine_spark.operators.delete import add_tombstones
    from search_engine_spark.session import get_spark

    top_doc = shits[0][0]
    sp = get_spark(master="local[4]")
    add_tombstones(sp, idx, sp.createDataFrame([(top_doc,)], "docId long"))
    rc = serve_main(["--index", idx, "--cache", cdir, "--queries", qfile,
                     "--k", "5", "--master", "local[4]"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    served2 = [json.loads(l) for l in lines if '"docId"' in l]
    assert served2 and all(r["docId"] != top_doc for r in served2)


def test_serve_job_refresh_flag(built, tmp_path_factory, capsys):
    """jobs/serve.py --refresh: the per-commit maintenance entry — a no-op
    at the current generation, an incremental refresh after a commit, and a
    full prepare when the cache is missing."""
    import json as _json
    import os

    from jobs.serve import main as serve_main

    src, idx = built
    root = tmp_path_factory.mktemp("serve_refresh")
    cdir = str(root / "cache")
    # missing cache -> --refresh falls back to a full prepare
    rc = serve_main(["--index", idx, "--cache", cdir, "--refresh",
                     "--n-buckets", "4", "--master", "local[4]"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out.get("prepared")
    gen0 = out["generation"]
    # current generation -> metadata no-op, still exits 0
    rc = serve_main(["--index", idx, "--cache", cdir, "--refresh",
                     "--master", "local[4]"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out.get("refreshed") and out["generation"] == gen0
    assert out["mode"] == "noop"
    # commit (tombstone) -> --refresh lands the new generation, and with
    # --queries it serves in the same invocation (refresh-then-serve)
    from search_engine_spark.operators.delete import add_tombstones
    from search_engine_spark.session import get_spark

    sp = get_spark(master="local[4]")
    add_tombstones(sp, idx, sp.createDataFrame([(123456789,)], "docId long"))
    from search_engine_spark.sources.segments import load_term_stats_pdf

    stats = load_term_stats_pdf(idx).sort_values(["df", "term"])
    qfile = str(root / "q.json")
    with open(qfile, "w") as f:
        _json.dump({"0": [stats["term"].iloc[len(stats) // 2]]}, f)
    rc = serve_main(["--index", idx, "--cache", cdir, "--refresh",
                     "--queries", qfile, "--k", "3",
                     "--master", "local[4]"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    out = _json.loads(lines[0])
    assert out.get("refreshed") and out["generation"] > gen0
    assert out["mode"] == "metadata_only"  # tombstone-only commit
    served = [_json.loads(l) for l in lines[1:] if '"docId"' in l]
    assert served and all(r["qid"] == 0 for r in served)


def test_query_job_parsed_and_ranked(built, capsys):
    """--q query-string surface: parsed (membership) and ranked (BM25)
    modes agree on the match set; ranked is score-ordered and equals the
    direct rank_query_string result."""
    from jobs.query import main as query_main

    _, idx = built
    rc = query_main([
        "--index", idx, "--q", "appl AND rotten", "--k", "8",
        "--master", "local[4]",
    ])
    assert rc == 0
    parsed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert parsed["mode"] == "parsed"

    rc = query_main([
        "--index", idx, "--mode", "ranked", "--q", "appl AND rotten",
        "--k", "8", "--master", "local[4]",
    ])
    assert rc == 0
    ranked = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ranked["mode"] == "ranked"
    ids_p = {r["docId"] for r in parsed["results"]}
    ids_r = [r["docId"] for r in ranked["results"]]
    assert set(ids_r) <= ids_p and ids_r
    scores = [r["score"] for r in ranked["results"]]
    assert scores == sorted(scores, reverse=True) and scores[0] > 0


def test_query_job_parsed_explain(built, capsys):
    """--explain on parsed/ranked: plan-only report, no execution."""
    from jobs.query import main as query_main

    _, idx = built
    rc = query_main([
        "--index", idx, "--mode", "ranked", "--q", "appl^2 AND rott*",
        "--explain", "--master", "local[4]",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rep = out["explain"]
    kinds = sorted(l["leaf"] for l in rep["leaves"])
    assert kinds == ["prefix", "term"]
    assert rep["scoring_weights"] and rep["candidate_bound"] > 0


def test_query_job_msm_and_highlight(built, capsys):
    """msm mode containment laws (min-match 1 == or, n == and) and
    --highlight snippets through the spark-submit surface."""
    from jobs.query import main as query_main

    src, idx = built

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def ids(out):
        return {r["docId"] for r in out["results"]}

    or_set = ids(run(["--mode", "or", "--k", "1000", "rotten", "apple"]))
    and_set = ids(run(["--mode", "and", "--k", "1000", "rotten", "apple"]))
    msm1 = ids(run(["--mode", "msm", "--min-match", "1", "--k", "1000",
                    "rotten", "apple"]))
    msm2 = ids(run(["--mode", "msm", "--min-match", "2", "--k", "1000",
                    "rotten", "apple"]))
    assert msm1 == or_set and msm2 == and_set and and_set < or_set
    # highlight: snippets wrap the literal user words, results unchanged
    plain = run(["--mode", "and", "--k", "5", "rotten", "apple"])
    out = run(["--mode", "and", "--k", "5", "--corpus", src, "--highlight",
               "rotten", "apple"])
    assert ids(out) == ids(plain) and out["results"]
    snips = [r.get("snippet") for r in out["results"]]
    assert any(s and "<em>" in s for s in snips)
    for s in snips:
        if s:
            assert "<em>rotten</em>" in s or "<em>apple</em>" in s


def test_query_job_spanfirst(built, capsys):
    """spanfirst containment laws: hits are a subset of keyword hits and
    grow monotonically with the window."""
    from jobs.query import main as query_main

    _, idx = built

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return {r["docId"] for r in out["results"]}

    keyword = run(["--mode", "keyword", "--k", "1000", "appl"])
    sf2 = run(["--mode", "spanfirst", "--window", "2", "--k", "1000", "appl"])
    sf50 = run(["--mode", "spanfirst", "--window", "50", "--k", "1000", "appl"])
    big = run(["--mode", "spanfirst", "--window", "100000", "--k", "1000",
               "appl"])
    assert sf2 <= sf50 <= big == keyword


def test_query_job_dismax(built, capsys):
    """dismax CLI: --tie 1.0 equals bm25 scores; --tie 0.0 scores below."""
    from jobs.query import main as query_main

    _, idx = built

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return {r["docId"]: r["score"] for r in out["results"]}

    bm25 = run(["--mode", "bm25", "--k", "1000", "appl", "rotten"])
    tie1 = run(["--mode", "dismax", "--tie", "1.0", "--k", "1000",
                "appl", "rotten"])
    tie0 = run(["--mode", "dismax", "--tie", "0.0", "--k", "1000",
                "appl", "rotten"])
    assert tie1 == bm25
    assert set(tie0) == set(bm25)
    assert all(tie0[d] <= bm25[d] for d in bm25)


def test_query_job_agg_and_rescore_modes(built, capsys):
    """rescore / decay / sigterms / stats / percentiles through the
    spark-submit surface: law checks against the established modes."""
    from jobs.query import main as query_main

    src, idx = built

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # rescore with boost 0 == plain bm25 top-k (same scores, same order)
    base = run(["--mode", "bm25", "--k", "5", "apple"])["results"]
    re0 = run(["--mode", "rescore", "--phrase", "rotten", "apple",
               "--boost", "0", "--rescore-window", "50", "--k", "5",
               "apple"])["results"]
    assert [(r["docId"], r["score"]) for r in re0] == [
        (r["docId"], r["score"]) for r in base
    ]
    # positive boost never lowers any doc's score
    re1 = run(["--mode", "rescore", "--phrase", "rotten", "apple",
               "--boost", "2.5", "--rescore-window", "50", "--k", "50",
               "apple"])["results"]
    s0 = {r["docId"]: r["score"] for r in
          run(["--mode", "bm25", "--k", "50", "apple"])["results"]}
    for r in re1:
        assert r["score"] >= s0[r["docId"]] - 1e-9

    # decay at huge scale ~ multiplier 1 => equals bm25 ranking (docIds are
    # sparse 64-bit, so the scale must dwarf ~1e19 distances)
    dec = run(["--mode", "decay", "--corpus", src, "--stat-field", "docId",
               "--origin", "0", "--scale", "1e30", "--k", "5",
               "apple"])["results"]
    assert [r["docId"] for r in dec] == [r["docId"] for r in base]

    # sigterms over the 'apple' hit set: every query term itself appears
    # with fg_pct 1 (it is in every hit), scores sorted desc
    sig = run(["--mode", "sigterms", "--k", "8", "apple"])["results"]
    assert sig and any(r["term"] == "appl" for r in sig)  # porter stem
    sc = [r["score"] for r in sig]
    assert sc == sorted(sc, reverse=True)

    # stats/percentiles over hit docIds: n == |hits|, median within min/max
    hits = {r["docId"] for r in
            run(["--mode", "keyword", "--k", "1000", "apple"])["results"]}
    st = run(["--mode", "stats", "--corpus", src, "--stat-field", "docId",
              "apple"])["results"]
    row = next(r for r in st if r["col"] == "docId")
    # values pass through a double cast: compare at double precision
    assert row["n"] == len(hits) and row["ndv"] == len(hits)
    assert row["min"] == float(min(hits)) and row["max"] == float(max(hits))
    pc = run(["--mode", "percentiles", "--corpus", src, "--stat-field",
              "docId", "--fractions", "0", "0.5", "1", "--", "apple"])["results"]
    vals = {r["p"]: r["value"] for r in pc}
    assert vals[0.0] == float(min(hits)) and vals[1.0] == float(max(hits))
    assert min(hits) <= vals[0.5] <= max(hits)


def test_query_job_complete_and_vrescore(built, capsys, tmp_path):
    """complete / vrescore modes through the spark-submit surface."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.query import main as query_main

    src, idx = built

    def run(args):
        rc = query_main(["--index", idx, "--master", "local[4]", *args])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    comp = run(["--mode", "complete", "--k", "5", "app"])["results"]
    assert comp and all(r["term"].startswith("app") for r in comp)
    dfs = [r["df"] for r in comp]
    assert dfs == sorted(dfs, reverse=True)

    # embeddings fixture: every corpus doc gets a non-negative 2-d vector,
    # so cosine vs a non-negative seed is >= 0 and vrescore never demotes
    ids = pq.read_table(src, columns=["docId"]).column(0).to_pylist()
    emb_path = str(tmp_path / "emb.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(
                [[float(i % 5) + 0.5, 1.0] for i in range(len(ids))],
                pa.list_(pa.float32()),
            ),
        }),
        emb_path,
    )
    base = {r["docId"]: r["score"] for r in
            run(["--mode", "bm25", "--k", "50", "apple"])["results"]}
    vr0 = run(["--mode", "vrescore", "--emb", emb_path, "--seed-vec",
               str(ids[0]), "--vec-weight", "0", "--rescore-window", "50",
               "--k", "50", "apple"])["results"]
    assert {r["docId"]: r["score"] for r in vr0} == base
    vr1 = run(["--mode", "vrescore", "--emb", emb_path, "--seed-vec",
               str(ids[0]), "--vec-weight", "1.5", "--rescore-window", "50",
               "--k", "50", "apple"])["results"]
    for r in vr1:
        assert r["score"] >= base[r["docId"]] - 1e-9


def test_query_job_mode_edge_guards(built, capsys):
    """Zero-hit sigterms returns empty cleanly; bad decay/fraction args are
    argparse usage errors, not raw operator tracebacks."""
    from jobs.query import main as query_main

    src, idx = built
    rc = query_main(["--index", idx, "--master", "local[4]",
                     "--mode", "sigterms", "zzznosuchterm"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["results"] == []
    for bad in (
        ["--mode", "decay", "--corpus", src, "--stat-field", "docId",
         "--scale", "0", "appl"],
        ["--mode", "decay", "--corpus", src, "--stat-field", "docId",
         "--decay-rate", "1.0", "appl"],
        ["--mode", "percentiles", "--corpus", src, "--stat-field", "docId",
         "--fractions", "1.5", "--", "appl"],
        ["--mode", "complete", ""],
    ):
        with pytest.raises(SystemExit) as e:
            query_main(["--index", idx, "--master", "local[4]", *bad])
        assert e.value.code == 2
        capsys.readouterr()
