"""The tools' trial harness (tools/harness.py), checked without Spark."""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import harness  # noqa: E402

DOC = """# BENCH

<!-- a:auto -->
## A
old a
<!-- /a:auto -->

prose between sections

<!-- a:auto:trigram -->
## A trigram

<!-- /a:auto:trigram -->

<!-- b:auto -->
## B
<!-- /b:auto -->
tail without a newline"""


def _sections(text: str) -> dict[str, str]:
    """For each tag, every byte outside that tag's markers."""
    return {tag: text.split(f"<!-- {tag} -->")[0] + text.split(f"<!-- /{tag} -->", 1)[1]
            for tag in ("a:auto", "a:auto:trigram", "b:auto")}


def test_write_section_replaces_only_its_markers(tmp_path):
    p = tmp_path / "BENCH.md"
    p.write_text(DOC)
    harness.write_section("a:auto", "## A\nnew a\nline two\n", str(p))
    text = p.read_text()
    assert text.count("<!-- a:auto -->") == 1
    assert "<!-- a:auto -->\n## A\nnew a\nline two\n\n<!-- /a:auto -->" in text
    assert _sections(text)["a:auto"] == _sections(DOC)["a:auto"]
    # the trigram variant's marker shares a prefix and must not match
    harness.write_section("a:auto:trigram", "## T", str(p))
    again = p.read_text()
    assert "<!-- a:auto:trigram -->\n## T\n<!-- /a:auto:trigram -->" in again
    assert _sections(again)["a:auto:trigram"] == _sections(text)["a:auto:trigram"]


def test_write_section_on_the_committed_bench_md(tmp_path):
    src = os.path.join(os.path.dirname(TOOLS), "BENCH.md")
    p = tmp_path / "BENCH.md"
    with open(src) as f:
        doc = f.read()
    p.write_text(doc)
    tag = "query_scaling:auto"
    harness.write_section(tag, "replaced", str(p))
    text = p.read_text()
    a, b = f"<!-- {tag} -->", f"<!-- /{tag} -->"
    assert text.split(a)[0] == doc.split(a)[0]
    assert text.split(b, 1)[1] == doc.split(b, 1)[1]
    assert len(text) == len(doc) - len(doc.split(a)[1].split(b)[0]) + len("\nreplaced\n")


def test_write_section_appends_then_is_a_no_op(tmp_path):
    p = tmp_path / "BENCH.md"
    p.write_text(DOC)
    harness.write_section("c:auto", "## C\nbody", str(p))
    once = p.read_text()
    assert once == DOC + "\n\n<!-- c:auto -->\n## C\nbody\n<!-- /c:auto -->\n"
    harness.write_section("c:auto", "## C\nbody", str(p))
    assert p.read_text() == once
    fresh_doc = tmp_path / "NEW.md"
    harness.write_section("c:auto", "x", str(fresh_doc))
    assert fresh_doc.read_text() == "<!-- c:auto -->\nx\n<!-- /c:auto -->\n"


def test_interleave_order_trials_and_best():
    calls = []
    secs = iter([5.0, 2.0, 4.0, 3.0, 6.0, 1.0])

    def measure(level):
        calls.append(level)
        return {"level": level, "sec": next(secs)}

    runs, best = harness.interleave([2, 8], 3, measure)
    assert calls == [2, 8, 2, 8, 2, 8]
    assert [r["sec"] for r in runs[2]] == [5.0, 4.0, 6.0]
    assert [r["sec"] for r in runs[8]] == [2.0, 3.0, 1.0]
    assert best == {2: {"level": 2, "sec": 4.0}, 8: {"level": 8, "sec": 1.0}}


def test_n_vs_4n_report(capsys):
    secs = iter([4.0, 1.0, 3.0, 2.0])
    r = harness.n_vs_4n(2, 2, lambda c: {"sec": next(secs)}, n_docs=10)
    assert r == {"n_docs": 10, "N": 2, "trials": 2, "lo": {"sec": 3.0},
                 "hi": {"sec": 1.0}, "efficiency": 0.75,
                 "all_lo": [4.0, 3.0], "all_hi": [1.0, 2.0]}
    assert json.loads(capsys.readouterr().out) == r


def _inline_queries(stats, n_q):
    """The construction the tools each carried before the harness."""
    terms = sorted(zip(stats["term"], (int(d) for d in stats["df"])))
    terms.sort(key=lambda td: (td[1], td[0]))
    third = max(len(terms) // 3, 1)
    pools = [terms[:third], terms[third:2 * third], terms[2 * third:]]
    rng = random.Random(221)
    queries = {}
    for i in range(n_q):
        queries[i] = [rng.choice(pools[(i + j) % 3])[0] for j in range(1 + i % 3)]
    return queries


@pytest.mark.parametrize("n_terms", [3, 10, 200])
def test_stratified_queries_match_the_inline_construction(n_terms):
    rnd = random.Random(n_terms)
    stats = {"term": [f"t{rnd.randrange(10 ** 6)}_{i}" for i in range(n_terms)],
             "df": [rnd.choice([1, 2, 3, 50, 1000]) for _ in range(n_terms)]}
    got = harness.stratified_queries(zip(stats["term"], stats["df"]), 64)
    assert dict(enumerate(got)) == _inline_queries(stats, 64)
    assert [len(q) for q in got[:6]] == [1, 2, 3, 1, 2, 3]


def test_ensure_index_rebuilds_only_on_a_doc_count_change(tmp_path, monkeypatch):
    built = []
    monkeypatch.setattr(harness, "fresh", lambda fn, *a: built.append(a) or {"n_docs": a[1]})
    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    with open(os.path.join(idx, "manifest.json"), "w") as f:
        json.dump({"stats": {"n_docs": 3000, "avgdl": 7.5}}, f)
    assert harness.ensure_index(idx, 3000) == {"n_docs": 3000, "avgdl": 7.5}
    assert built == []
    assert harness.ensure_index(idx, 9000) == {"n_docs": 9000}
    assert built == [(idx, 9000)]


def test_query_index_is_one_directory_per_doc_count():
    """A tool run at another size gets its own shared index directory, so
    it never replaces the one the other tools reuse."""
    assert harness.query_index(20000) != harness.query_index(480000)
    assert harness.query_index(20000) == harness.query_index(20000)


def test_fresh_runs_in_a_new_interpreter():
    assert harness.fresh(json.loads, '{"a": [1, 2]}') == {"a": [1, 2]}
    assert harness.fresh(os.getpid) != os.getpid()


def test_cli_types_each_argument_like_its_default(monkeypatch):
    monkeypatch.setattr(sys, "argv", ["tool.py", "3000", "1"])
    assert harness.cli(120000, 2, 3, "porter") == [3000, 1, 3, "porter"]
