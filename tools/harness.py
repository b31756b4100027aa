"""One trial harness for the scaling and serving tools in ``tools/``.

Each tool is a spec: a setup (``ensure_index``), a timed module-level
function that ``fresh`` runs in a new interpreter, the levels it compares
(``interleave`` / ``n_vs_4n``) and the BENCH.md section it renders
(``write_section``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
BENCH_MD = os.path.join(REPO, "BENCH.md")
if REPO not in sys.path:
    sys.path.insert(0, REPO)
# Python workers start in the caller's working directory, so they find the
# package through PYTHONPATH only (the JVM, and through it every worker,
# inherits this environment when a tool starts its session)
_path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
if REPO not in _path:
    os.environ["PYTHONPATH"] = os.pathsep.join([REPO] + _path)

_CHILD = (
    "import importlib, json, sys; sys.path[:0] = sys.argv[1:3]; "
    "fn = getattr(importlib.import_module(sys.argv[3]), sys.argv[4]); "
    "print(json.dumps(fn(*json.loads(sys.argv[5]))))"
)


def cli(*defaults) -> list:
    """The positional command-line arguments, each typed like its default."""
    argv = sys.argv[1:]
    return [type(d)(argv[i]) if i < len(argv) else d for i, d in enumerate(defaults)]


def fresh(fn, *args) -> dict:
    """Run the module-level ``fn(*args)`` in a new interpreter (a fresh
    JVM) and return the JSON dict it returns. ``args`` must be JSON."""
    mod = fn.__module__
    if mod == "__main__":  # the tool was started as a script
        mod = os.path.splitext(os.path.basename(sys.modules[mod].__file__))[0]
    out = subprocess.run([sys.executable, "-c", _CHILD, REPO, TOOLS, mod, fn.__name__,
                          json.dumps(args)], capture_output=True, text=True, cwd=REPO)
    if out.returncode:
        sys.stderr.write(out.stderr[-4000:])
        out.check_returncode()
    return json.loads(out.stdout.strip().splitlines()[-1])


def interleave(levels, trials, measure):
    """Call ``measure(level)`` for each level in turn, ``trials`` rounds
    (N, 4N, N, 4N, ...). The host is shared and its CPU capacity swings
    ~40% over minutes, so interleaving lets every level see the same noise.
    Returns ``({level: [every trial]}, {level: fastest trial})``, where a
    trial is the dict ``measure`` returns, its seconds under ``"sec"``."""
    runs = {lv: [] for lv in levels}
    for _ in range(trials):
        for lv in levels:
            runs[lv].append(measure(lv))
    return runs, {lv: min(rs, key=lambda r: r["sec"]) for lv, rs in runs.items()}


def n_vs_4n(n: int, trials: int, measure, **extra) -> dict:
    """Interleaved trials of ``measure(cores) -> {"sec": ...}`` at N and 4N,
    as the printed report: the best trial of each level (``lo``, ``hi``),
    every trial's seconds and the efficiency (T_N * N) / (T_4N * 4N)."""
    runs, best = interleave([n, 4 * n], trials, measure)
    lo, hi = best[n], best[4 * n]
    report = {**extra, "N": n, "trials": trials, "lo": lo, "hi": hi,
              "efficiency": round((lo["sec"] * n) / (hi["sec"] * 4 * n), 3),
              "all_lo": [r["sec"] for r in runs[n]],
              "all_hi": [r["sec"] for r in runs[4 * n]]}
    print(json.dumps(report))
    return report


def query_index(n_docs: int) -> str:
    """The query-side scaling tools' shared index of ``n_docs`` docs: one
    directory per doc count, so a tool run at another size builds its own
    index instead of replacing the one the other tools reuse."""
    return f"/tmp/query_scale_idx_{n_docs}"


def ensure_index(path: str, n_docs: int) -> dict:
    """The shared synthetic porter index at ``path`` (20k vocab, seed 42,
    32 segments, terms above n_docs/20 salted 8 ways), built in a fresh
    JVM unless its manifest already holds exactly ``n_docs`` docs.
    Returns the manifest stats."""
    from search_engine_spark.sources.segments import read_manifest

    stats = read_manifest(path).get("stats") or {}
    return stats if stats.get("n_docs") == n_docs else fresh(_build_index, path, n_docs)


def secs(trials: list[float]) -> str:
    """Trial seconds as a section lists them: ``1.00, 2.35``."""
    return ", ".join(f"{s:.2f}" for s in trials)


def local_spark(cores: int):
    """A quiet ``local[cores]`` session with 4x cores shuffle partitions:
    one reduce partition per core serializes on the slowest merge kernel,
    while ~4 waves of smaller tasks load-balance dynamically and absorb
    stragglers (measured 2-3x faster at the 4N level)."""
    from search_engine_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=4 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _build_index(path: str, n_docs: int) -> dict:
    from search_engine_spark.sources.corpus import synthetic_corpus
    from search_engine_spark.sources.segments import build_index

    shutil.rmtree(path, ignore_errors=True)
    with local_spark(8) as spark:
        corpus = synthetic_corpus(spark, n_docs=n_docs, vocab_size=20000, seed=42,
                                  partitions=128)
        return build_index(spark, corpus, path, analyzer="porter", n_batches=1,
                           num_segments=32, heavy_threshold=n_docs // 20, n_salts=8,
                           heavy_sample_mod=64)["stats"]


def stratified_queries(term_dfs, n_q: int) -> list[list[str]]:
    """Deterministic df-stratified workload: the ``(term, df)`` pairs sorted
    by (df, term) and cut into rare / mid / heavy thirds; query i has
    1 + i % 3 terms, term j drawn from third (i + j) % 3."""
    terms = sorted(term_dfs, key=lambda td: (td[1], td[0]))
    third = max(len(terms) // 3, 1)
    pools = [terms[:third], terms[third:2 * third], terms[2 * third:]]
    rng = random.Random(221)
    return [[rng.choice(pools[(i + j) % 3])[0] for j in range(1 + i % 3)]
            for i in range(n_q)]


def write_section(tag: str, block: str, path: str = BENCH_MD) -> None:
    """Put ``block`` between the ``<!-- tag -->`` / ``<!-- /tag -->``
    markers of BENCH.md, leaving every other byte as it was; append the
    marked block when the markers are absent."""
    a, b = f"<!-- {tag} -->", f"<!-- /{tag} -->"
    section = f"{a}\n{block}\n{b}"
    text = open(path).read() if os.path.exists(path) else ""
    i, j = text.find(a), text.find(b)
    if 0 <= i < j:
        text = text[:i] + section + text[j + len(b):]
    else:
        text = (text.rstrip() + "\n\n" if text.strip() else "") + section + "\n"
    with open(path, "w") as f:
        f.write(text)
