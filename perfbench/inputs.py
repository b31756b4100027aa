"""Seeded inputs and expected answers.

The corpus comes from the library's own synthetic generator
(``sources.corpus``: Zipf tail over a 20,000-term vocabulary plus per-repo
heavy terms). Base rows are 0..N-1 and ingest deltas are rows N..N+M-1 of
the same generator and seed: the ``file_<i>`` path component carries the
row index, so base and delta docIds never collide. Inputs are written to
parquet before the session starts; the program only reads them.

Queries are 1-3 terms drawn from the rare, mid and heavy df terciles of
the base corpus (as in ``tools/query_scaling_cached.py``), with dfs taken
from the oracle, not from the program under test.

Expected answers come from ``plans/oracle.OracleIndex`` over the same
docs, analyzer and keyword lists the program gets. :func:`expectations`
computes all of them for one run; ``perfbench/expect.py`` runs it in a
process of its own, so the oracle's memory is never the program's.
"""

from __future__ import annotations

import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.plans.oracle import OracleIndex
from search_engine_spark.sources.corpus import _gen_rows

VOCAB_SIZE = 20000
BASE_DOCS = 2000
DELTA_DOCS = 250
N_DELTAS = 3  # ingest commits every delta, each followed by its reads
K = 10
MAX_QUERIES = 400  # interactive queries prepared per run (the stream stops at its deadline)
READS_PER_BATCH = 1024
READ_BATCHES_PER_COMMIT = 1
CHECKS_PER_BATCH = 32
SCORE_TOL = 1e-9  # rank identity, as in tools/rank_identity.py


def corpus_rows(seed: int, start: int, end: int):
    """Rows ``start..end-1`` of the seeded corpus (pure function of row)."""
    return _gen_rows(start, end, VOCAB_SIZE, seed)


def write_inputs(seed: int, root: str) -> dict:
    """Write the base corpus and the ingest deltas as parquet under
    ``root``; returns their paths."""
    paths = {"base": os.path.join(root, "base"), "deltas": []}
    spans = [(0, BASE_DOCS)] + [
        (BASE_DOCS + i * DELTA_DOCS, BASE_DOCS + (i + 1) * DELTA_DOCS)
        for i in range(N_DELTAS)
    ]
    for i, (lo, hi) in enumerate(spans):
        d = paths["base"] if i == 0 else os.path.join(root, f"delta{i - 1}")
        os.makedirs(d)
        table = pa.Table.from_pandas(corpus_rows(seed, lo, hi), preserve_index=False)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        if i:
            paths["deltas"].append(d)
    return paths


def df_pools(oracle: OracleIndex) -> list[list[str]]:
    """Index terms split into rare, mid and heavy df terciles."""
    terms = sorted(oracle.tf, key=lambda t: (oracle.df(t), t))
    third = max(len(terms) // 3, 1)
    return [terms[:third], terms[third : 2 * third], terms[2 * third :]]


def make_queries(pools: list[list[str]], n: int, seed: int, stream: int) -> list[list[str]]:
    """``n`` df-stratified queries of 1-3 terms; query i has 1 + i % 3
    terms, each from the next tercile in turn. ``stream`` separates query
    sets drawn under one seed."""
    rng = random.Random(seed * 1_000_003 + stream)
    return [
        [rng.choice(pools[(i + j) % 3]) for j in range(1 + i % 3)] for i in range(n)
    ]


def oracle_stats(oracle: OracleIndex) -> dict:
    """The manifest counts a correct index over the same docs must have."""
    return {
        "n_docs": oracle.n_docs,
        "total_tokens": sum(oracle.dl.values()),
        "npostings": sum(len(p) for p in oracle.tf.values()),
    }


def stats_match(manifest: dict, expected: dict) -> bool:
    got = manifest.get("stats") or {}
    return all(got.get(k) == v for k, v in expected.items())


def same_ranking(got: list[tuple[int, float]], exp: list[tuple[int, float]]) -> bool:
    """Same docIds in the same order, scores within SCORE_TOL."""
    return [d for d, _ in got] == [d for d, _ in exp] and all(
        abs(a - b) <= SCORE_TOL for (_, a), (_, b) in zip(got, exp)
    )


def top_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Batch result rows (qid, docId, score) as per-query rankings, best
    first, ties broken by the larger docId (the engines' ``ties="desc"``)."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(int(r.qid), []).append((int(r.docId), float(r.score)))
    for v in out.values():
        v.sort(key=lambda ds: (-ds[1], -ds[0]))
    return out


def read_docs(paths: list[str], ids: dict[int, int]) -> dict[int, str]:
    """{docId: content} of the parquet inputs under ``paths``; ``ids``
    maps each row index (from the ``file_<i>`` path) to its docId as the
    engine assigns it."""
    out = {}
    for p in paths:
        t = pq.read_table(p, columns=["path", "content"])
        for path, content in zip(t.column("path").to_pylist(), t.column("content").to_pylist()):
            out[ids[int(re.search(r"file_(\d+)\.", path).group(1))]] = content
    return out


def _content_bytes(docs: dict[int, str]) -> int:
    return sum(len(c.encode()) for c in docs.values())


def expectations(seed: int, workload: str, paths: dict, ids: dict[int, int]) -> dict:
    """Everything a run checks the program against, and the queries it
    sends: manifest counts after the base build (and after each ingest
    commit), the rankings of every interactive query, and the rankings of
    a seeded sample of each ingest read batch over base plus every delta
    committed so far."""
    docs = read_docs([paths["base"]], ids)
    oracle = OracleIndex(docs, "porter")
    pools = df_pools(oracle)
    out = {"stats": [oracle_stats(oracle)], "content_bytes": [_content_bytes(docs)]}
    if workload == "interactive":
        qs = make_queries(pools, MAX_QUERIES, seed, stream=1)
        out.update(queries=qs, expected=[oracle.topk(q, K, "bm25") for q in qs])
        return out
    out["batches"] = []
    for i, path in enumerate(paths["deltas"]):
        docs.update(read_docs([path], ids))
        oracle = OracleIndex(docs, "porter")
        out["stats"].append(oracle_stats(oracle))
        out["content_bytes"].append(_content_bytes(docs))
        reads = []
        for j in range(READ_BATCHES_PER_COMMIT):
            qs = make_queries(pools, READS_PER_BATCH, seed, stream=100 * (i + 1) + j)
            sample = random.Random(seed * 7919 + 100 * i + j).sample(
                range(len(qs)), CHECKS_PER_BATCH
            )
            reads.append({"queries": qs, "sample": sample,
                          "expected": [oracle.topk(qs[q], K, "bm25") for q in sample]})
        out["batches"].append(reads)
    return out
