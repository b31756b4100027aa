"""Steady-state serving scaling: the SAME batched BM25 workload at two
parallelism levels over a PREPARED bucketized serving cache
(operators/serving.py) — the deployment shape where index shards are
resident (prepared once per index generation) and each workload is
parallelize(bucket ids) -> mmap shard -> kernel -> sharded merge.

Complements tools/query_scaling.py (cold path: per-workload scan + split +
shuffle included). The cache prepare is index-bound, one-time, and untimed
here for the same reason the index build itself is.

Usage: python tools/query_scaling_cached.py [n_docs] [N] [trials] [n_queries]
Defaults: 480000 2 4 16384. Reuses /tmp/query_scale_idx_<n_docs>;
writes a marked BENCH.md section.
"""

from __future__ import annotations

from harness import (
    cli, ensure_index, fresh, local_spark, n_vs_4n, query_index, secs, write_section)
from query_scaling import table, timed_workload

from search_engine_spark.operators.serving import (
    load_serving_cache, prepare_serving_cache, score_queries_cached)
from search_engine_spark.sources.segments import load_term_stats_pdf

CACHE = "/tmp/query_scale_cache"


def prepare(idx: str, cache: str) -> dict:
    with local_spark(8) as spark:
        # N_BUCKETS fixed across levels (same reasoning as
        # tools/query_scaling.py): both levels do identical total work; 4N
        # wins only by scheduling shards across more cores.
        return prepare_serving_cache(spark, idx, cache, n_buckets=32)


def score(idx: str, cache_dir: str, cores: int, n_q: int) -> dict:
    """The timed workload at local[cores] (run in a fresh JVM)."""
    with local_spark(cores) as spark:
        cache, stats = load_serving_cache(cache_dir), load_term_stats_pdf(idx)
        return timed_workload(lambda qs: score_queries_cached(
            spark, cache, stats, qs, k=10).collect(), stats, n_q, cores)


def render(r: dict) -> str:
    return f"""## Steady-state serving scaling (prepared bucketized cache, N -> 4N cores)

Same {r['n_queries']} df-stratified queries as the cold series, scored via
`score_queries_cached` over a serving cache prepared ONCE per index
generation ({r['n_docs']:,}-doc porter index; fresh JVM per measurement,
{r['trials']} interleaved trials per level, best shown; all trials:
N=[{secs(r['all_lo'])}]s, 4N=[{secs(r['all_hi'])}]s). This is the steady-state deployment
shape: resident index shards, per-workload cost = kernel + top-k merge
only — the phases the controlled experiments showed scale (see the
kernel-only series).

{table(r, "query_scaling_cached")}"""


def main() -> None:
    n_docs, n, trials, n_q = cli(480000, 2, 4, 16384)
    idx = query_index(n_docs)
    ensure_index(idx, n_docs)
    fresh(prepare, idx, CACHE)
    r = n_vs_4n(n, trials, lambda c: fresh(score, idx, CACHE, c, n_q),
                n_docs=n_docs, n_queries=n_q)
    write_section("query_scaling_cached:auto", render(r))


if __name__ == "__main__":
    main()
