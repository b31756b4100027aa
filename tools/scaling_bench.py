"""North-rule scaling evidence: the same index-build job at two parallelism
levels (local[N] and local[4N]) on the same input.

No real cluster exists in this sandbox, so cores stand in for executors
(BASELINE.json north_rule: throughput scaling efficiency >= 0.8 from N to 4N
executors). Each run is a fresh JVM (subprocess) so the two measurements share
nothing. Efficiency = (T_N * N) / (T_4N * 4N) — i.e. normalized throughput at
4N over N.

Usage: python tools/scaling_bench.py [n_docs] [N] [trials] [analyzer]
Defaults: 240000 4 3 porter. Writes a marked BENCH.md section.
"""

from __future__ import annotations

import shutil
import tempfile
import time

from harness import cli, fresh, local_spark, n_vs_4n, write_section
from pyspark.sql import functions as F

from search_engine_spark.operators.build import build_postings
from search_engine_spark.sources.corpus import synthetic_corpus
from search_engine_spark.sources.segments import build_index


def build(cores: int, n_docs: int, analyzer: str) -> dict:
    """The timed build at local[cores] (run in a fresh JVM)."""
    # trigram (substring) indexes carry no positions — membership-only terms
    with_pos = analyzer not in ("trigram", "trigram_fold")
    idx = tempfile.mkdtemp(prefix=f"scale_{cores}_")
    with local_spark(cores) as spark:
        # identical input at both levels: same seed, same partition count; 128
        # input partitions so python workers amortize over >=4 tasks even at 4N
        corpus = synthetic_corpus(spark, n_docs=n_docs, vocab_size=20000, seed=42,
                                  partitions=128).cache()
        corpus.count()  # materialize input + warm JVM before timing
        # warm python workers + analyzer imports on every core (steady-state
        # cluster throughput is the metric; worker cold-start amortizes over
        # job lifetime)
        build_postings(corpus.where(F.pmod(F.xxhash64("docId"), F.lit(32)) == 0),
                       analyzer).write.format("noop").mode("overwrite").save()
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        # trigram vocab is tiny (~30k terms) with df approaching n_docs — far
        # heavier tails than word terms, so the salting knobs scale up with it
        m = build_index(spark, corpus, idx, analyzer=analyzer, n_batches=1,
                        with_positions=with_pos,
                        membership=not with_pos,  # trigram: docid-only payload
                        num_segments=4 * cores,  # 4x cores: see local_spark
                        heavy_threshold=n_docs // 20 if with_pos else n_docs // 100,
                        n_salts=8 if with_pos else 16, heavy_sample_mod=64)
        dt = time.time() - t0
    shutil.rmtree(idx, ignore_errors=True)
    npost = m["stats"]["npostings"]
    return {"cores": cores, "sec": round(dt, 2), "docs_per_sec": round(n_docs / dt, 1),
            "postings": npost, "postings_per_sec": round(npost / dt, 1)}


def render(r: dict, analyzer: str) -> str:
    n, lo, hi = r["N"], r["lo"], r["hi"]
    title = ("# BENCH — scaling evidence (north rule)" if analyzer == "porter"
             else f"## Trigram (substring-index) build scaling — analyzer={analyzer}")
    return f"""{title}

Same index-build job ({analyzer} tokenize -> salted hash-repartition(term, salt) ->
delta+varbyte packed segments + term stats) on the SAME input
({r['n_docs']:,} synthetic docs, seed 42, 128 input partitions), at two
parallelism levels standing in for N and 4N executors (no real cluster in
this sandbox). Fresh JVM per run; each Spark task slot drives a JVM thread
plus its Python (Arrow) worker, so local[c] exercises ~2c hardware threads —
N={n} vs 4N={4 * n} keeps both levels inside the machine's physical cores.
Reduce partitions (num_segments) = 4x cores at BOTH levels — one reduce
partition per core serializes on the slowest merge kernel; ~4 waves of
smaller tasks balance dynamically (measured 2-3x faster at the 4N level).

Methodology: the sandbox host is shared (observed ~40% CPU-capacity swings
from neighbors over minutes), so N/4N trials are interleaved and the best of
{r['trials']} per level is reported (all trials listed below).

| level | cores | wall (s) | docs/sec | postings/sec |
|---|---|---|---|---|
| N  | {n} | {lo['sec']} | {lo['docs_per_sec']} | {lo['postings_per_sec']} |
| 4N | {4 * n} | {hi['sec']} | {hi['docs_per_sec']} | {hi['postings_per_sec']} |

**Scaling efficiency (N -> 4N)** = `(T_N * N) / (T_4N * 4N)` =
**{r['efficiency']:.3f}** (north-rule target >= 0.8).

All trials (s): N = {r['all_lo']}, 4N = {r['all_hi']}

Reproduce: `python tools/scaling_bench.py {r['n_docs']} {n} {r['trials']} {analyzer}`
"""


def main() -> None:
    n_docs, n, trials, analyzer = cli(240000, 4, 3, "porter")
    r = n_vs_4n(n, trials, lambda c: fresh(build, c, n_docs, analyzer), n_docs=n_docs)
    tag = "scaling:auto" if analyzer == "porter" else f"scaling:auto:{analyzer}"
    write_section(tag, render(r, analyzer))


if __name__ == "__main__":
    main()
