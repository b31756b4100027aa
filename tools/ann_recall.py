"""ANN quality audit: recall@k of the approximate top-k paths (hyperplane
LSH multi-probe, IVF lowid, IVF k-means) against exact brute-force cosine,
over a deterministic query sample of the embeddings table.

An ANN path without a recall number is a latency claim with no quality
side; this records both. Writes a marked section into BENCH.md.

Usage: python tools/ann_recall.py [sf_dir] [k] [n_queries]
"""

from __future__ import annotations

import json
import sys

from harness import write_section


# expected fraction of the corpus each method scans (its recall ceiling on
# STRUCTURELESS data: for isotropic vectors the true top-k is spread
# uniformly, so recall ~= scanned fraction — that is a property of the
# data, not the method)
SCAN_FRAC = {
    "lsh_p8_probe1": 1 / 256,
    "lsh_p8_probe4": 4 / 256,
    "ivf_c8_probe2_lowid": 2 / 8,
    "ivf_c8_probe2_kmeans": 2 / 8,
    # PQ rows scan CODES, not vectors: the row fraction below is what they
    # visit; the bytes visited are a further ~m/(4*dim) (= 1/64 at m=4,
    # dim=64 float32) of a vector scan
    "pq_flat_m4": 1.0,
    "pq_rerank100_m4": 1.0,
    "ivfpq_c8_probe2_m4": 2 / 8,
    "ivfpq_res_c8_probe2_m4": 2 / 8,
    "ivfpq_res_c32_probe4_m4": 4 / 32,
}


def clustered_embeddings(spark, n: int, dim: int = 64, n_clusters: int = 20,
                         sigma: float = 0.25, seed: int = 13):
    """Planted-structure corpus: unit-norm cluster centers + gaussian noise,
    renormalized. True nearest neighbors are cluster-mates, so an ANN path
    that respects cosine geometry should concentrate recall far above its
    scanned fraction."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cid = np.arange(n) % n_clusters
    vecs = centers[cid] + rng.normal(scale=sigma / np.sqrt(dim), size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _measure(emb, n, k, n_q, methods):
    import time as _t

    from pyspark.sql import functions as F

    from search_engine_spark.operators.similarity import cosine_topk

    step = max(1, n // n_q)
    qrows = (
        emb.where(F.pmod(F.col("vec_id"), F.lit(step)) == 0)
        .orderBy("vec_id")
        .limit(n_q)
        .collect()
    )
    sums = {m: 0.0 for m in methods}
    secs = {m: 0.0 for m in methods}
    exact_sec = 0.0
    for r in qrows:
        qv = list(r.embedding)
        rest = emb.where(F.col("vec_id") != r.vec_id)
        t0 = _t.time()
        exact = {x.vec_id for x in cosine_topk(rest, qv, k).collect()}
        exact_sec += _t.time() - t0
        for m, fn in methods.items():
            t0 = _t.time()
            got = {x.vec_id for x in fn(rest, qv).collect()}
            secs[m] += _t.time() - t0
            sums[m] += len(got & exact) / float(k)
    nq = len(qrows)
    return {
        "n_queries": nq,
        "exact_sec_per_q": round(exact_sec / nq, 3),
        "recall": {m: round(sums[m] / nq, 4) for m in methods},
        "sec_per_q": {m: round(secs[m] / nq, 3) for m in methods},
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 24

    from search_engine_spark.operators.similarity import (
        ivf_topk,
        ivfpq_topk,
        ivfpq_topk_residual,
        ivfpq_train_residual,
        kmeans_centroids,
        lowid_centroids,
        lsh_topk,
        pq_rerank_topk,
        pq_topk,
        pq_train,
    )
    from search_engine_spark.session import get_spark

    spark = get_spark(app="ann_recall", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    def make_methods(emb):
        # codebooks are per-corpus artifacts: train ONCE, reuse per query
        cb_low = lowid_centroids(emb, 8)
        cb_km = kmeans_centroids(emb, 8, 3)
        books = pq_train(emb, m=4, k=16)
        books_res = ivfpq_train_residual(emb, cb_km, m=4, k=16)
        cb_km32 = kmeans_centroids(emb, 32, 3)
        books_res32 = ivfpq_train_residual(emb, cb_km32, m=4, k=16)
        return {
            "lsh_p8_probe1": lambda d, qv: lsh_topk(d, qv, k, n_planes=8, n_probes=1),
            "lsh_p8_probe4": lambda d, qv: lsh_topk(d, qv, k, n_planes=8, n_probes=4),
            "ivf_c8_probe2_lowid": lambda d, qv: ivf_topk(
                d, qv, k, nprobe=2, centroids=cb_low
            ),
            "ivf_c8_probe2_kmeans": lambda d, qv: ivf_topk(
                d, qv, k, nprobe=2, centroids=cb_km
            ),
            # PQ ranks by quantized L2; on unit-norm corpora (the clustered
            # one) L2 order == cosine order, so recall vs exact cosine is
            # the quantization loss alone
            "pq_flat_m4": lambda d, qv: pq_topk(d, qv, k, codebooks=books),
            # ADC shortlist + exact re-rank: flat ADC collapses inside tight
            # neighborhoods (identical codes => tied distances); the rerank
            # restores geometry while touching only `shortlist` full vectors
            "pq_rerank100_m4": lambda d, qv: pq_rerank_topk(
                d, qv, k, shortlist=100, codebooks=books
            ),
            "ivfpq_c8_probe2_m4": lambda d, qv: ivfpq_topk(
                d, qv, k, nprobe=2, centroids=cb_km, codebooks=books
            ),
            # residual codes carry the within-cell offsets raw codes
            # lose — but ONLY once the coarse quantizer resolves the data's
            # cluster structure (cells >~ clusters); at c8 over 20 planted
            # clusters each cell still holds 2-3 clusters and the residual
            # codebook spends its centroids separating THEM, so same-cluster
            # members still tie. c32/probe4 scans LESS (4/32 vs 2/8) and
            # should recover the within-cluster ordering.
            "ivfpq_res_c8_probe2_m4": lambda d, qv: ivfpq_topk_residual(
                d, qv, k, nprobe=2, centroids=cb_km, codebooks=books_res
            ),
            "ivfpq_res_c32_probe4_m4": lambda d, qv: ivfpq_topk_residual(
                d, qv, k, nprobe=4, centroids=cb_km32, codebooks=books_res32
            ),
        }

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n = emb.count()
    iso = _measure(emb, n, k, n_q, make_methods(emb))

    cl = clustered_embeddings(spark, n).cache()
    cl.count()
    clu = _measure(cl, n, k, n_q, make_methods(cl))

    report = {
        "sf_dir": sf_dir, "n_vectors": n, "k": k,
        "isotropic": iso, "clustered": clu,
    }
    print(json.dumps(report))
    write_section("ann_recall:auto", render(report))
    spark.stop()
    return 0


def render(r: dict) -> str:
    iso, clu = r["isotropic"], r["clustered"]
    rows = "\n".join(
        f"| {m} | {SCAN_FRAC[m]:.3f} | {iso['recall'][m]:.3f} | "
        f"{clu['recall'][m]:.3f} | {clu['sec_per_q'][m]:.2f} |"
        for m in iso["recall"]
    )
    return f"""## ANN recall@{r['k']} vs exact cosine (quality audit)

{iso['n_queries']} deterministic query vectors, {r['n_vectors']:,} vectors,
recall = overlap of the ANN top-{r['k']} with the exact brute-force
top-{r['k']} (query vector excluded); exact scan {iso['exact_sec_per_q']:.2f}
s/query. Two corpora:

- **isotropic** — the sf embeddings table ({r['sf_dir']}), which has no
  neighborhood structure: for random high-dim vectors the true top-k is
  spread uniformly, so ANY partition-based ANN's recall ~= the fraction of
  the corpus it scans (the `scan frac` column). Matching it is the correct
  outcome here, not a defect.
- **clustered** — planted-structure corpus (20 unit-norm centers + gaussian
  noise, renormalized): true neighbors are cluster-mates, and recall far
  above the scanned fraction shows the bucketing respects cosine geometry.

| method | scan frac | recall (isotropic) | recall (clustered) | s/query |
|---|---|---|---|---|
{rows}

Per-query wall time at this corpus size is Spark job-launch overhead; the
candidate-set reduction (scan frac) is the figure that scales.

Reproduce: `python tools/ann_recall.py {r['sf_dir']} {r['k']} {iso['n_queries']}`"""


if __name__ == "__main__":
    sys.exit(main())
