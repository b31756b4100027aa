"""PageRank + combined ranked search (reference Q9-Q11).

Parity target ``IcsSearchEngine.java:74-199``:
- init PR = 1.0 for every node (ICS:88);
- update ``PR_i = (1-d) + d * Σ_{j->i} PR_j / outdeg_j`` with d = 0.85
  (ICS:114-130) — NO dangling-node redistribution (dangling mass is simply
  lost, as in the reference);
- after the last iteration, normalize ``(PR - min) / max`` where min/max are
  taken over the final pre-normalization values (ICS:143-145 — note: /max,
  not /(max-min), mirrored exactly);
- combined search: ``score = tfidf + w * PR[docId]``, ties ascending docId
  (ICS:184-199, CompareResults IIM:1103-1114).

Spark shape: iterative DataFrame loop — one equi-join + one groupBy shuffle
per iteration; lineage cut via localCheckpoint every few iterations (long
iterative plans otherwise blow up the optimizer and executor stacks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85


def compute_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    num_iterations: int = 100,
    damping: float = DAMPING,
    checkpoint_every: int = 10,
) -> DataFrame:
    """nodes: (docId); edges: (src, dst). Returns (docId, pagerank).

    At cluster scale: `edges` is re-used every iteration — it is cached as
    (src, dst, outdeg), so each iteration joins the rank vector to it once
    (sort-merge or broadcast per AQE). The rank vector (one row per node) is
    the only state carried.
    """
    nodes = nodes.select("docId").distinct()
    edges = edges.select("src", "dst")
    # pr / outdeg below stays a division (not pr * a precomputed 1/outdeg)
    # so ranks are bit-identical to the reference update.
    edges = edges.join(
        edges.groupBy("src").agg(F.count("*").alias("outdeg")), "src"
    ).cache()
    ranks = nodes.withColumn("pr", F.lit(1.0))
    for i in range(num_iterations):
        contribs = (
            ranks.join(edges, ranks["docId"] == edges["src"])
            .select(F.col("dst").alias("docId"), (F.col("pr") / F.col("outdeg")).alias("c"))
            .groupBy("docId")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "docId", "left")
            .select(
                "docId",
                (F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < num_iterations:
            ranks = ranks.localCheckpoint(eager=True)
    mm = ranks.agg(F.min("pr").alias("lo"), F.max("pr").alias("hi")).collect()[0]
    lo, hi = float(mm["lo"]), float(mm["hi"])
    return ranks.select(
        "docId", ((F.col("pr") - F.lit(lo)) / F.lit(hi)).alias("pagerank")
    )


def pagerank_scores(pr: DataFrame) -> DataFrame:
    """Q10 (ICS:152-162): all (docId, score) sorted desc by score."""
    return pr.orderBy(F.desc("pagerank"))


def combined_search(
    tfidf_scores: DataFrame, pr: DataFrame, k: int, weight: float,
    round_scores: int | None = None,
) -> DataFrame:
    """Q11 (ICS:184-199): score = tfidf + w*PR; top-k, ties asc docId.

    ``round_scores``: round the combined score to N decimals BEFORE the
    top-k sort. Near-ties at the k boundary otherwise resolve on float-ulp
    noise (summation order), which is non-deterministic across engines —
    the cross-engine oracle orders on the same rounded value."""
    joined = tfidf_scores.join(pr, "docId", "left").select(
        "docId",
        (
            F.col("score") + F.lit(weight) * F.coalesce(F.col("pagerank"), F.lit(0.0))
        ).alias("score"),
    )
    if round_scores is not None:
        joined = joined.select("docId", F.round("score", round_scores).alias("score"))
    return joined.orderBy(F.desc("score"), F.asc("docId")).limit(k)
