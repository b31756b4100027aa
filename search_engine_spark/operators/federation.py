"""Federated search over doc-partitioned index shards.

At 10^12 files one index is not one directory: the corpus is doc-partitioned
into S independent shard indexes, each built / compacted / refreshed on its
own cadence (possibly by its own cluster), and a query fans out to every
shard and merges top-k. BM25 stays RANK-IDENTICAL to a single global index
as long as the scorer uses GLOBAL statistics — per-term df summed across
shards, global n_docs and avgdl — because each document lives in exactly one
shard and its (tf, dl) are shard-local facts independent of the sharding.
The reference engine searches one index sequentially (``IndexImpl``'s query
path walks a single segment set, IIM:1131-1315); this module is the shape
that design takes at any multi-node scale.

Execution shapes (both rank-identical to the single-index DAAT path):

* ``mode="union"`` — ONE Spark job over the union of shard segment scans:
  the parquet ``term IN`` pushdown hits every shard, and the DAAT docId
  bucketizer re-keys blocks across shards (docIds are globally unique, so
  shard boundaries are invisible to the kernel). The co-located-cluster
  shape: no per-shard fan-out cost, one global top-k.
* ``mode="scatter"`` — per-shard DAAT top-k scored with the
  GLOBAL stats, then a merge that only ever sees S·k rows. The
  serving-fleet shape: each shard search is an independent job that could
  run on a different cluster; only (docId, score) pairs cross the wire.
  Correct because global top-k ⊆ union of per-shard top-k when every doc
  belongs to exactly one shard.

Statistics discipline: ``federated_search`` resolves the query terms' global
df with ONE tiny job (union of the shards' packed term-stats relations,
filtered to the query terms, summed) and passes the result as a driver-local
pandas frame, so per-shard scoring launches zero extra stats jobs.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.predicates import isin_expr
from ..sources.segments import build_index, load_segments, load_term_stats
from .rank import SCORE_SCHEMA, Scorer, query_tfs, score_query_daat

FED_MANIFEST = "federation.json"


def _shard_dir(root_dir: str, s: int) -> str:
    return os.path.join(root_dir, f"shard={s}")


def build_sharded_index(
    spark: SparkSession,
    corpus: DataFrame,
    root_dir: str,
    n_shards: int,
    analyzer: str = "porter",
    **build_kw,
) -> dict:
    """Hash-partition ``corpus`` by docId into ``n_shards`` independent
    indexes under ``root_dir/shard=<s>`` and commit a federation manifest
    with the summed global stats.

    Resumable at two levels: each shard build is the resumable batched
    build (committed batches are never rebuilt), and re-running this
    function re-finalizes every shard idempotently. The shard assignment
    (``xxhash64(docId) % n_shards``) is deterministic, so a resumed run
    routes every doc to the same shard it started in.
    """
    shards: dict[str, dict] = {}
    for s in range(n_shards):
        sub = corpus.where(F.pmod(F.xxhash64("docId"), F.lit(n_shards)) == s)
        m = build_index(spark, sub, _shard_dir(root_dir, s),
                        analyzer=analyzer, **build_kw)
        shards[str(s)] = m["stats"]
    n_docs = sum(st["n_docs"] for st in shards.values())
    total_tokens = sum(st["total_tokens"] for st in shards.values())
    fed = {
        "n_shards": n_shards,
        "analyzer": analyzer,
        "shards": shards,
        "stats": {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        },
        "finalized_at": time.time(),
    }
    tmp = os.path.join(root_dir, FED_MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(fed, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(root_dir, FED_MANIFEST))
    return fed


def load_federation(root_dir: str) -> dict:
    with open(os.path.join(root_dir, FED_MANIFEST)) as f:
        return json.load(f)


def federated_segments(spark: SparkSession, root_dir: str) -> DataFrame:
    """Union of every shard's packed segment scan (schema-identical by
    construction). Filters/pushdown applied by callers reach each shard's
    parquet scan — the union is a plan-level concat, not a materialization."""
    fed = load_federation(root_dir)
    parts = [load_segments(spark, _shard_dir(root_dir, s))
             for s in range(fed["n_shards"])]
    return reduce(DataFrame.unionByName, parts)


def global_term_stats(spark: SparkSession, root_dir: str) -> DataFrame:
    """Per-term (df, cf, max_tf) summed across shards. df adds because a
    doc lives in exactly one shard; max_tf maxes (an upper bound stays an
    upper bound). Same schema as a single index's term_stats relation."""
    fed = load_federation(root_dir)
    parts = [load_term_stats(spark, _shard_dir(root_dir, s))
             for s in range(fed["n_shards"])]
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").cast("long").alias("cf"),
            F.max("max_tf").alias("max_tf"),
        )
    )


def _query_term_stats_pdf(
    spark: SparkSession, root_dir: str, keywords: list[str], analyzer: str
) -> pd.DataFrame:
    """Global df for just the query terms, as a driver-local frame — one
    tiny job over the union'd packed term relation (rows ≤ S · |terms|
    pre-agg, ≤ |terms| after)."""
    qterms = list(query_tfs(keywords, analyzer))
    if not qterms:
        return pd.DataFrame({"term": [], "df": []})
    return (
        global_term_stats(spark, root_dir)
        .where(isin_expr("term", qterms))
        .select("term", "df")
        .toPandas()
    )


def federated_search(
    spark: SparkSession,
    root_dir: str,
    keywords: list[str],
    k: int | None = 10,
    scorer: Scorer = Scorer(),
    analyzer: str | None = None,
    ties: str = "desc",
    mode: str = "union",
) -> DataFrame:
    """BM25/tf-idf top-k across every shard, rank-identical to a single
    global index (same docIds, bit-identical scores: the kernel sees the
    same (tf, dl) and the same global (df, n_docs, avgdl) either way)."""
    fed = load_federation(root_dir)
    analyzer = analyzer or fed.get("analyzer", "porter")
    n_docs, avgdl = fed["stats"]["n_docs"], fed["stats"]["avgdl"]
    ts = _query_term_stats_pdf(spark, root_dir, keywords, analyzer)
    if mode == "union":
        return score_query_daat(
            spark, federated_segments(spark, root_dir), ts, keywords,
            n_docs, avgdl, scorer, k=k, analyzer=analyzer, ties=ties,
        )
    if mode != "scatter":
        raise ValueError(f"mode must be 'union' or 'scatter', got {mode!r}")
    parts = [
        score_query_daat(
            spark, load_segments(spark, _shard_dir(root_dir, s)), ts, keywords,
            n_docs, avgdl, scorer, k=k, analyzer=analyzer, ties=ties,
        )
        for s in range(fed["n_shards"])
    ]
    if not parts:
        return spark.createDataFrame([], SCORE_SCHEMA)
    merged = reduce(DataFrame.unionByName, parts)
    order = [F.desc("score"), F.desc("docId") if ties == "desc" else F.asc("docId")]
    out = merged.orderBy(*order)
    return out.limit(k) if k is not None else out
