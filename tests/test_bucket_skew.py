"""Adversarial docId distributions vs the DAAT bucketizer (VERDICT r4
item 8): whole-block duplication must stay bounded under the worst-case
interleave, results must stay identical, and the monster-repo concentration
case must still score exactly."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import rank as R
from search_engine_spark.sources import segments as S


def _corpus_with_ids(spark, texts, ids):
    rows = [
        ("org/repo", f"doc_{i}", f"c{i}", "txt", t, int(d))
        for i, (t, d) in enumerate(zip(texts, ids))
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, docId long",
    )
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def _texts(n, seed):
    rng = np.random.default_rng(seed)
    vocab = [f"tok{i}" for i in range(40)]
    return [
        "heavy " + " ".join(rng.choice(vocab, size=12))
        for _ in range(n)
    ]


def _score_rows(df):
    return sorted((r.docId, round(r.score, 9)) for r in df.collect())


@pytest.mark.parametrize("dist", ["stride", "monster"])
def test_adversarial_id_distributions(spark, tmp_path_factory, dist):
    n, n_buckets = 2048, 8
    span_hi = 1 << 20
    if dist == "stride":
        # worst case for whole-block slicing: consecutive docIds alternate
        # across the whole span, so EVERY 128-posting block of the heavy
        # term spans EVERY bucket
        width = span_hi // n
        ids = [(i % n_buckets) * (span_hi // n_buckets)
               + (i // n_buckets) * max(width // 2, 1) for i in range(n)]
    else:
        # monster repo: 95% of docs crammed into one bucket's range,
        # the rest spread wide
        ids = [i for i in range(int(n * 0.95))] + [
            (1 << 19) + i * 997 for i in range(n - int(n * 0.95))
        ]
    ids = sorted(set(ids))[:n]
    texts = _texts(len(ids), seed=11)
    corpus = _corpus_with_ids(spark, texts, ids)
    idx = str(tmp_path_factory.mktemp(f"skew_{dist}") / "idx")
    m = S.build_index(spark, corpus, idx, analyzer="naive", n_batches=2,
                      num_segments=4, heavy_threshold=None, n_salts=2)
    segs = S.load_segments(spark, idx)
    ts = S.load_term_stats(spark, idx)
    nd, avg = m["stats"]["n_docs"], m["stats"]["avgdl"]
    span = (m["stats"]["docid_lo"], m["stats"]["docid_hi"])

    # 1) duplication bound: bucketized payload bytes <= ~2x source payload
    # (_MAX_AVG_BLOCK_DUP for the block path; the exact path re-encodes
    # with per-slice delta restarts, which can only shrink or mildly grow)
    cand = segs.where(F.col("term") == "heavy")
    src_bytes = cand.agg(F.sum(
        F.octet_length("docids") + F.octet_length("tfs")
        + F.octet_length("dls"))).first()[0]
    bucketed = R._bucketize_segments(spark, cand, n_buckets, span)
    got_bytes = bucketed.agg(F.sum(
        F.octet_length("docids") + F.octet_length("tfs")
        + F.octet_length("dls"))).first()[0]
    dup = got_bytes / src_bytes
    assert dup <= R._MAX_AVG_BLOCK_DUP + 0.5, (
        f"{dist}: bucketize duplication {dup:.2f}x exceeds the cap")

    # 2) per-task byte bound: no bucket receives more than the cap x the
    # largest source row's share (monster bucket gets the monster's rows
    # once, not once per bucket)
    per_bucket = (bucketed.groupBy("bucket")
                  .agg(F.sum(F.octet_length("docids")).alias("b"))
                  .collect())
    assert max(r.b for r in per_bucket) <= src_bytes * (
        R._MAX_AVG_BLOCK_DUP + 0.5)

    # 3) exactness for a mixed query, both distributions
    q = ["heavy", "tok3", "tok17"]
    exhaustive = R.score_query(
        spark, S.decode_postings(segs), ts, q, nd, avg, R.Scorer(), k=10,
        analyzer="naive", ties="asc")
    daat = R.score_query_daat(
        spark, segs, ts, q, nd, avg, R.Scorer(), k=10, analyzer="naive",
        ties="asc", n_buckets=n_buckets, docid_span=span)
    assert _score_rows(daat) == _score_rows(exhaustive)
