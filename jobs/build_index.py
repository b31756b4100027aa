"""spark-submit entry point: resumable inverted-index build (north rule).

Usage::

    spark-submit --py-files search_engine_spark.zip jobs/build_index.py \
        --input  <parquet/iceberg path of (repo,path,commit,lang,content)> \
        --output <index dir> \
        [--format parquet|iceberg] [--analyzer porter_code] [--batches 4] \
        [--segments 512] [--heavy-threshold 100000] [--salts 16] \
        [--heavy-sample-mod 16] [--no-positions] [--field lang --field path]

Re-running after a crash resumes from the manifest: committed batches are
skipped byte-identically (segments.py). On a cluster, --segments should be
sized so one segment's postings fit an executor core's memory
(~ total_postings / segments); --salts bounds the largest salted sub-list.

Emits one JSON line of build metrics (docs/sec, postings/sec, per-batch
seconds) on completion.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--format", choices=("parquet", "iceberg", "table"), default="parquet",
        help="input source format (explicit — no path-shape guessing); "
        "'table' treats --input as a catalog table name (spark.read.table — "
        "the Iceberg-catalog read path)",
    )
    ap.add_argument("--analyzer", default="porter_code")
    ap.add_argument("--batches", type=int, default=1)
    ap.add_argument("--segments", type=int, default=None)
    ap.add_argument("--heavy-threshold", type=int, default=None)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument(
        "--heavy-sample-mod", type=int, default=16,
        help="skew stats from a 1/N docId-hash slice (1 = full extra pass)",
    )
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument("--membership", action="store_true",
                    help="store empty tf/dl blobs (tf reads as 1) — the "
                         "trigram/substring index mode; pair with "
                         "--no-positions")
    ap.add_argument(
        "--field", action="append", default=[],
        help="index an extra column as fielded terms, col[=analyzer] "
        "(repeatable; default analyzer naive). Queryable as col:token "
        "via jobs/query.py --field",
    )
    ap.add_argument(
        "--clustered-ids", action="store_true",
        help="assign docIds clustered by repo (contiguous per-repo ranges) "
        "so repo-correlated postings share blocks; only applies when the "
        "input has no docId column",
    )
    ap.add_argument("--master", default=None, help="local testing only")
    a = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from search_engine_spark.sources.corpus import load_corpus_table, with_doc_ids
    from search_engine_spark.sources.segments import build_index

    owns_session = SparkSession.getActiveSession() is None
    if a.master:
        from search_engine_spark.session import get_spark

        spark = get_spark(app="build-index", master=a.master)
    else:  # cluster: resources come from spark-submit
        spark = SparkSession.builder.appName("build-index").getOrCreate()

    if a.format == "table":
        corpus = load_corpus_table(spark, a.input, clustered_ids=a.clustered_ids)
    elif a.format == "iceberg":
        corpus = spark.read.format("iceberg").load(a.input)
    else:
        corpus = spark.read.parquet(a.input)
    if "docId" not in corpus.columns:
        corpus = with_doc_ids(corpus, clustered=a.clustered_ids)
    t0 = time.time()
    m = build_index(
        spark, corpus, a.output,
        analyzer=a.analyzer, n_batches=a.batches, num_segments=a.segments,
        heavy_threshold=a.heavy_threshold, n_salts=a.salts,
        with_positions=not a.no_positions, heavy_sample_mod=a.heavy_sample_mod,
        membership=a.membership,
        fields={
            spec.partition("=")[0]: (spec.partition("=")[2] or "naive")
            for spec in a.field
        } or None,
    )
    dt = time.time() - t0
    s = m["stats"]
    print(json.dumps({
        "wall_sec": round(dt, 2),
        "n_docs": s["n_docs"],
        "npostings": s["npostings"],
        "docs_per_sec": round(s["n_docs"] / dt, 1),
        "postings_per_sec": round(s["npostings"] / dt, 1),
        "batch_sec": {k: b.get("build_sec") for k, b in m["batches"].items()},
    }))
    if owns_session:  # don't kill a caller's session (tests drive main() in-process)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
