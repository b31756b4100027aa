"""Corpus sources (reference operators S1-S7).

Two entry points:

- :func:`synthetic_corpus` — deterministic generator of the north-rule input
  shape ``(repo, path, commit, lang, content)`` (BASELINE.json
  ``input_hint``; FIXTURES.md F1). Seeded, Zipf-distributed vocabulary so
  heavy terms exist (skew handling is exercised), plus embedded English
  sentences from the reference ranking fixtures so analyzer goldens appear
  in real rows. Content derives purely from ``(repo, path, commit)`` — byte
  identical across re-generation, any partitioning, and resume.

- :func:`load_documents` — adapter for the driver-provided
  ``documents.parquet`` testdata table ``(doc_id, text, lang, ...)`` onto the
  corpus shape.

DocIDs (reference: per-segment dense ints, ``InvertedIndexManager.java:75-77``)
are global and deterministic here: a collision-checked 64-bit hash of
``repo:path:commit`` (SURVEY.md §1.1), *not* an insertion counter — Spark has
no insertion order, and resumable builds must not depend on partitioning.

Reference scan citations: directory scan ``IcsSearchEngine.java:50-68``; doc
store scans ``MapdbDocStore.java:103-120`` — all replaced by parquet reads +
Catalyst column pruning.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CORPUS_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

_LANGS = ("java", "py", "c", "md", "txt")
_EXT = {"java": "java", "py": "py", "c": "c", "md": "md", "txt": "txt"}

# Reference ranking fixture sentences (Team8TfIdfTest.java:37-41,
# Team11PhraseSearchTest.java:25-33) — embedded so rank goldens appear in
# generated corpora too.
FIXTURE_SENTENCES = (
    "An apple a day keeps a doctor away",
    "One rotten apple spoils the whole barrel",
    "Fortune knocks once at everyone's rotten door",
)

# Zipf-ish vocabulary: a few extremely heavy code terms + a long tail.
# Heavy terms are LANGUAGE-BIASED (each repo is one language, like real
# corpora): term frequency correlates with repo, which is exactly the
# structure that gives clustered docId assignment (below) per-block max_tf
# variance. A shared slice keeps some terms corpus-wide.
_HEAVY_BY_LANG = {
    "java": "public static void class new final int string import".split(),
    "py": "def import return self class none lambda for in".split(),
    "c": "include printf int void struct char while break null".split(),
    "md": "code example usage build install run test readme doc".split(),
    "txt": "one all data file line text note list item".split(),
}
_HEAVY_SHARED = "return for while else new".split()
_HEAVY = sorted({w for ws in _HEAVY_BY_LANG.values() for w in ws} | set(_HEAVY_SHARED))

_CLUSTER_PREFIX_BITS = 18


def doc_id_expr(repo="repo", path="path", commit="commit", clustered: bool = False):
    """Deterministic 63-bit docId from (repo, path, commit). JVM-side, no
    Python; :func:`check_docid_collisions` verifies per-corpus and on a
    collision the salt can be bumped.

    ``clustered=False``: uniform xxhash64 over the full key — ids spread
    evenly, which is the WORST case for skipping blocks by their max-tf
    bound (strong candidates land in every 128-posting block).

    ``clustered=True``: the top ``_CLUSTER_PREFIX_BITS`` bits come from
    xxhash64(repo), the rest from the full key — docs of one repo share a
    contiguous docId range, so posting lists sorted by docId group same-repo
    docs into the same blocks. Queries whose candidates concentrate in few
    repos (the realistic case: vocabulary correlates with repo/language)
    then touch few block runs. The trade is suffix width: 45 bits within a
    repo — fine up to ~10^5-10^6 files/repo; at 10^12 total files with
    monster repos, switch to dense range assignment (sort by (repo, path),
    per-partition offsets from a count pass) — same contract, two-pass.
    """
    if not clustered:
        return F.xxhash64(F.col(repo), F.col(path), F.col(commit)).bitwiseAND(
            F.lit(0x7FFFFFFFFFFFFFFF)
        )
    suffix_bits = 63 - _CLUSTER_PREFIX_BITS
    prefix = F.xxhash64(F.col(repo)).bitwiseAND(F.lit((1 << _CLUSTER_PREFIX_BITS) - 1))
    suffix = F.xxhash64(F.col(repo), F.col(path), F.col(commit)).bitwiseAND(
        F.lit((1 << suffix_bits) - 1)
    )
    return F.shiftleft(prefix, suffix_bits).bitwiseOR(suffix)


def check_docid_collisions(corpus: DataFrame) -> int:
    """Returns number of colliding docIds (expect 0)."""
    return (
        corpus.groupBy("docId")
        .count()
        .where(F.col("count") > 1)
        .count()
    )


def with_doc_ids(corpus: DataFrame, clustered: bool = False) -> DataFrame:
    """Attach `docId` and `content_sha256` (per-row invariant vs the source,
    BASELINE.json input_hint). ``clustered`` groups same-repo docs into
    contiguous docId ranges — see :func:`doc_id_expr`."""
    return corpus.withColumn("docId", doc_id_expr(clustered=clustered)).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )


def dense_doc_ids(corpus: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Dense docIds 0..n-1 in (repo, path, commit) order — the 10^12-file
    variant promised in :func:`doc_id_expr`'s docstring: hashed clustered
    ids spend 45 suffix bits per repo, which monster repos (>~10^6 files)
    can exhaust; dense assignment has no per-repo width at all while
    keeping the clustered-ids property (same-repo docs occupy one
    contiguous docId range, since repo is the leading sort key).

    Two passes, both scale-safe:

    1. range-repartition + sort by (repo, path, commit), persist, then a
       NARROW per-partition count (``mapInPandas`` — no shuffle, and no
       ``groupBy(spark_partition_id())``, which would shuffle and destroy
       the very partition ids being counted). Driver sees one row per
       partition.
    2. the same persisted partitions get ``base_offset[pid] + local rank``
       via a second narrow ``mapInPandas``.

    The persist pins the range boundaries (the range partitioner SAMPLES, so
    recomputation could re-draw them between the two passes); at real 100 TB
    scale stage the sorted corpus to parquet instead — the build wants a
    durable snapshot anyway — and run pass 2 off the staged files.

    Monster repos are NOT a skew hazard here: the range partitioner splits
    a big repo across partitions freely because ranks are per-partition,
    not per-repo."""
    import numpy as np
    from pyspark import StorageLevel, TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    if num_partitions is None:
        num_partitions = int(
            corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    keys = ["repo", "path", "commit"]
    sorted_df = corpus.repartitionByRange(num_partitions, *keys).sortWithinPartitions(
        *keys
    )
    sorted_df.persist(StorageLevel.MEMORY_AND_DISK)

    def _counts(batches):
        n = 0
        for pdf in batches:
            n += len(pdf)
        yield pd.DataFrame({"pid": [TaskContext.get().partitionId()], "n": [n]})

    cnt_schema = StructType(
        [StructField("pid", LongType(), False), StructField("n", LongType(), False)]
    )
    counts = {
        int(r.pid): int(r.n)
        for r in sorted_df.mapInPandas(_counts, cnt_schema).collect()
    }
    bases = {}
    acc = 0
    for pid in range(num_partitions):
        bases[pid] = acc
        acc += counts.get(pid, 0)

    out_schema = StructType(
        list(corpus.schema.fields) + [StructField("docId", LongType(), False)]
    )

    def _assign(batches):
        base = bases[TaskContext.get().partitionId()]
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["docId"] = np.arange(base + seen, base + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    return sorted_df.mapInPandas(_assign, out_schema)


def _gen_rows(start: int, end: int, vocab_size: int, seed: int) -> pd.DataFrame:
    """Generate rows [start, end) — pure function of the row index."""
    import numpy as np

    rows = []
    tail = [f"tok{v}" for v in range(vocab_size)]
    for i in range(start, end):
        # 50 files per repo (docs i//50 == g share one repo), 20 repos per
        # org — the grouping clustered docIds exploit. Earlier revisions
        # wrote "org{i//50}/repo{i%50}", i.e. one FILE per repo, which made
        # repo-level clustering vacuous.
        g = i // 50
        repo = f"org{g // 20}/repo{g % 20}"
        # one language per REPO, like real corpora — term frequency
        # correlates with repo, the structure clustered docIds exploit
        lang = _LANGS[g % len(_LANGS)]
        path = f"src/m{i % 7}/file_{i}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{repo}:{path}".encode()).hexdigest()
        rng = np.random.default_rng(seed * 1_000_003 + i)
        n = int(rng.integers(30, 120))
        # Zipf over the tail vocab + guaranteed heavy terms (lang-biased +
        # a corpus-wide shared slice). Heavy-term density varies per REPO
        # (terse vs idiom-dense projects — real corpora show strong
        # project-level tf skew), which is what gives per-block max_tf its
        # variance once docIds cluster by repo.
        zipf_idx = rng.zipf(1.3, size=n) % vocab_size
        words = [tail[z] for z in zipf_idx]
        lo, hi = ((1, 4), (2, 7), (5, 13))[(i // 50) % 3]
        heavy_n = int(rng.integers(lo, hi))
        words += list(rng.choice(_HEAVY_BY_LANG[lang], size=heavy_n))
        words += list(rng.choice(_HEAVY_SHARED, size=max(1, heavy_n // 3)))
        # repo-LOCAL identifiers (each repo's own helper/class names — the
        # realistic shape of tail terms in code: they recur within one
        # project, not one-doc-per-project corpus-wide). Queries combining a
        # project identifier with API keywords are where clustered docIds
        # collapse the candidate range to one repo.
        words += [
            f"rid{i // 50}n{int(x)}"
            for x in rng.integers(0, 5, size=int(rng.integers(1, 4)))
        ]
        if i % 17 == 0:
            words.append(FIXTURE_SENTENCES[i % len(FIXTURE_SENTENCES)])
        perm = rng.permutation(len(words))
        content = " ".join(words[p] for p in perm)
        rows.append((repo, path, commit, lang, content))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def synthetic_corpus(
    spark: SparkSession,
    n_docs: int = 2000,
    vocab_size: int = 5000,
    seed: int = 42,
    partitions: int | None = None,
    clustered_ids: bool = False,
    dense_ids: bool = False,
) -> DataFrame:
    """Distributed deterministic corpus: each partition generates its own row
    range via ``mapInPandas`` — no driver-side materialization, scales to any
    n_docs. ``dense_ids`` routes docId assignment through
    :func:`dense_doc_ids` (exact 0..n-1 in (repo, path, commit) order — the
    10^12-file mode) instead of the hashed expression."""
    partitions = partitions or max(1, min(n_docs // 500 + 1, 64))
    bounds = spark.createDataFrame(
        [
            (p, p * n_docs // partitions, (p + 1) * n_docs // partitions)
            for p in range(partitions)
        ],
        StructType(
            [
                StructField("p", IntegerType(), False),
                StructField("start", LongType(), False),
                StructField("end", LongType(), False),
            ]
        ),
    ).repartition(partitions, "p")

    def gen(batches):
        for b in batches:
            for _, r in b.iterrows():
                yield _gen_rows(int(r.start), int(r.end), vocab_size, seed)

    corpus = bounds.mapInPandas(gen, CORPUS_SCHEMA)
    if dense_ids:
        return dense_doc_ids(corpus).withColumn(
            "content_sha256", F.sha2(F.col("content"), 256)
        )
    return with_doc_ids(corpus, clustered=clustered_ids)


NORTH_RULE_COLUMNS = ("repo", "path", "commit", "lang", "content")


def register_corpus_table(
    spark: SparkSession,
    corpus: DataFrame,
    table: str = "code_corpus",
    mode: str = "overwrite",
) -> None:
    """Register a corpus DataFrame as a CATALOG TABLE (``saveAsTable``) so
    downstream reads go through ``spark.read.table`` — the north-rule input
    shape ("Iceberg table of source-code repositories", BASELINE.json
    ``input_hint``). Only the five contract columns are persisted; docIds
    are re-derived on read so the table stays engine-agnostic."""
    corpus.select(*NORTH_RULE_COLUMNS).write.mode(mode).saveAsTable(table)


def load_corpus_table(
    spark: SparkSession, table: str, clustered_ids: bool = False
) -> DataFrame:
    """S1 over a catalog table: the Iceberg-shaped read path.

    ``spark.read.table`` resolves through the session's catalog — with an
    Iceberg catalog configured (``spark.sql.catalog.<name>`` =
    ``org.apache.iceberg.spark.SparkCatalog`` + the iceberg-spark-runtime
    jar, neither shipped in this sandbox) the SAME call reads a real Iceberg
    table with snapshot isolation, partition pruning, and hidden-partition
    pushdown; here the session catalog's parquet provider exercises the
    identical reader surface (catalog resolution -> Catalyst -> columnar
    scan with pushdown/pruning). Columns are validated against the
    north-rule contract and docId/content_sha256 attached exactly as the
    path-based reader does, so ``build_index`` runs off a table unchanged.
    """
    t = spark.read.table(table)
    missing = [c for c in NORTH_RULE_COLUMNS if c not in t.columns]
    if missing:
        raise ValueError(
            f"catalog table {table!r} lacks north-rule columns {missing}; "
            f"expected {NORTH_RULE_COLUMNS}"
        )
    t = t.select(*NORTH_RULE_COLUMNS)
    return with_doc_ids(t, clustered=clustered_ids)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: driver testdata ``documents.parquet`` -> corpus shape.

    ``doc_id`` is already a stable global id; keep it (rather than hashing)
    so results are directly comparable with the DuckDB oracle.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.concat(F.lit("testdata/"), F.col("source")).alias("repo"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("path"),
        F.sha2(F.concat_ws(":", "source", "doc_id"), 256).substr(1, 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.col("doc_id").cast("long").alias("docId"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )
