"""Layered benchmark for search_engine_spark.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run makes its inputs from ``--seed``,
sets the program up, runs one workload for ``--seconds`` seconds as a
closed loop with one client (each call waits for its reply) on
``local[nproc/2]`` (``host.spark_cores``) in this one driver process,
checks every answer it checks against ``plans/oracle.OracleIndex``, and
prints human-readable lines followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. It exits non-zero when
any answer is wrong.

Set-up (``setup_s``): bulk ``segments.build_index`` of the base corpus
(porter analyzer, positions, heavy-term salting, one batch and
``finalize_index``; commits onto an existing index run in ``ingest``), for
``ingest`` also ``serving.prepare_serving_cache``, then opening the index
and one warm-up call of the workload's query path, each once per run: the
first query call of a fresh process pays start-up costs a repeat would
not.

Workloads:

- ``interactive``: ``rank.score_query_daat(..., k=10, docid_span=...)``
  then ``.collect()``, one df-stratified query at a time (the
  ``jobs/query.py --mode bm25`` path), until ``--seconds`` have passed,
  after three untimed warm-up queries of one, two and three terms. Every
  query is checked.
- ``ingest``: writes beside reads, a fixed amount of work per seed. For
  each of three micro-batches of new docs: ``build_one_batch`` ->
  ``finalize_index`` -> ``refresh_serving_cache`` -> term stats reload (the
  freshness interval), then one batch of 1,024 queries through
  ``serving.score_queries_cached``. Manifest counts are checked after every
  commit, and a seeded sample of each read batch against the oracle over
  base plus every delta committed so far.

Expected answers are computed before the timed part by
``perfbench/expect.py`` in a process of its own that has ended before the
timed part starts, so the oracle's memory is not counted as the program's.

End-to-end metrics carry the same names on both workloads:
``latency_p50_s`` is the median seconds per query (interactive) or the
median freshness (ingest); ``qps`` is the one client's queries per second
(interactive) or the median over read batches (ingest);
``python_peak_rss_mb`` is the median over the timed calls of each call's
peak summed RSS of the driver and the Python workers; ``jvm_live_heap_mb``
is the JVM heap still in use after full collections at the end of the
timed part; ``index_bytes_per_input_byte`` is segment plus term-stats
parquet bytes over the indexed content bytes. The JVM runs at the
program's own heap settings; its RSS follows the collector's heap sizing,
which varies between runs at the same live heap, so the whole tree's RSS
(``session.peak_rss_mb``) is printed on every run but carries no bound.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also records
spans around each call into the library (with a Spark job group per span),
the Spark event log and status-tracker counts, plus no-Spark floors of the
analyzer and decoder and an empty-job floor, and reports the per-layer
metrics. All files go under ``perfbench/_work``; a run removes its own
working files when it ends and keeps only its result and span records in
``perfbench/_work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RESULTS = os.path.join(WORK, "results")
RUN_LIMIT_S = 150  # a run, set-up included, is stopped after this (clean-up follows)

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_s": "s",
    "qps": "1/s",
    "python_peak_rss_mb": "MB",
    "jvm_live_heap_mb": "MB",
    "index_bytes_per_input_byte": "ratio",
}
# Each workload's query path: the spans around the entry point returning
# its DataFrame (plan) and around its ``.collect()`` (exec). Per-layer
# ``query.*`` metrics describe that path: ``rank`` on interactive,
# ``serving`` on ingest.
QUERY_PATH = {
    "interactive": ("rank", "rank.score_query_daat", "rank.collect"),
    "ingest": ("serving", "serving.score_queries_cached", "serving.collect"),
}
# spans whose jobs, stages and tasks are counted over the set-up, the
# warm-up and the first MIN_QUERIES timed interactive queries (every ingest
# commit and read), so that counts repeat exactly at a seed
COUNTED_SPANS = (
    "segments.build_index",
    "segments.build_one_batch",
    "segments.finalize_index",
    "serving.prepare_serving_cache",
    "serving.refresh_serving_cache",
    "query.plan",
    "query.exec",
)
PER_LAYER = {
    "session.peak_rss_mb": "MB",
    "session.empty_job_s": "s",
    "session.gc_s": "s",
    "session.jvm_peak_heap_mb": "MB",
    "session.python_peak_rss_mb": "MB",
    "functions.analyze_tokens_per_s": "1/s",
    "functions.decode_mb_per_s": "MB/s",
    "build.sample_task_s": "s",
    "build.map_task_s": "s",
    "build.reduce_task_s": "s",
    "build.shuffle_bytes": "bytes",
    "build.spill_bytes": "bytes",
    "build.reduce_skew": "ratio",
    "segments.build_batch_s": "s",
    "segments.finalize_s": "s",
    "segments.index_bytes": "bytes",
    "segments.self_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.produce_task_s": "s",
    "query.consume_task_s": "s",
    "query.produce_skew": "ratio",
    "query.shuffle_bytes": "bytes",
    "query.scan_rows": "count",
    "query.scan_bytes": "bytes",
    "query.rows_per_result": "ratio",
    "query.self_s": "s",
    **{f"{s}.{c}": "count" for s in COUNTED_SPANS for c in ("jobs", "stages", "tasks")},
}
# the design's names for the query.* metrics on each workload
QUERY_NAMES = {
    "interactive": {"produce_task_s": "rank.split_task_s", "consume_task_s": "rank.kernel_task_s",
                    "produce_skew": "rank.split_skew"},
    "ingest": {"produce_task_s": "serving.kernel_task_s", "consume_task_s": "serving.merge_task_s",
               "produce_skew": "serving.kernel_skew"},
}

WORKLOADS = ("interactive", "ingest")
MIN_QUERIES = 5  # interactive queries a run makes even past its deadline
WARM_QUERIES = 3  # untimed, checked queries of 1, 2 and 3 terms before the timed part
WARM_QUERY = ["rotten", "apple"]


def _bootstrap() -> None:
    """Import the package from this checkout, never from elsewhere."""
    sys.dont_write_bytecode = True
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.path.insert(0, ROOT)
    try:
        import search_engine_spark
    except ImportError as ex:
        raise SystemExit(f"perfbench: cannot import search_engine_spark from {ROOT}: {ex}")
    if not os.path.abspath(search_engine_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(
            f"perfbench: search_engine_spark resolves to {search_engine_spark.__file__}, "
            f"not to this checkout ({ROOT})"
        )


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str, suffix: str = "") -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    )


def _clear_stale_runs() -> None:
    """Remove working dirs left by runs that no longer exist."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if not name.startswith("run-"):
            continue
        try:
            os.kill(int(name[4:]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, someone else's


def start_spark(work: str, traced: bool):
    """One local session on ``host.spark_cores()`` task slots; all scratch
    space under ``work``; Python workers import the package from this
    checkout."""
    import tempfile

    from perfbench import host
    from search_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join([ROOT] + path),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
            "spark.executor.metrics.pollingInterval": "250ms",
        })
    n = host.spark_cores()
    spark = get_spark(app="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Engine:
    """The program under test, driven through its public entry points,
    with a span around each call."""

    def __init__(self, spark, tracer, work: str):
        from perfbench import host

        self.spark = spark
        self.tr = tracer
        self.n = host.spark_cores()
        self.idx = os.path.join(work, "index")
        self.cache_dir = os.path.join(work, "cache")

    def read_corpus(self, *paths: str):
        from search_engine_spark.sources.corpus import with_doc_ids

        return with_doc_ids(self.spark.read.parquet(*paths))

    def build(self, path: str, n_docs: int) -> dict:
        from search_engine_spark.sources import segments as S

        with self.tr.span("segments.build_index"):
            return S.build_index(
                self.spark, self.read_corpus(path), self.idx, analyzer="porter",
                n_batches=1, num_segments=self.n, heavy_threshold=n_docs // 20,
                n_salts=8, with_positions=True,
            )

    def prepare(self) -> None:
        from search_engine_spark.operators import serving as V

        with self.tr.span("serving.prepare_serving_cache"):
            V.prepare_serving_cache(self.spark, self.idx, self.cache_dir, n_buckets=self.n)

    def open(self, workload: str) -> None:
        """What a query process of this workload loads before its first
        query: the segment and term-stats frames for interactive queries,
        the driver-local term stats and cache meta for cached serving."""
        from search_engine_spark.operators import serving as V
        from search_engine_spark.sources import segments as S

        with self.tr.span("segments.open"):
            stats = S.read_manifest(self.idx)["stats"]
            self.n_docs, self.avgdl = stats["n_docs"], stats["avgdl"]
            if workload == "interactive":
                self.segs = S.load_segments(self.spark, self.idx)
                self.term_stats = S.load_term_stats(self.spark, self.idx)
                self.span = S.docid_span(self.idx)
            else:
                self.term_stats_pdf = S.load_term_stats_pdf(self.idx)
                self.cache = V.load_serving_cache(self.cache_dir)

    def query(self, keywords: list[str]):
        """One interactive BM25 query; returns (ranking, plan_s, exec_s)."""
        from perfbench.inputs import K
        from search_engine_spark.operators import rank as R

        t0 = time.perf_counter()
        with self.tr.span("rank.score_query_daat"):
            df = R.score_query_daat(
                self.spark, self.segs, self.term_stats, keywords, self.n_docs,
                self.avgdl, k=K, docid_span=self.span,
            )
        t1 = time.perf_counter()
        with self.tr.span("rank.collect") as rec:
            rows = df.collect()
        t2 = time.perf_counter()
        if rec is not None:
            rec["rows"] = len(rows)
        return [(int(r.docId), float(r.score)) for r in rows], t1 - t0, t2 - t1

    def query_batch(self, queries: dict[int, list[str]]):
        """One batch through the serving cache; returns (rows, plan_s, exec_s)."""
        from perfbench.inputs import K
        from search_engine_spark.operators import serving as V

        t0 = time.perf_counter()
        with self.tr.span("serving.score_queries_cached"):
            df = V.score_queries_cached(
                self.spark, self.cache, self.term_stats_pdf, queries, k=K
            )
        t1 = time.perf_counter()
        with self.tr.span("serving.collect") as rec:
            rows = df.collect()
        t2 = time.perf_counter()
        if rec is not None:
            rec["rows"] = len(rows)
        return rows, t1 - t0, t2 - t1

    def commit(self, path: str, key: str) -> dict:
        """Commit one micro-batch and make it servable; returns the manifest.
        Micro-batches skip heavy-term salting, as ``tools/refresh_bench.py``
        commits its delta."""
        from search_engine_spark.operators import serving as V
        from search_engine_spark.sources import segments as S

        # spans come from the wrappers Tracer.patch puts on these two
        S.build_one_batch(
            self.spark, self.read_corpus(path), self.idx, key, analyzer="porter",
            num_segments=self.n, n_salts=8,
        )
        m = S.finalize_index(self.spark, self.idx)
        with self.tr.span("serving.refresh_serving_cache"):
            self.cache = V.refresh_serving_cache(self.spark, self.idx, self.cache_dir)
        with self.tr.span("segments.load_term_stats_pdf"):
            self.term_stats_pdf = S.load_term_stats_pdf(self.idx)
        return m

    def index_bytes(self) -> int:
        """Segment plus term-stats parquet bytes on disk."""
        return _dir_bytes(os.path.join(self.idx, "segments"), ".parquet") + _dir_bytes(
            os.path.join(self.idx, "term_stats"), ".parquet"
        )


class Checks:
    """Counts operations attempted and failed; a wrong answer is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def set_up(eng: Engine, paths: dict, n_docs: int, workload: str) -> tuple[dict, dict]:
    """The program's set-up for a workload, once; returns (manifest,
    timings). ``setup_s`` is the bulk build, for ingest the cache prepare,
    and opening the index with the first (cold) warm-up call of the
    workload's query path."""
    t0 = time.perf_counter()
    m = eng.build(paths["base"], n_docs)
    t1 = time.perf_counter()
    if workload == "ingest":
        eng.prepare()
    t2 = time.perf_counter()
    eng.tr.op = "ready"
    eng.open(workload)
    if workload == "interactive":
        eng.query(WARM_QUERY)
    else:
        eng.query_batch({0: WARM_QUERY})
    t3 = time.perf_counter()
    timings = {"build_s": t1 - t0, "prepare_s": t2 - t1, "ready_s": t3 - t2}
    timings["setup_s"] = t3 - t0
    return m, timings


def expected_answers(eng: Engine, paths: dict, workload: str, seed: int, work: str) -> dict:
    """Run ``perfbench/expect.py`` on this run's inputs and return what it
    computed. One Spark job first maps each input row to the docId the
    engine assigns it."""
    import subprocess

    from pyspark.sql import functions as F

    pdf = eng.read_corpus(paths["base"], *paths["deltas"]).select(
        "docId", F.regexp_extract("path", r"file_(\d+)\.", 1).cast("long").alias("row"),
    ).toPandas()
    spec = {"seed": seed, "workload": workload, "paths": paths,
            "ids": {int(r): int(d) for r, d in zip(pdf.row, pdf.docId)}}
    spec_path, out_path = os.path.join(work, "expect-in.json"), os.path.join(work, "expect.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    subprocess.run([sys.executable, os.path.join(HERE, "expect.py"), spec_path, out_path],
                   check=True, timeout=RUN_LIMIT_S)
    with open(out_path) as f:
        return json.load(f)


def run_interactive(eng, checks, sampler, exp, seconds) -> dict:
    from perfbench.inputs import same_ranking

    queries = list(zip(exp["queries"], exp["expected"]))
    for i, (q, want) in enumerate(queries[:WARM_QUERIES]):
        eng.tr.op = f"warm{i}"
        got, _, _ = eng.query(q)
        checks.record(same_ranking(got, want), f"warm-up query {i} {q}")
    lat, rss = [], []
    sampler.window()  # the timed part starts here
    deadline = time.perf_counter() + seconds
    for i, (q, want) in enumerate(queries[WARM_QUERIES:]):
        if i >= MIN_QUERIES and time.perf_counter() >= deadline:
            break
        eng.tr.op = f"op{i}"
        got, p, e = eng.query(q)
        lat.append(p + e)
        rss.append(sampler.window())
        checks.record(same_ranking(got, want), f"query {i} {q}")
    return {"latencies": lat, "rss_windows": rss, "latency_p50_s": _median(lat),
            "qps": len(lat) / sum(lat)}


def run_ingest(eng, checks, sampler, exp, paths) -> dict:
    from perfbench.inputs import READS_PER_BATCH, same_ranking, stats_match, top_by_query

    fresh, reads, rss = [], [], []
    sampler.window()  # the timed part starts here
    for i, path in enumerate(paths["deltas"]):
        eng.tr.op = f"op{i}"
        t0 = time.perf_counter()
        m = eng.commit(path, f"d{i}")
        fresh.append(time.perf_counter() - t0)
        rss.append(sampler.window())
        checks.record(stats_match(m, exp["stats"][i + 1]), f"commit {i} manifest stats")
        for j, batch in enumerate(exp["batches"][i]):
            rows, p, e = eng.query_batch(dict(enumerate(batch["queries"])))
            reads.append(p + e)
            rss.append(sampler.window())
            got = top_by_query(rows)
            bad = [q for q, want in zip(batch["sample"], batch["expected"])
                   if not same_ranking(got.get(q, []), want)]
            checks.record(not bad, f"read batch {i}.{j}: queries {bad} differ from the oracle")
    return {
        "freshness": fresh,
        "reads": reads,
        "rss_windows": rss,
        "latency_p50_s": _median(fresh),
        "qps": _median([READS_PER_BATCH / r for r in reads]),
    }


def jvm_live_heap_mb(spark) -> float:
    """JVM heap in use after full collections: what the program keeps
    live, whatever heap size the collector has grown to."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(2):
        mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def kernel_floors(eng: Engine, base_path: str, seed: int) -> dict:
    """No-Spark floors of the analyzer and the posting decoder."""
    import pyarrow.parquet as pq

    from search_engine_spark.functions import porter
    from search_engine_spark.functions.analyzers import get_analyzer
    from search_engine_spark.functions.codec import varbyte_decode
    from search_engine_spark.sources.segments import blockwise_delta_decode

    texts = pq.read_table(base_path, columns=["content"]).column("content").to_pylist()
    porter.porter_stem.cache_clear()  # same cold stem cache on every run
    fn = get_analyzer("porter")
    t = time.perf_counter()
    n_tokens = sum(len(fn(text)) for text in texts)
    analyze = n_tokens / (time.perf_counter() - t)

    table = pq.read_table(os.path.join(eng.idx, "segments"), columns=["docids", "tfs"])
    rows = random.Random(seed).sample(range(table.num_rows), min(2000, table.num_rows))
    docids = table.column("docids").to_pylist()
    tfs = table.column("tfs").to_pylist()
    blobs = [(docids[r], tfs[r]) for r in rows]
    t = time.perf_counter()
    for d, f in blobs:
        blockwise_delta_decode(d)
        varbyte_decode(f)
    dt = time.perf_counter() - t
    mb = sum(len(d) + len(f) for d, f in blobs) / 1e6
    return {"functions.analyze_tokens_per_s": analyze, "functions.decode_mb_per_s": mb / dt}


def empty_job_floor(spark, repeats: int = 5) -> float:
    """Median wall time of a one-task job that does nothing."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        spark.sparkContext.parallelize([0], 1).count()
        times.append(time.perf_counter() - t)
    return _median(times)


def layer_metrics(spans: list[dict], events: list[dict], workload: str) -> dict:
    """Per-layer metrics from spans and the event log of a traced run."""
    from perfbench import tracing as T

    by_group = T.stages_by_group(T.stage_table(events))

    def named(name):
        return [s for s in spans if s["name"] == name]

    def durations(name):
        return [s["end"] - s["start"] for s in named(name)]

    def stages(name):
        return [by_group.get(s["group"], []) for s in named(name)]

    def workload_calls(name):
        """The calls made by the timed operations, or by the set-up when
        the workload itself makes none (the bulk build on interactive)."""
        calls = named(name)
        return [s for s in calls if s["op"].startswith("op")] or calls

    out: dict[str, float] = {}
    # build phases from the bulk build, which every workload runs alike
    bulk = [by_group.get(s["group"], []) for s in named("segments.build_one_batch")
            if s["op"] == "setup"]
    roles = [T.build_roles(b) for b in bulk]
    for role in ("sample", "map", "reduce"):
        out[f"build.{role}_task_s"] = _median([T.task_seconds(r[role]) for r in roles])
    out["build.shuffle_bytes"] = _median([sum(s["shuffle_write"] for s in r["map"]) for r in roles])
    out["build.spill_bytes"] = _median([sum(s["spill"] for s in b) for b in bulk])
    out["build.reduce_skew"] = _median([T.skew(r["reduce"]) for r in roles])
    for key, name in (("segments.build_batch_s", "segments.build_one_batch"),
                      ("segments.finalize_s", "segments.finalize_index")):
        out[key] = _median([s["end"] - s["start"] for s in workload_calls(name)])

    layer, plan, run = QUERY_PATH[workload]
    out["query.plan_s"] = _median(durations(plan))
    out["query.exec_s"] = _median(durations(run))
    qr = [T.query_roles(g) for g in stages(run)]
    out["query.produce_task_s"] = _median([T.task_seconds(r["produce"]) for r in qr])
    out["query.consume_task_s"] = _median([T.task_seconds(r["consume"]) for r in qr])
    out["query.produce_skew"] = _median([T.skew(r["produce"]) for r in qr])
    out["query.shuffle_bytes"] = _median([sum(s["shuffle_write"] for s in r["produce"]) for r in qr])
    scans = [sum(s["input_records"] for s in p + e) for p, e in zip(stages(plan), stages(run))]
    out["query.scan_rows"] = _median(scans)
    out["query.scan_bytes"] = _median(
        [sum(s["input_bytes"] for s in p + e) for p, e in zip(stages(plan), stages(run))]
    )
    out["query.rows_per_result"] = _median(
        [n / max(s.get("rows", 0), 1) for n, s in zip(scans, named(run))]
    )

    peaks = T.executor_peaks(events)
    gc_ms = peaks["TotalGCTime"] or sum(
        st["gc_s"] * 1000 for sts in by_group.values() for st in sts
    )
    out["session.gc_s"] = gc_ms / 1000
    out["session.jvm_peak_heap_mb"] = peaks["JVMHeapMemory"] / 2**20
    out["session.python_peak_rss_mb"] = peaks["ProcessTreePythonRSSMemory"] / 2**20

    self_s = T.self_times(spans)
    out["segments.self_s"] = self_s.get("segments", 0.0)
    out["query.self_s"] = self_s.get(layer, 0.0)

    def counted(s):
        return (workload == "ingest" or not s["op"].startswith("op")
                or int(s["op"][2:]) < MIN_QUERIES)

    span_of = {"query.plan": plan, "query.exec": run}
    for name in COUNTED_SPANS:
        sel = [s for s in named(span_of.get(name, name)) if counted(s)]
        for c in ("jobs", "stages", "tasks"):
            out[f"{name}.{c}"] = sum(s[c] for s in sel)
    return out


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def _previous_untraced(workload: str, seed: int) -> dict | None:
    """The untraced result of this workload at this seed, if one was kept."""
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def report(args, record: dict, spans: list[dict]) -> None:
    """Human-readable lines: every end-to-end metric under the name the
    design uses for it, and in a traced run every per-layer metric."""
    from perfbench import stats as ST
    from perfbench.inputs import BASE_DOCS, READS_PER_BATCH
    from perfbench.tracing import self_times

    res, setup, m = record["result"], record["setup"], record["metrics"]
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("host before:", json.dumps(record["host_before"]))
    print("host after: ", json.dumps(record["host_after"]))
    print("run phases (s):", json.dumps({k: round(v, 2) for k, v in record["phases_s"].items()}))
    prepare = (f"prepare_serving_cache {setup['prepare_s']:.3f} s + "
               if args.workload == "ingest" else "")
    print(f"setup_s = {setup['setup_s']:.4f} s (build_index {setup['build_s']:.3f} s + "
          f"{prepare}open and first warm-up call {setup['ready_s']:.3f} s)")
    print(f"build_docs_per_s = {BASE_DOCS / setup['build_s']:.1f} docs/s "
          f"(set-up's bulk build of {BASE_DOCS} docs, one per run)")
    if args.workload == "interactive":
        lat = ST.summarize(res["latencies"])
        print(f"interactive_p50_s = {lat['p50']:.4f} s (n={lat['n']} queries)")
        high = [k for k in lat if k not in ("n", "p50")]
        for k in high:
            print(f"interactive_{k}_s = {lat[k]:.4f} s (n={lat['n']})")
        if "p90" not in lat:
            print(f"interactive_p90_s: not reported; {lat['n']} queries leave fewer than "
                  "10 beyond p90 (needs >= 100)")
        print(f"interactive_qps = {m['qps']:.4f} queries/s (one client)")
    else:
        fr = ST.summarize(res["freshness"])
        print(f"freshness_p50_s = {fr['p50']:.4f} s (n={fr['n']} commits of "
              f"build_one_batch + finalize_index + refresh_serving_cache + term stats)")
        print(f"ingest_serve_qps = {m['qps']:.2f} queries/s (median over "
              f"{len(res['reads'])} batches of {READS_PER_BATCH} queries)")
    print(f"index_bytes_per_input_byte = {m['index_bytes_per_input_byte']:.6f}")
    parts = ", ".join(f"{k} {v:.1f}" for k, v in record["peak_rss_parts_mb"].items())
    n = len(res["rss_windows"])
    print(f"python_peak_rss_mb = {m['python_peak_rss_mb']:.1f} MB (summed RSS of driver and "
          f"Python workers: median over the {n} timed calls of each call's peak)")
    print(f"jvm_live_heap_mb = {m['jvm_live_heap_mb']:.1f} MB (JVM heap in use after full "
          "collections at the end of the timed part)")
    print(f"peak_rss_mb = {record['layers']['session.peak_rss_mb']:.1f} MB (summed RSS of driver, "
          f"JVM and Python workers: median over the {n} timed calls of each call's peak; "
          "no bound, the JVM's part follows its collector's heap sizing)")
    print(f"run peak RSS = {record['run_peak_rss_mb']:.1f} MB over the whole run; "
          f"peak of each part: {parts} MB")
    print(f"cpu steal share during the run = {record['cpu_steal_share']:.4f}")
    share = record["failed"] / record["attempted"]
    print(f"failed_share = {share:g} ({record['failed']} of {record['attempted']} operations)")
    for note in record["notes"]:
        print("MISMATCH:", note)
    if not args.trace:
        return
    layer = record["layers"]
    path = QUERY_PATH[args.workload][0]
    for k, unit in PER_LAYER.items():
        alias = ""
        if k.startswith("query.") and not k.endswith((".jobs", ".stages", ".tasks")):
            alias = f"  [{QUERY_NAMES[args.workload].get(k[6:], path + '.' + k[6:])}]"
        print(f"{k} = {_fmt(layer[k])} {unit}{alias}")
    if args.workload == "ingest":
        refresh = [s["end"] - s["start"] for s in spans
                   if s["name"] == "serving.refresh_serving_cache"]
        print(f"serving.refresh_s = {_median(refresh):.4f} s (n={len(refresh)})")
        print(f"serving.refresh_bytes = {record['refresh_bytes']} bytes (delta shards)")
        print(f"serving.shards_per_bucket = {record['shards_per_bucket']:g} (after the last refresh)")
        print("rank.plan_s, rank.exec_s, rank.scan_*: absent; ingest reaches rank only "
              "through the bucket splitter inside prepare and refresh")
    else:
        print("serving.*: absent; the interactive path does not call the serving layer")
    for layer_name, sec in sorted(self_times(spans).items()):
        print(f"self time {layer_name} = {sec:.4f} s")
    if not layer["session.python_peak_rss_mb"]:
        print("session.python_peak_rss_mb: Spark reported no process-tree metrics")
    prev = _previous_untraced(args.workload, args.seed)
    if prev is None:
        print(f"tracing overhead: no untraced result of this workload at seed {args.seed} "
              "to compare with")
    else:
        for k in ("setup_s", "latency_p50_s", "qps"):
            base = prev["metrics"][k]
            print(f"tracing overhead {k}: {m[k]:.4f} traced vs {base:.4f} untraced "
                  f"(same seed), {100 * (m[k] - base) / base:+.1f}%")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _bootstrap()

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_LIMIT_S)
    _clear_stale_runs()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import host
    from perfbench import inputs as I
    from perfbench import tracing as T

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host_before": host.host_record()}
    checks = Checks()
    phases = {"start": time.perf_counter()}
    ticks = host.cpu_ticks()
    sampler = host.RssSampler().start()
    spark = tr = None
    layer: dict[str, float] = {}
    try:
        paths = I.write_inputs(args.seed, os.path.join(work, "inputs"))
        phases["inputs"] = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        phases["session"] = time.perf_counter()
        tr = T.Tracer(spark.sparkContext, bool(args.trace))
        from search_engine_spark.sources import segments as S

        tr.patch(S, "build_one_batch", "segments.build_one_batch")
        tr.patch(S, "finalize_index", "segments.finalize_index")
        eng = Engine(spark, tr, work)
        m, setup = set_up(eng, paths, I.BASE_DOCS, args.workload)
        base_index_bytes = eng.index_bytes()
        phases["setup"] = time.perf_counter()

        # the benchmark's own expectations, outside every timed region
        tr.op = "oracle"
        exp = expected_answers(eng, paths, args.workload, args.seed, work)
        checks.record(I.stats_match(m, exp["stats"][0]), "base build manifest stats")
        phases["oracle"] = time.perf_counter()
        if args.workload == "interactive":
            res = run_interactive(eng, checks, sampler, exp, args.seconds)
            res["index_bytes_per_input_byte"] = base_index_bytes / exp["content_bytes"][0]
        else:
            res = run_ingest(eng, checks, sampler, exp, paths)
            res["index_bytes_per_input_byte"] = eng.index_bytes() / exp["content_bytes"][-1]
        del exp
        res["jvm_live_heap_mb"] = jvm_live_heap_mb(spark)
        phases["workload"] = time.perf_counter()
        if args.trace:
            tr.op = "floors"
            layer.update(kernel_floors(eng, paths["base"], args.seed))
            with tr.span("session.empty_job"):
                layer["session.empty_job_s"] = empty_job_floor(spark)
            layer["segments.index_bytes"] = eng.index_bytes()
            if args.workload == "ingest":
                shards = eng.cache.get("shards") or {}
                record["shards_per_bucket"] = _median([len(v) for v in shards.values()])
                record["refresh_bytes"] = sum(  # delta shards the refreshes wrote
                    os.path.getsize(os.path.join(eng.cache_dir, f))
                    for f in os.listdir(eng.cache_dir)
                    if ".d" in f and f.endswith(".feather")
                )
            tr.attach_counts()
    finally:
        if tr is not None:
            tr.unpatch()
        if spark is not None:
            host.stop_spark(spark)
        host.reap_children()
        record["run_peak_rss_mb"] = sampler.stop() / 2**20
        record["peak_rss_parts_mb"] = {k: v / 2**20 for k, v in sampler.parts.items()}
        steal, total = (b - a for a, b in zip(ticks, host.cpu_ticks()))
        record["cpu_steal_share"] = steal / total if total else 0.0
        signal.alarm(0)
        phases["stop"] = time.perf_counter()

    metrics = {
        "setup_s": setup["setup_s"],
        "latency_p50_s": res["latency_p50_s"],
        "qps": res["qps"],
        "python_peak_rss_mb": _median([py for _, py in res["rss_windows"]]) / 2**20,
        "jvm_live_heap_mb": res["jvm_live_heap_mb"],
        "index_bytes_per_input_byte": res["index_bytes_per_input_byte"],
    }
    layer["session.peak_rss_mb"] = _median([tree for tree, _ in res["rss_windows"]]) / 2**20
    if args.trace:
        layer.update(layer_metrics(tr.spans, T.read_event_log(os.path.join(work, "eventlog")),
                                   args.workload))
        tr.dump(os.path.join(RESULTS, f"spans-{tag}.json"))
    marks = list(phases.items())
    record["phases_s"] = {k: b - a for (_, a), (k, b) in zip(marks, marks[1:])}
    record.update(setup=setup, result=res, metrics=metrics, layers=layer,
                  attempted=checks.attempted, failed=checks.failed, notes=checks.notes,
                  host_after=host.host_record())
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)

    report(args, record, tr.spans if args.trace else [])
    out = metrics if not args.trace else {k: layer[k] for k in PER_LAYER}
    units = END_TO_END if not args.trace else PER_LAYER
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out.items()},
    }))
    return 0 if checks.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
