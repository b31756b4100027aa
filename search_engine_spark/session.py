"""SparkSession factory tuned for the index-build / query workloads.

Local mode here stands in for a multi-executor cluster; every knob is chosen
to also be the right default at cluster scale (AQE on, Arrow on, shuffle
partitions ~ cores, JVM<->Python channels over Unix domain sockets).
"""

from __future__ import annotations

import atexit
import os
import tempfile

from pyspark.sql import SparkSession


def _user_tag() -> str:
    try:
        import getpass

        return getpass.getuser()
    except Exception:  # no resolvable user (containers with stripped passwd)
        return f"uid{os.getuid()}" if hasattr(os, "getuid") else "anon"


# sun_path is 108 bytes with its NUL; Spark names every socket it makes in
# the socket dir ``.<uuid4>.sock`` (42 bytes, plus the separator)
_AF_UNIX_PATH_MAX = 107
_SOCKET_NAME_LEN = len("/.") + 36 + len(".sock")


def _socket_dir() -> str:
    """The temp dir when ``<dir>/.<uuid4>.sock`` fits AF_UNIX's path limit,
    else ``/tmp``: a long ``TMPDIR`` or ``java.io.tmpdir`` (Spark's default
    socket dir) must not fail session start-up with ``AF_UNIX path too
    long``."""
    d = tempfile.gettempdir()
    return d if len(os.fsencode(d)) + _SOCKET_NAME_LEN <= _AF_UNIX_PATH_MAX else "/tmp"


def get_spark(
    app: str = "search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(os.cpu_count() or 8) if n == "*" else int(n)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Every JVM<->Python channel (UDF data, accumulators, local-data
        # create/collect) over Unix domain sockets, not loopback TCP: on TCP
        # a Python task waits ~42 ms from kernel entry to its first input
        # batch (the shape of Nagle's algorithm against delayed ACKs), on a
        # Unix socket ~1.5 ms; a no-op one-task job takes ~85 ms instead of
        # ~125 ms (p50, local[2], 4-vCPU host).
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
        # Scan granularity: the default 128 MB coalesces a mid-size segment
        # index (32 files x ~15 MB) into ~4 input partitions, so the
        # CPU-heavy scan+filter+shuffle-write stage of a serving workload
        # runs HALF-IDLE on 8 cores (measured: scan+split phase scaled at
        # 0.43 N->4N with 128 MB; the kernel stage behind it at 0.86).
        # 16 MB keeps one task per segment file here; at 100 TB a scan is
        # thousands of tasks either way and smaller splits only add
        # scheduling overhead Spark amortizes fine (task launch ~ms).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # catalog-table writes (register_corpus_table / saveAsTable) land in
        # a temp warehouse, never the working tree; a cluster deployment
        # overrides this (and the catalog impl) via `extra` / spark-submit.
        # Scoped per user: a fixed shared path under /tmp lets two users
        # (or concurrent CI sessions) on one host clobber each other's
        # saveAsTable output.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    tempfile.gettempdir(), f"se_warehouse_{_user_tag()}"
                ),
            ),
        )
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # A process that ends without stop() leaves its accumulator server's
    # socket file in the socket dir; stopping the context at exit removes it
    # (a no-op on a stopped context). Registered once per context.
    atexit.unregister(spark.sparkContext.stop)
    atexit.register(spark.sparkContext.stop)
    return spark
