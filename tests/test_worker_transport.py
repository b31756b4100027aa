"""JVM<->Python transport: Unix domain sockets, in a dir that fits AF_UNIX.

``session.get_spark`` turns on ``spark.python.unix.domain.socket.enabled``
(Python tasks wait ~1.5 ms instead of ~40 ms over loopback TCP for their
first input batch) and points ``spark.python.unix.domain.socket.dir`` at a
dir short enough for ``<dir>/.<uuid4>.sock``, whatever ``TMPDIR`` and
``java.io.tmpdir`` are.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_use_unix_domain_sockets(spark):
    def transport(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(transport, "uds string").collect()
    assert row.uds == "true"


# A session in its own process: a Python UDF job and a local-data round
# trip, then exit without stop(). argv[1], when given, is java.io.tmpdir.
_SESSION = """
import os, sys
import pandas as pd
from search_engine_spark.session import get_spark

def transport(batches):
    for _ in batches:
        pass
    yield pd.DataFrame({"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()]})

extra = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[1]} if sys.argv[1:] else {}
spark = get_spark(app="uds", master="local[1]", shuffle_partitions=1, extra=extra)
if sys.argv[1:]:
    assert spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir") == sys.argv[1]
(row,) = spark.range(1, numPartitions=1).mapInPandas(transport, "uds string").collect()
print("UDS", row.uds, len(spark.createDataFrame([(1,), (2,)], "x int").collect()))
print("DIR", spark.conf.get("spark.python.unix.domain.socket.dir"))
"""


def _session(tmpdir, *argv) -> str:
    env = dict(os.environ, TMPDIR=str(tmpdir),
               PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    out = subprocess.run([sys.executable, "-c", _SESSION, *map(str, argv)], env=env,
                         cwd=str(tmpdir), capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "UDS true 2" in out.stdout
    return out.stdout.split("DIR ")[1].strip()


def test_long_tmpdir_session_runs_python_udfs(tmp_path):
    """``TMPDIR`` and ``java.io.tmpdir`` longer than 100 chars: Spark's
    default socket dir (``java.io.tmpdir``) would make start-up fail with
    ``AF_UNIX path too long``; the session starts and runs its Python UDF
    over Unix sockets in ``/tmp``, and makes no socket in either dir."""
    long_tmp = tmp_path / ("t" * 60) / ("u" * 60)
    jvm_tmp = tmp_path / ("j" * 60) / ("v" * 60)
    for d in (long_tmp, jvm_tmp):
        d.mkdir(parents=True)
        assert len(str(d)) > 100
    assert _session(long_tmp, jvm_tmp) == "/tmp"
    assert not [p for d in (long_tmp, jvm_tmp) for p in d.rglob(".*.sock")]


def test_unstopped_session_leaves_no_socket(tmp_path):
    """A short ``TMPDIR`` is the socket dir; a process that ends without
    ``stop()`` leaves no socket file there."""
    assert _session(tmp_path) == str(tmp_path)
    assert not list(tmp_path.glob(".*.sock"))
