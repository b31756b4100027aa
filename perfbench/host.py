"""Host record, process-tree memory sampling and process clean-up."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of the benchmark's Spark session: half the cores. The
    other half runs the JVM's own threads, the Python driver and the Python
    workers; with a task on every core they queue behind the tasks, and
    each figure moves with whatever else the host runs."""
    return max(1, nproc() // 2)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def host_record() -> dict:
    """Cores, load and the versions a result depends on."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "spark_cores": spark_cores(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "machine": platform.machine(),
    }


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, rss_bytes)} for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        # fields after the command name, which may itself hold spaces
        rest = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE)
    return out


def descendants(root: int | None = None, table: dict | None = None) -> dict[int, int]:
    """{pid: rss_bytes} of ``root`` (default: this process) and every
    process below it: the driver, the JVM and its Python workers."""
    root = os.getpid() if root is None else root
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the summed RSS of this process tree on a thread and keeps
    its peak, and the peak of each part: this driver process, the JVM it
    launched, and everything below the JVM (the Python workers). Per
    window it keeps the peak of the whole tree and of its Python side (the
    driver plus the workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.window_peak = (0, 0)  # (whole tree, Python side)
        self.parts = {"driver": 0, "jvm": 0, "workers": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        tree = descendants(me, table)
        jvm = [p for p in tree if table[p][0] == me and _comm(p) == "java"]
        below = {q for j in jvm for q in descendants(j, table) if q != j}
        parts = {
            "driver": tree.get(me, 0),
            "jvm": sum(tree[j] for j in jvm),
            "workers": sum(tree[q] for q in below if q in tree),
        }
        total = sum(tree.values())
        python = parts["driver"] + parts["workers"]
        with self._lock:
            self.peak = max(self.peak, total)
            self.window_peak = tuple(map(max, self.window_peak, (total, python)))
        for k, v in parts.items():
            self.parts[k] = max(self.parts[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def window(self) -> tuple[int, int]:
        """Peaks (whole tree, Python side) since the previous call (or the
        start), sampling once more now so that a window shorter than the
        interval is still seen."""
        self._sample()
        with self._lock:
            peak, self.window_peak = self.window_peak, (0, 0)
        return peak

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def reap_children(timeout: float = 20.0) -> None:
    """Wait for every descendant process to end; signal stragglers."""
    me = os.getpid()
    for sig, wait in ((None, timeout), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        left = [p for p in descendants() if p != me]
        for pid in left if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while left and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)  # collect our exited children
            except ChildProcessError:
                pass
            time.sleep(0.1)
            left = [p for p in descendants() if p != me]
        if not left:
            return
