"""Python-task start cost: zip-archive import-cache invalidation.

Every Python task starts with ``importlib.invalidate_caches()``. Before
CPython 3.13 that re-reads the directory of every zip on ``sys.path`` once
per importer of it (16-30 for pyspark.zip), on every task. Importing
``search_engine_spark`` makes an unchanged archive skip the re-read. These
tests pin that as a count of directory reads, not a wall time.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import search_engine_spark

eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; nothing is installed",
)


@pytest.fixture()
def count_reads(monkeypatch):
    """zipimport._read_directory wrapped with a call counter."""
    calls = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@eager_zipimport
def test_unchanged_archive_is_not_reread(tmp_path, count_reads):
    archive = str(tmp_path / "mods.zip")
    a, b = "_lazy_zip_mod_a", "_lazy_zip_mod_b"
    _write_zip(archive, [a])
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(a).NAME == a
        importlib.invalidate_caches()
        count_reads.clear()
        importlib.invalidate_caches()
        assert count_reads == []

        # a rewritten archive (new size, new mtime) is re-read
        _write_zip(archive, [a, b])
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert archive in count_reads
        assert importlib.import_module(b).NAME == b

        wrapper = zipimport.zipimporter.invalidate_caches
        search_engine_spark._install_lazy_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is wrapper
        assert not hasattr(wrapper.__wrapped__, "_archive_signatures")
    finally:
        sys.path.remove(archive)
        for name in (a, b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_reused_worker_task_start_reads_no_zip_directory(spark):
    """A task on a Python worker that already ran a package UDF re-reads no
    zip directory on ``invalidate_caches`` (the call every task starts with).

    Single-task jobs run until one lands on a worker (same pid) that ran an
    earlier job of this test; idle workers are reused in turn."""
    from search_engine_spark.operators import rank as R

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        R._term_dfs  # unpickling this imports the package on the worker
        calls = []
        original = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        importers = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "reads": [len(calls)], "importers": [importers]}
        )

    df = spark.range(1, numPartitions=1)
    seen = set()
    for _ in range(12):
        (row,) = df.mapInPandas(
            probe, "pid long, reads long, importers long"
        ).collect()
        if row.importers == 0:
            pytest.skip("workers do not import pyspark from a zip archive")
        if row.pid in seen:
            break
        seen.add(row.pid)
    else:
        pytest.fail(f"no worker ran two of 12 single-task jobs: {sorted(seen)}")
    assert row.reads == 0
