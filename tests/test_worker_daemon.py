"""The Python worker daemon (roar_spark/_worker_daemon.py).

Every Python task starts with ``importlib.invalidate_caches()``; before
Python 3.13 that re-reads each zip archive's directory once per importer
over it. The daemon's replacement re-reads an archive only when the file
changed. These tests pin the mechanism without Spark, inside a real
worker, and from a working directory that does not hold the package.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from roar_spark import _worker_daemon
from roar_spark.session import WORKER_DAEMON_MODULE

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(_worker_daemon.__file__)))

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zip caches lazily; nothing is patched"
)


def _write_archive(path, modules: dict[str, str]) -> None:
    """Write a fresh archive file (new inode) holding ``modules``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)
    os.replace(tmp, path)


class _DirectoryReads:
    """Counts zipimport._read_directory calls, per archive path."""

    def __init__(self, monkeypatch) -> None:
        self.paths: list[str] = []
        original = zipimport._read_directory

        def counting(path):
            self.paths.append(path)
            return original(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)

    def of(self, archive: str) -> int:
        n = self.paths.count(archive)
        self.paths.clear()
        return n


@needs_eager_zipimport
def test_archive_is_read_once_then_only_when_it_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    modules = {
        "zpkg/__init__.py": "",
        "zpkg/top.py": "VALUE = 'top'\n",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/leaf.py": "VALUE = 'leaf'\n",
    }
    _write_archive(archive, modules)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    try:
        importlib.import_module("zpkg.top")
        importlib.import_module("zpkg.sub.leaf")
        importers = [
            f for k, f in sys.path_importer_cache.items()
            if k.startswith(archive) and isinstance(f, zipimport.zipimporter)
        ]
        assert len(importers) >= 3  # archive root, zpkg/, zpkg/sub/

        reads = _DirectoryReads(monkeypatch)
        importlib.invalidate_caches()
        assert reads.of(archive) == len(importers)  # stock: one read per importer

        assert _worker_daemon.install()
        importlib.invalidate_caches()
        assert reads.of(archive) == 1  # the first importer; the rest share it
        importlib.invalidate_caches()
        assert reads.of(archive) == 0

        # a rewritten archive is re-read, and its new module imports
        _write_archive(archive, {**modules, "zpkg/sub/fresh.py": "VALUE = 'fresh'\n"})
        importlib.invalidate_caches()
        assert reads.of(archive) == 1
        assert importlib.import_module("zpkg.sub.fresh").VALUE == "fresh"
        importlib.invalidate_caches()
        assert reads.of(archive) == 0
    finally:
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            sys.path_importer_cache.pop(key, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _worker_daemon._stamps.pop(archive, None)


@needs_eager_zipimport
def test_worker_tasks_do_not_reread_archives(spark):
    # defined here so cloudpickle ships it by value (workers cannot import
    # this test module)
    def _task_invalidation(batches):
        """mapInArrow body: the worker's zipimporter.invalidate_caches and the
        archive directory reads one ``importlib.invalidate_caches()`` costs
        there (the call pyspark.worker_util.setup_spark_files makes at the
        start of every task)."""
        import importlib
        import zipimport

        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"fn": [f"{fn.__module__}.{fn.__qualname__}"], "reads": [len(reads)]}
        )

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON_MODULE
    probe = spark.range(4, numPartitions=4).mapInArrow(_task_invalidation, "fn string, reads long")
    probe.collect()  # first task on each worker
    rows = probe.collect()
    assert {r.fn for r in rows} == {f"{WORKER_DAEMON_MODULE}.invalidate_caches"}
    assert [r.reads for r in rows] == [0, 0, 0, 0]


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import pyarrow as pa
import pyarrow.compute as pc
from roar_spark.session import get_spark

def double(batches):
    for b in batches:
        yield pa.RecordBatch.from_pydict({{"id": pc.multiply(b.column(0), 2)}})

spark = get_spark(app_name="worker_daemon_cwd", master="local[2]")
rows = spark.range(6, numPartitions=2).mapInArrow(double, "id long").collect()
print(sorted(r.id for r in rows))
spark.stop()
"""


def test_python_tasks_run_from_a_directory_without_the_package(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    result = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT.format(root=PACKAGE_ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert result.returncode == 0, result.stderr[-3000:]
    assert result.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6, 8, 10]"
