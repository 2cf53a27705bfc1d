"""A Python task of the round trip leaves no zipimporter behind.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task, and CPython 3.11's ``zipimporter.invalidate_caches`` re-reads its
whole archive directory each time. ``functions.worker.drops_zip_finders``
drops those finders when a UDF's iterator ends, so the next task has no
archive to re-read (see that module's docstring).
"""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pytest

from tensorflow_recorder_spark.functions.worker import drops_zip_finders

PKG = pathlib.Path(__file__).resolve().parent.parent / "tensorflow_recorder_spark"


def _zip_finders():
    return [
        path
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]


@pytest.fixture()
def zipped_package(tmp_path):
    """A zip on ``sys.path`` holding package ``zpkg`` with submodules
    ``m0``..``m2``; ``zpkg`` itself is imported, the submodules are not.
    ``sys.path``, the finder cache and ``sys.modules`` are restored."""
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "NAME = 'zpkg'\n")
        for i in range(3):
            zf.writestr(f"zpkg/m{i}.py", f"VALUE = {i}\n")
    saved_path = sys.path[:]
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        importlib.invalidate_caches()
        importlib.import_module("zpkg")
        assert _zip_finders(), "the zip import made no zipimporter"
        yield str(archive)
    finally:
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(str(archive), None)


def _count_archive_reads(monkeypatch):
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _assert_finders_dropped(monkeypatch, submodule: str, value: int):
    reads = _count_archive_reads(monkeypatch)
    assert _zip_finders() == []
    importlib.invalidate_caches()  # what the next Spark task runs first
    assert importlib.import_module(f"zpkg.{submodule}").VALUE == value
    # the import re-made the finder from zipimport's in-memory directory
    assert reads == []
    monkeypatch.undo()


def test_undecorated_task_leaves_archives_to_reread(zipped_package, monkeypatch):
    reads = _count_archive_reads(monkeypatch)
    importlib.invalidate_caches()
    assert zipped_package in reads


def test_decorated_generator_drops_zip_finders_on_every_exit(
    zipped_package, monkeypatch
):
    @drops_zip_finders
    def task(batches):
        for b in batches:
            if b == "boom":
                raise ValueError(b)
            yield b * 2

    # Each case starts with the finder the previous import made.
    assert list(task([1, 2, 3])) == [2, 4, 6]  # exhaustion
    _assert_finders_dropped(monkeypatch, "m0", 0)

    assert _zip_finders()
    it = task([1, 2, 3])
    assert next(it) == 2
    it.close()  # early close
    _assert_finders_dropped(monkeypatch, "m1", 1)

    assert _zip_finders()
    with pytest.raises(ValueError, match="boom"):  # raise
        list(task([1, "boom"]))
    _assert_finders_dropped(monkeypatch, "m2", 2)


def test_arrow_udf_still_infers_the_iterator_form():
    from collections.abc import Iterator

    import pyarrow as pa
    from pyspark.sql import functions as F, types as T
    from pyspark.util import PythonEvalType

    @drops_zip_finders
    def shard(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        yield from batches

    assert F.arrow_udf(shard, T.IntegerType()).evalType == PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF


def test_warm_worker_task_starts_without_zip_finders(spark):
    import os
    import time

    import pyarrow as pa

    @drops_zip_finders
    def probe(batches):
        at_entry = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        row = {"pid": os.getpid(), "t": time.monotonic(), "zips": at_entry}
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([row])

    # 2 x 32 tasks on local[4]: a worker pool smaller than that must run
    # some worker more than once. local[N] may also start a fresh worker,
    # whose first task still pays one re-read, so compare by pid.
    frame = spark.range(0, 256, 1, 32)
    tasks = []
    for _ in range(2):
        tasks += frame.mapInArrow(probe, "pid long, t double, zips long").collect()
    by_pid: dict = {}
    for row in sorted(tasks, key=lambda r: r.t):
        by_pid.setdefault(row.pid, []).append(row.zips)
    warm = [z for zips in by_pid.values() for z in zips[1:]]
    assert warm, by_pid
    assert warm == [0] * len(warm), by_pid


ROUND_TRIP_MODULES = ("sinks/tfrecord.py", "sources/tfrecord.py", "operators/image.py")
UDF_ENTRY_POINTS = ("mapInArrow", "mapInPandas", "arrow_udf")


def test_every_round_trip_udf_drops_zip_finders():
    """Source guard: a new Python UDF on the round trip must carry
    ``@drops_zip_finders``, or every task of it re-reads the archives."""
    checked = []
    for rel in ROUND_TRIP_MODULES:
        tree = ast.parse((PKG / rel).read_text())
        defs = {
            node.name: node
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callee = node.func
            name = callee.attr if isinstance(callee, ast.Attribute) else getattr(callee, "id", None)
            if name not in UDF_ENTRY_POINTS:
                continue
            arg = node.args[0] if node.args else None
            where = f"{rel}:{node.lineno} {name}"
            assert isinstance(arg, ast.Name) and arg.id in defs, (
                f"{where}: pass a named function decorated with @drops_zip_finders"
            )
            decorators = [ast.unparse(d) for d in defs[arg.id].decorator_list]
            assert "drops_zip_finders" in decorators, f"{where}({arg.id}) is not decorated"
            checked.append(arg.id)
    assert {"encode_batches", "write_partition", "shard", "parse", "extract"} <= set(
        checked
    ), checked
