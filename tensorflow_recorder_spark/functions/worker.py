"""Per-task upkeep of a Python worker for the round trip's UDFs.

Every Python task starts in pyspark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.11
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive, once for each zipimporter in ``sys.path_importer_cache``. A
warm worker holds about 16 of them: ``pyspark.zip`` and its package
directories (1,328 entries, ~10 ms each), the ``spark-core`` jar on the
worker's PYTHONPATH (5,359 entries, ~45 ms each) and the py4j zip. That is
0.13-0.26 s of worker CPU at the start of every task, for each Python UDF
node of a plan.

:func:`forget_zip_finders` deletes those cache entries (the cache is
documented as clearable), and :func:`drops_zip_finders` runs it when an
iterator UDF ends, so the next task's ``invalidate_caches()`` finds no
archive to re-read. A later import re-creates a finder from zipimport's
in-memory directory cache without reading the archive again. FileFinder
entries are kept, so a file shipped with ``addPyFile`` still becomes
importable. A worker's first task still pays one re-read.

The one narrowing: an archive rewritten in place at the same path during
a worker's life is not re-read, so its new members stay unseen. Spark
refuses to overwrite an added file unless ``spark.files.overwrite`` is
set.
"""

from __future__ import annotations

import functools
import sys
import zipimport
from collections.abc import Callable, Iterator


def forget_zip_finders() -> None:
    """Delete every ``zipimport.zipimporter`` from ``sys.path_importer_cache``."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)


def drops_zip_finders(udf: Callable[[Iterator], Iterator]) -> Callable[[Iterator], Iterator]:
    """Decorate an iterator UDF so that :func:`forget_zip_finders` runs
    when its iterator is exhausted, closed early or raises.

    The wrapper takes the one iterator argument every iterator UDF takes,
    and ``functools.wraps`` copies the type hints, so ``F.arrow_udf``
    still infers the iterator form from them.
    """

    @functools.wraps(udf)
    def wrapper(batches):
        try:
            yield from udf(batches)
        finally:
            forget_zip_finders()

    return wrapper
