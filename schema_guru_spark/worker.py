"""The one wrapper for every function the package hands to Spark's Python
workers (``worker_fn``), and the per-task cost it removes.

A reused Python worker starts each task with pyspark's
``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before Python 3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` read its
archive's central directory again. A warmed worker holds one importer
per package directory it imported from inside a zip: a dozen over
``pyspark.zip`` (1,328 entries each), more over py4j and over any jar
on the path, about 26k entries in all. On a 4-core host that re-read
cost 0.1-0.45 s at the start of every scan task of the validation job,
more than the task's own kernel work. ``worker_fn`` drops those
importers as the task's function starts, so the next task's
``invalidate_caches()`` finds nothing to re-read.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport


def drop_zip_importers() -> None:
    """Delete every ``zipimport.zipimporter`` from
    ``sys.path_importer_cache``.

    Safe because that dict is only a cache: a later import through one
    of those path entries builds a new importer from
    ``zipimport._zip_directory_cache``, without reading the archive
    again, and modules already imported keep their loaders.

    A no-op on Python >= 3.12, where ``zipimporter.invalidate_caches``
    no longer re-reads the archive but only marks it for a lazy re-read
    (CPython gh-103200)."""
    if sys.version_info >= (3, 12):
        return
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def worker_fn(fn):
    """``fn``, calling ``drop_zip_importers`` first. Wrap with it every
    function passed to ``mapInPandas``, ``applyInPandas``,
    ``applyInPandasWithState`` or ``pandas_udf``.

    The wrapper keeps ``fn``'s signature in ``__signature__``: the
    grouped-map worker reads it with ``inspect.getfullargspec``, which
    does not follow ``__wrapped__``, to choose between ``fn(pdf)`` and
    ``fn(key, pdf)``."""
    @functools.wraps(fn)
    def run(*args, **kwargs):
        drop_zip_importers()
        return fn(*args, **kwargs)

    run.__signature__ = inspect.signature(fn)
    return run
