"""Lazy zip-directory cache for CPython < 3.13 (backport of 3.13's
``zipimport``).

Every call into a Spark Python worker — data-source planning
(``create_data_source``, filter pushdown + partitioning) and every
executor read — runs pyspark's ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  Up to CPython 3.12 each
``zipimporter`` answers that by re-reading its archive's whole central
directory on the spot.  A pyspark worker holds about 17 importers over
``pyspark.zip``, the spark-core jar and the py4j zip (~28k entries), so
each worker call paid about 0.2 s before it ran any package code — the
bulk of a pruned ``Engine.sql`` statement's latency.

CPython 3.13 made the re-read lazy: ``invalidate_caches()`` only drops
the archive's entry from ``_zip_directory_cache`` and the next lookup
re-reads it, once for all importers over that archive.  :func:`install`
applies exactly that behaviour to the running interpreter's
``zipimporter`` class.  It runs when the package is imported, so on the
driver and in every worker that unpickles package code.

One 3.13 trait comes along: ``pkgutil.iter_modules`` over a zip path
indexes ``_zip_directory_cache`` directly, so it raises ``KeyError``
between an invalidation and the next lookup in that archive.  Neither
the package nor the pyspark worker modules that load it do that;
pyspark's ``lookup_data_sources`` planner does, but it runs in its own
worker pool, which never imports the package.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self):
    """The archive's directory, re-read on first use after an
    invalidation; ``{}`` (not cached) when the archive is unreadable."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files):
    # 3.11's __init__ assigns ``self._files`` after filling the shared
    # cache; the property reads that cache, so the assignment is moot.
    pass


def _invalidate_caches(self):
    """Invalidates the cache of file data of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make ``zipimporter`` directory reads lazy on CPython < 3.13
    (idempotent).  The property is a data descriptor, so it also
    shadows the ``_files`` attribute of importers created earlier."""
    if installed():
        return
    cls = zipimport.zipimporter
    cls._files = property(_get_files, _set_files)
    cls.invalidate_caches = _invalidate_caches


def installed() -> bool:
    """Whether ``zipimporter`` re-reads archive directories lazily."""
    return sys.version_info >= (3, 13) or isinstance(
        zipimport.zipimporter.__dict__.get("_files"), property
    )
