"""Lazy zip-directory invalidation for Spark Python workers (CPython < 3.13).

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13, each
cached ``zipimport.zipimporter`` answers that by re-reading its archive's
file table on the spot, and a worker holds one importer per pyspark.zip
directory it has imported from (16 on Spark 4.1), so every task re-reads
the same zip directory 16 times (~13 ms each).  CPython 3.13 only drops
the archive's entry from the shared ``_zip_directory_cache``; the table is
re-read on next use, once per archive for all of its importers.
``install`` gives older ``zipimporter``s that behaviour.  As on 3.13,
code that reads ``zipimport._zip_directory_cache`` directly (``pkgutil``'s
module listing of a zip entry) finds no entry between an invalidation and
the next lookup through an importer.

It is installed only inside a Spark Python worker (``in_spark_worker``):
by the daemon of a local ``get_spark`` session (``pprl_spark._daemon``),
before it forks any worker, and otherwise by any worker that unpickles
one of this package's UDFs, for the tasks that follow.
``in_spark_worker`` also gates the rest of the package's worker-only
set-up, in ``pprl_spark/__init__.py``, which holds on every CPython.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _files(self) -> dict:
    # CPython 3.13's zipimporter._get_files
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self) -> None:
    zipimport._zip_directory_cache.pop(self.archive, None)


def in_spark_worker() -> bool:
    """True in a Spark Python worker, False on the driver.  Spark hands a
    worker ``PYTHON_WORKER_FACTORY_SECRET`` when it connects over TCP, and
    ``PYTHON_UNIX_DOMAIN_ENABLED`` (without the secret; Spark 4.1 writes
    ``True``, read case-blind as ``pyspark.daemon`` does) when
    ``spark.python.unix.domain.socket.enabled`` is set; the driver gets
    neither."""
    return (
        "PYTHON_WORKER_FACTORY_SECRET" in os.environ
        or os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "false").lower() == "true"
    )


def install() -> bool:
    """Patch ``zipimport.zipimporter`` in a Spark worker on CPython < 3.13;
    True if the patch is (now) in place.  Idempotent."""
    if sys.version_info >= (3, 13) or not in_spark_worker():
        return False
    cls = zipimport.zipimporter
    if cls.invalidate_caches is not _invalidate_caches:
        # every reader of the table goes through ``self._files``; the
        # property shadows the copy each importer holds in its __dict__.
        # __init__ assigns the table it has just cached, so the setter
        # drops it: the shared cache is the only copy.
        cls._files = property(_files, lambda self, files: None)
        cls.invalidate_caches = _invalidate_caches
    return True
