"""Python worker daemon: re-reads a zip on sys.path only when it changed, and
forks workers from a frozen heap.

Spark forks every Python worker of an executor (pandas / Arrow UDFs,
mapInPandas, mapInArrow, applyInPandas) from one daemon process. Two fixed
costs of every task come from the stock daemon, whatever the task's row
count:

* At the start of every task the worker calls ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``), and each ``zipimporter`` in
  ``sys.path_importer_cache`` answers by re-parsing its archive's central
  directory: pyspark.zip (1328 entries) and the py4j zip, once for every
  package imported from them. On CPython 3.11 one such call cost 0.138
  CPU-s. Here ``zipimporter.invalidate_caches`` re-reads an archive only when
  its ``os.stat`` stamp (mtime_ns, size, inode) differs from the stamp of
  its last read, so a zip that changes on disk is still re-read. The daemon
  reads every archive once before ``pyspark.daemon.manager()`` forks the
  workers, which inherit the stamps.
* After every task a reused worker runs ``gc.collect()``
  (``pyspark.daemon.manager``), a full collection that walks every
  GC-tracked object of the worker: with pyspark, pandas, pyarrow and numpy
  imported, ~74k objects and 31-38 ms of CPU per task. ``freeze_heap``
  imports what every Arrow task imports and then calls ``gc.freeze()``
  before the fork (CPython's documented pre-fork recipe): the collections
  in a worker then walk only the objects created after the fork (~1.2k
  after a spine or curate task) and still reclaim every cycle a task
  creates.

``session.get_spark`` selects this module with ``spark.python.daemon.module``
(Spark starts it as ``python -m imposm2_spark.worker_daemon <worker module>``),
so executors must be able to import ``imposm2_spark`` when the daemon starts.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> os.stat stamp of the archive when its directory was last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an archive
    whose stamp matches the last read. Every importer of one archive shares
    the directory that read left in zipimport's cache."""
    # stat before reading: a write that lands during the read changes the
    # stamp again, so the next call re-reads
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed


def freeze_heap() -> None:
    """Import what every Arrow task imports, then move every object the
    process tracks into the collector's permanent generation, so the
    collections of the forked workers skip the shared import heap."""
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    gc.freeze()


if __name__ == "__main__":
    install()
    # importing the daemon imports the worker module, and with it the
    # importers of every archive the workers use; read each archive once here
    # so the forked workers inherit its stamp
    from pyspark import daemon

    importlib.invalidate_caches()
    freeze_heap()
    daemon.manager()
