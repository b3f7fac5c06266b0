"""Once-per-process setup of the Python workers that run engine code.

Spark reuses a Python worker for many tasks.  ``prepare_worker`` removes
two costs that otherwise recur in every task (measured on a 4-core host,
local[4], the perfbench heavy_pages documents).  It runs when this module
is imported inside a Spark task: ``spark/extract.py`` and
``spark/corpus.py`` import it, and a worker imports them while it
unpickles the first extraction or ingest function it runs (cloudpickle
pickles a module-level function by reference, also when a closure names
it, and unpickling it imports its module).  By then pyspark, pyarrow and
the kernel are imported; pandas is not (no module of the package imports
it).  The textops folds import their own modules and ``spark.session``,
not this one, so a worker that only ever runs folds stays unprepared.
Imported anywhere else (the driver, a test process) it changes nothing.

- **Zip directory re-reads.**  Before each task,
  ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``.  On CPython < 3.13 that makes every
  cached ``zipimporter`` re-read its archive's whole directory, and an
  extraction worker holds 16 of them (one per package directory imported
  from ``pyspark.zip`` and the py4j zip), at ~8 ms of CPU each per task
  before any engine code runs.  CPython 3.13 drops the cached directory and
  re-reads it lazily, so the hook is installed below 3.13 only.  It
  re-reads an archive when its ``(st_mtime_ns, st_size, st_ino)`` changed
  since the last read, so a zip rewritten in place is still picked up.
- **GC rescans of the import heap.**  A worker tracks ~43k objects after
  importing pyspark, pyarrow and the engine (~74k while the engine still
  imported pandas; ``gc.get_freeze_count()`` inside a task), and every full
  collection triggered while a 50-300 KB page's DOM is built rescanned
  them.  ``gc.freeze()`` moves that heap into the permanent generation,
  which collections skip: heavy_pages ``cpu_s_per_kdoc`` fell 586 -> 513
  against the stat-gated hook alone (lower in 21 of 22 alternating pairs).
  Since each document's DOM is released by refcounting
  (``kernel.dom.release``), full collections are rare and the freeze
  saves less: over the 8 pages in-process (two runs each, after the
  imports a worker makes), GC pauses went 0.08-0.11 -> 0.04-0.05 s with
  the freeze, for kernel CPU of 0.88-1.23 s (before the release:
  0.30-0.33 -> 0.18-0.23 s of 1.52-1.77 s).  Freeze once per process,
  never per task: a later freeze would pin that task's cyclic garbage
  for the life of the worker.  Disabling GC per document instead raised the
  tracemalloc peak of a retry-heavy link farm from 84 to 128 MB.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark import TaskContext

EAGER_ZIP_REREAD = sys.version_info < (3, 13)

_prepared = False
_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat signature, directory read at that signature)
_zip_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def prepare_worker() -> None:
    """Set up the current Python worker process for engine tasks.  A no-op
    outside a Spark task and on every call after the first in a process."""
    global _prepared
    if _prepared or TaskContext.get() is None:
        return
    _prepared = True
    if EAGER_ZIP_REREAD:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    gc.freeze()


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since its last read here.
    Importers of one archive (one per package directory inside it) share
    that read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _zip_reads.get(self.archive)
    if seen is not None and seen[0] == sig:
        self._files = seen[1]
        return
    _stock_invalidate(self)
    _zip_reads[self.archive] = (sig, self._files)


prepare_worker()
