"""Drop-in ``spark.python.daemon.module``: warm, patched worker forks.

The stock worker lifecycle has three fixed costs this engine keeps
paying at every scale (measured r17, local[32], Spark 4.1, CPython
3.11):

- **Respawn imports.** ``PythonWorkerFactory`` kills workers idle for
  more than one minute (``IDLE_WORKER_TIMEOUT_NS`` — hardcoded, not a
  conf), and the stock daemon process imports almost nothing, so every
  respawned fork re-imports numpy + pandas + pyarrow from scratch:
  ~0.6 CPU-s per worker, ~20 CPU-s per 32-worker wave. A bench/driver
  run interleaves long JVM-only stretches with Python stages, so the
  pool is reaped and respawned repeatedly (visible as multi-second
  ``py_cpu_s`` on whichever key runs after a JVM-only stretch).
- **Per-task zip re-scan, ~115 ms/task.**
  ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` once per task, and CPython 3.11's
  ``zipimport.zipimporter.invalidate_caches`` EAGERLY re-reads the zip
  central directory — so the ~107k-entry ``pyspark.zip`` plus the py4j
  zip on every worker's ``sys.path`` are re-parsed on every task (the
  profile shows ``zipimport._read_directory`` dominating worker main).
- **Per-task full gc, ~40 ms/task.** The daemon loop runs a full
  ``gc.collect()`` after every task over the worker's ~73k-object
  import baseline.

Together the last two cost every Python-touching task ~150 ms of
worker CPU whatever its eval type and data size (a 32-task passthrough
``mapInArrow`` stage: ~5.0 Python-CPU-s doing nothing, ~0.1 here).

This module wraps the stock ``pyspark.daemon`` so the DAEMON process,
once, before the first fork: pre-imports the heavy libraries, the
worker main loop and the operator surface; replaces
``invalidate_caches`` with a no-op on the zipimporters cached so far
(the distro zips are immutable for the life of the application; a zip
added later by ``addPyFile`` gets a fresh finder that still
invalidates); and ``gc.freeze()``s the live heap, so the per-task
collect scans only objects allocated after the fork. Every worker
inherits all three by fork copy-on-write and never freezes again, so
no cycle a task leaves behind is pinned. The freeze also keeps the
~150 MB import baseline physically shared: without it, the first full
gc in a fork walks every inherited object's gc header and
copy-on-write-unshares the whole heap.

This is the only home of the fast path. ``session.build_session`` sets
the conf only for a ``local*`` master whose workers can import this
package from a directory; anywhere else workers run stock PySpark,
correct but without the per-task saving (a cluster deploy that
pip-installs the package can opt in by setting the conf itself). Each
``_prewarm`` step is guarded: a missing optional library degrades to
the stock behavior, never a dead daemon.

Launch protocol note: ``pyspark.daemon`` resolves the WORKER module
from ``sys.argv[1]`` at its own import time (the factory launches
``python -m <daemon.module> <worker.module>``), so importing it below
— after the pre-warm — preserves the stock worker-module dispatch,
including the separate Python-data-source worker modules.
"""

from __future__ import annotations

import gc
import sys
import zipimport


def _prewarm() -> None:
    try:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except Exception:  # pragma: no cover - optional libs must not kill the daemon
        pass
    try:
        import pyspark.sql.pandas.serializers  # noqa: F401
        import pyspark.worker  # noqa: F401
    except Exception:  # pragma: no cover
        pass
    try:
        # Pre-import the whole operator surface (~0.1 CPU-s once) so a
        # fork's first by-reference unpickle finds every kernel module
        # already in sys.modules — otherwise each of 32 workers pays
        # the import on its first task (~3-4 CPU-s per wave, visible as
        # first-exec py_cpu on whichever Arrow key runs first).
        from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all

        load_all()
    except Exception:  # pragma: no cover
        pass
    try:
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches = lambda: None
    except Exception:  # pragma: no cover
        pass
    gc.freeze()


_prewarm()

from pyspark.daemon import manager  # noqa: E402  (import order is the point)

if __name__ == "__main__":
    manager()
