"""Per-process preparation of a Spark Python worker.

Every ``format("tiledb")`` split, write task, commit and planning call
runs in a Spark Python worker, so a fixed cost per task is paid once per
split.  Two such costs dominate a reused worker (``pyspark.daemon``;
CPU times measured on a 4-core host):

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` before every task.  On CPython < 3.12
  that eagerly re-reads the central directory of every archive with a
  cached ``zipimporter`` — 16 importers, ~27k entries over pyspark.zip,
  the spark-core jar and py4j, 160-270 ms per task.  CPython 3.12 made that invalidation
  lazy, so the fix below is gated on ``sys.version_info < (3, 12)``.
- ``pyspark.daemon`` runs ``gc.collect()`` after every task, 40-55 ms
  spent rescanning the import-time heap (pyspark, pyarrow, pandas, this
  library).

``prepare()`` acts only inside a worker (``SparkFiles._is_running_on_worker``,
which ``setup_spark_files`` sets before the task's command, and so this
library, is unpickled):

- an archive's directory is re-read only when its ``os.stat`` stamp
  changed since its last read; a changed archive is still re-read, so
  import semantics are unchanged;
- ``gc.freeze()`` moves the import-time heap to the permanent
  generation.  Bound: objects alive at that point are never
  cycle-collected — module-level objects that live as long as the
  process anyway, plus at most one task's in-flight objects, once per
  worker process.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> os.stat stamp taken before its last read


def _invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        _stdlib_invalidate(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


def prepare() -> None:
    """Cut the fixed per-task cost of this Spark Python worker; a no-op
    anywhere else (the driver, plain Python)."""
    spark_files = sys.modules.get("pyspark.core.files")
    if spark_files is None or not spark_files.SparkFiles._is_running_on_worker:
        return
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    gc.freeze()
