"""Materialization point for small derived tables with multiple
consumers (KN pattern tables, tfidf term tables, repeated-ngram /
line-dedup collapses, surprisal count tables).

Why it exists: each consumer branch of such a table prunes/pushes
different columns and filters into the aggregate, so the branches'
exchange subtrees canonicalize differently and neither plan-time
``ReuseExchange`` nor AQE runtime stage reuse dedups them — without a
materialization point the corpus-sized scan+tokenize+explode lineage
re-executes once PER consumer.  Materializing the (much smaller)
derived table truncates the plan there and every branch reads the
stored blocks instead.

Mechanism: ``persist(MEMORY_AND_DISK)``.  The table lands in Spark's
columnar compressed in-memory cache (``InMemoryTableScan`` in the
plan), which at sf10 read ~2x faster than the row-format executor
blocks a local checkpoint writes (interleaved A/B, kn_ppl median
19.6 s persist vs 38.6 s lazy checkpoint vs 43.4 s eager checkpoint;
kn3_ppl 38.9 vs 53.6 s; line_dedup parity).  The cached lineage stays
recomputable — an executor loss recomputes the lost partitions — and
no job runs at DataFrame-build time.

One policy, library-owned entries:

- SALTED PER BUILD.  Each call tags its table with a no-op filter
  ``lit(n) == lit(n)`` (``n`` from a process-wide counter) before
  persisting.  Spark's CacheManager matches cached plans structurally,
  and the salt makes every build's plan unique, so a rebuild of the
  same operator never adopts an earlier build's blocks (it recomputes
  from its sources — the cross-run honesty rule the bench contract
  requires, pinned by ``test_materialize_rebuild_recomputes``), and a
  table the CALLER cached is never matched or evicted.  The optimizer
  folds the filter away, so the cached table and its consumers' plans
  are otherwise unchanged.
- BOUNDED.  The library keeps its entries in a FIFO and unpersists the
  oldest (non-blocking) once more than ``_MAX_ENTRIES`` are live.
  Eight is the number of call sites, and each operator build
  materializes one table, so a plan composing every materializing
  operator keeps all of its tables.  Entries of a stopped session are
  dropped without an unpersist.  Trade-off: if one plan builds more
  than eight materializing operators before its first action, the
  oldest table is evicted before it is read and its lineage recomputes
  once per consumer — slower, with the same results.

``stats`` counts ``py.mat.materialized`` and ``py.mat.evicted``; their
difference is the number of live entries.
"""

from __future__ import annotations

import itertools
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..stats import record

_MAX_ENTRIES = 8
_lock = threading.Lock()
_salt = itertools.count()  # next() is one atomic C call
_entries: list = []  # library-owned persisted tables, oldest first


def materialize(df: DataFrame) -> DataFrame:
    """Persist a small multi-consumer derived table under a per-build
    salt and register it in the bounded library FIFO (see module
    docstring).  Returns the persisted DataFrame."""
    n = next(_salt)
    out = df.filter(F.lit(n) == F.lit(n)).persist(StorageLevel.MEMORY_AND_DISK)
    record("py.mat.materialized")
    with _lock:
        # a stopped session's context drops its _jsc (and its cache)
        live = [d for d in _entries
                if d.sparkSession.sparkContext._jsc is not None] + [out]
        dropped = len(_entries) + 1 - len(live)
        evict = live[:-_MAX_ENTRIES]
        _entries[:] = live[-_MAX_ENTRIES:]
    for d in evict:
        d.unpersist(blocking=False)
    record("py.mat.evicted", dropped + len(evict))
    return out
